"""Golden crawl output for the crawl workloads, and the comparator.

The golden state is ``tests.oracle.run_oracle`` — the sequential
reference-semantics crawler — run unmodified. Its traversal calls the
pandas kernels one URL at a time, which costs about 47 ms per page on a
4-core box (94 s for a 2,000-page fixture under cProfile), longer than a
whole benchmark run. ``golden_state`` therefore serves those calls from
tables filled by one batched pass of the SAME kernels over every page of
the fixture. The kernels are row-wise (a row's output depends on that row
only), so the served values are the values the per-URL calls would
compute; ``test_perfbench.py`` pins golden_state equal to the plain
run_oracle on a small fixture. A key the batched pass did not see falls
through to the real kernel.

The result is cached per workload key as JSON under ``.bench_data/``.
"""

from __future__ import annotations

import contextlib
import json
import os
import types

import pandas as pd

from crabspark import extract, robots as robotsmod, urlkit


class _RowMemo:
    """Serve a row-wise Series kernel from a dict; compute misses in one
    batched call of the real kernel."""

    def __init__(self, fn, n_args: int = 1):
        self.fn = fn
        self.n_args = n_args
        self.table: dict = {}
        self.columns: list | None = None

    def fill(self, *cols) -> None:
        keys = list(zip(*cols)) if self.n_args > 1 else list(cols[0])
        missing = list(dict.fromkeys(k for k in keys if k not in self.table))
        if not missing:
            return
        if self.n_args > 1:
            args = [pd.Series([k[i] for k in missing], dtype=object)
                    for i in range(self.n_args)]
        else:
            args = [pd.Series(missing, dtype=object)]
        out = self.fn(*args)
        rows = (
            list(out.itertuples(index=False, name=None))
            if isinstance(out, pd.DataFrame) else list(out)
        )
        self.table.update(zip(missing, rows))
        if isinstance(out, pd.DataFrame):
            self.columns = list(out.columns)

    def __call__(self, *series):
        cols = [list(s) for s in series]
        self.fill(*cols)
        keys = list(zip(*cols)) if self.n_args > 1 else cols[0]
        vals = [self.table[k] for k in keys]
        if self.columns is not None:
            return {c: _Col(v) for c, v in zip(self.columns, zip(*vals))} \
                if vals else {c: _Col() for c in self.columns}
        return _Col(vals)


class _Col(list):
    """The part of a pandas Series the oracle reads (iteration, ``len``
    and ``.iloc[i]``), without the cost of building one per URL."""

    @property
    def iloc(self):
        return self


@contextlib.contextmanager
def batched_kernels(pages: pd.DataFrame, robots_df: pd.DataFrame, cfg):
    """Patch the oracle module's kernel references with memo tables filled
    from one batched pass over the fixture; restore them on exit."""
    from tests import oracle as omod

    links = _RowMemo(extract.extract_links)
    text = _RowMemo(extract.extract_text)
    resolve = _RowMemo(urlkit.resolve_links, n_args=2)
    parse = _RowMemo(urlkit.parse_serialize)
    canon = _RowMemo(urlkit.canonicalize)
    name = _RowMemo(extract.image_name)

    html = list(pages["html"])
    links.fill(html)
    text.fill(html)
    hrefs, refs = [], []
    for url, h in zip(pages["url"], html):
        ll, il = links.table[h]
        for href in list(ll) + list(il):
            hrefs.append(href)
            refs.append(url)
    resolve.fill(hrefs, refs)
    resolved = [resolve.table[k] for k in zip(hrefs, refs)]
    parse.fill(resolved)
    sers = [parse.table[r][0] for r in resolved]
    sers = [s for s in sers if s is not None]
    canon.fill(list(pages["url"]) + sers)
    name.fill(sers)

    rules = robotsmod.build_host_rules(
        dict(zip(robots_df["host"], robots_df["robots_txt"])), cfg.user_agents
    )
    blocked = _RowMemo(
        lambda s, h: robotsmod.blocked_mask(s, h, rules), n_args=2
    )
    blocked.fill(sers, [parse.table[r][1] for r in resolved
                        if parse.table[r][0] is not None])

    # the oracle passes its own cfg's domain lists, i.e. these
    valid = _RowMemo(lambda d: urlkit.valid_mask(
        d, cfg.permitted_domains, cfg.blacklist_domains, cfg.free_crawl))
    shim_urlkit = types.SimpleNamespace(
        resolve_links=resolve, parse_serialize=parse,
        valid_mask=lambda domain, *_: valid(domain), canonicalize=canon,
    )
    shim_extract = types.SimpleNamespace(
        extract_text=text, extract_links=links, image_name=name,
    )

    def robots_blocked(self, ser, host):
        blocked.fill([ser], [host])
        return bool(blocked.table[(ser, host)])

    def canon1(url):
        canon.fill([url])
        return canon.table[url]

    saved = (omod.urlkit, omod.extract, omod._canon1,
             omod.Oracle._robots_blocked)
    omod.urlkit, omod.extract, omod._canon1 = shim_urlkit, shim_extract, canon1
    omod.Oracle._robots_blocked = robots_blocked
    try:
        yield
    finally:
        (omod.urlkit, omod.extract, omod._canon1,
         omod.Oracle._robots_blocked) = saved


def state_of(result) -> dict:
    """The compared subset of an OracleResult, as JSON-ready data."""
    return {
        "visited": {
            u: [bool(r["is_blocked"]), bool(r["is_complete"])]
            for u, r in result.visited.items()
        },
        "seen": sorted(result.seen),
        "texts": dict(result.texts),
    }


def golden_state(pages, robots_df, assets, cfg) -> dict:
    from tests.oracle import run_oracle

    with batched_kernels(pages, robots_df, cfg):
        return state_of(run_oracle(pages, robots_df, cfg, assets))


def cached_golden(path: str, pages, robots_df, assets, cfg) -> dict:
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    state = golden_state(pages, robots_df, assets, cfg)
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(state, f)
    os.replace(tmp, path)
    return state


def engine_state(engine) -> dict:
    """The same subset read back from a finished crawl's catalog."""
    visited = {
        r["url"]: [bool(r["is_blocked"]), bool(r["is_complete"])]
        for r in engine.read_visited().collect()
    }
    seen = sorted(r["url"] for r in engine.read_seen().collect())
    fetched = engine.catalog.read("fetched")
    texts = (
        {r["url"]: r["text"] for r in fetched.select("url", "text").collect()}
        if fetched is not None else {}
    )
    return {"visited": visited, "seen": seen, "texts": texts}


def diff_states(got: dict, want: dict) -> list[str]:
    """Every way ``got`` differs from ``want``; empty when they agree as
    sets (visited with blocked/complete flags, seen set, per-URL text)."""
    out: list[str] = []
    gv, wv = got["visited"], want["visited"]
    for u in sorted(set(gv) ^ set(wv)):
        out.append(f"visited set: {u} {'extra' if u in gv else 'missing'}")
    for u in sorted(set(gv) & set(wv)):
        if list(gv[u]) != list(wv[u]):
            out.append(f"visited flags (blocked, complete): {u} "
                       f"{list(gv[u])} != {list(wv[u])}")
    gs, ws = set(got["seen"]), set(want["seen"])
    for u in sorted(gs ^ ws):
        out.append(f"seen set: {u} {'extra' if u in gs else 'missing'}")
    gt, wt = got["texts"], want["texts"]
    for u in sorted(set(gt) | set(wt)):
        if gt.get(u) != wt.get(u):
            out.append(f"text: {u}")
    return out

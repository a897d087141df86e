"""Per-layer metrics of one traced crawl (``--trace 1``).

Walls come from the tracer's marks and spans (trace.py), Spark work from
the status store, table and bloom sizes from the finished catalog, and
the Python kernels are timed in this process on the workload's own pages,
in batches the size of the engine's Arrow batches.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pandas as pd

from perfbench import trace


def _disk(root: str) -> tuple[int, int]:
    size = files = 0
    for d, _, names in os.walk(root):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += 1
    return size, files


def _per_row_us(fn, batches: list[tuple], repeats: int = 3) -> float:
    """Median over ``repeats`` passes of one pass's µs per input row."""
    rows = sum(len(b[0]) for b in batches)
    passes = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        for b in batches:
            fn(*b)
        passes.append((time.perf_counter() - t0) * 1e6 / rows)
    return statistics.median(passes)


def _chunks(cols: list[pd.Series], size: int) -> list[tuple]:
    n = len(cols[0])
    return [tuple(c.iloc[i:i + size].reset_index(drop=True) for c in cols)
            for i in range(0, n, size)]


def kernel_timings(fx: str, cfg, bloom) -> dict:
    """µs per row of each pipeline kernel on the fixture's pages: the
    fused page extractor, the resolve/validate/canonicalize/sha1 chain
    behind ``udfs.resolve_full_udf``, the robots judge behind
    ``udfs.blocked_join_udf`` and the bloom probe."""
    from crabspark import extract, udfs

    size = cfg.arrow_max_records_per_batch
    pages = pd.read_parquet(os.path.join(fx, "pages.parquet"))
    robots = pd.read_parquet(os.path.join(fx, "robots.parquet"))
    out = {"pages": len(pages)}
    out["extract_us"] = _per_row_us(
        extract.extract_page, _chunks([pages["html"]], size))

    pg = extract.extract_page(pages["html"])
    hrefs, refs = [], []
    for url, ll, il in zip(pages["url"], pg["link_links"], pg["img_links"]):
        for h in list(ll) + list(il):
            hrefs.append(h)
            refs.append(url)
    links = [pd.Series(hrefs, dtype=object), pd.Series(refs, dtype=object)]
    resolve = udfs.resolve_full_udf(
        cfg.permitted_domains, cfg.blacklist_domains, cfg.free_crawl).func
    out["links"] = len(hrefs)
    out["resolve_us"] = _per_row_us(resolve, _chunks(links, size))

    rf = resolve(*links)
    rf = rf[rf["valid"]].reset_index(drop=True)
    txt = dict(zip(robots["host"], robots["robots_txt"]))
    judge = [rf["ser"], rf["domain"],
             pd.Series([txt.get(h) for h in rf["domain"]], dtype=object)]
    blocked = udfs.blocked_join_udf(cfg.user_agents, cfg.respect_robots).func
    out["robots_us"] = _per_row_us(blocked, _chunks(judge, size))
    out["probe_us"] = _per_row_us(
        bloom.might_contain, _chunks([rf["sha1"].astype(str)], size))
    return out


def traced_crawl(crawler, cfg, want: dict, fx: str,
                 untraced_wall: float) -> tuple[dict, dict]:
    """One crawl under the tracer; returns its crawl record and the
    per-layer metrics as {name: (value, unit)}."""
    spark = crawler.spark
    tag = f"pb{os.getpid()}"
    facts: dict = {}

    def inspect_engine(eng, rec):
        facts["disk"] = _disk(eng.catalog.root)
        bits = np.unpackbits(eng.bloom.bits)
        facts["fill"] = float(bits.mean())
        facts["k"] = eng.bloom.k
        facts["snapshot_bytes"] = os.path.getsize(eng.catalog.extra("bloom"))
        m = eng.catalog.read("metrics").select("cand_n").toPandas()
        facts["judged"] = int(m["cand_n"].sum())
        facts["bloom"] = eng.bloom

    tracer = trace.Tracer(spark, tag)
    with tracer:
        rec = crawler.crawl(cfg, want, inspect_engine=inspect_engine)
    if rec["error"]:
        raise RuntimeError(f"traced crawl failed:\n{rec['error']}")
    counters = trace.spark_counters(spark, tag)
    k = kernel_timings(fx, cfg, facts["bloom"])

    marks = tracer.marks
    t_lo, t_hi = marks[0][0], marks[-1][0]
    spans = [s for s in tracer.spans if t_lo <= s.start and s.end <= t_hi]
    walls = trace.layer_walls(marks)
    rounds = trace.round_walls(marks)
    L = counters["layers"]
    py = counters["python"]
    visited = len(want["visited"])
    round_jobs = sum(L[x]["jobs"] for x in trace.LAYERS if x != "finalize")
    kernel_s = (k["extract_us"] * k["pages"] + k["resolve_us"] * k["links"]
                + k["robots_us"] * facts["judged"]) / 1e6
    size, files = facts["disk"]

    def n(name):
        return sum(1 for s in spans if s.name == name)

    def dur(*names):
        return sum(s.dur for s in spans if s.name in names)

    met = {
        "engine.rounds": (len(rounds), "count"),
        "engine.jobs_per_round": (round_jobs / max(1, len(rounds)), "count"),
        "engine.round_p50_s": (statistics.median(rounds), "s"),
        "engine.round_max_s": (max(rounds), "s"),
        "engine.select_s": (walls["select"], "s"),
        "engine.pipeline_s": (walls["pipeline"], "s"),
        "engine.emit_s": (walls["emit"], "s"),
        "engine.commit_s": (walls["commit"], "s"),
        "engine.write_s": (walls["emit"] + walls["commit"], "s"),
        "engine.maintenance_s": (walls["maintenance"], "s"),
        "engine.finalize_s": (walls["finalize"], "s"),
        "engine.finalize_jobs": (L["finalize"]["jobs"], "count"),
        "engine.layer_sum_share": (sum(walls.values()) / rec["wall_s"],
                                   "ratio"),
        "tables.commit_s": (dur("tables.commit"), "s"),
        "tables.read_s": (dur("tables.read"), "s"),
        "tables.append_s": (dur("tables.append", "tables.append_local"), "s"),
        "tables.append_jobs": (counters["span_jobs"].get("tables.append", 0),
                               "count"),
        "tables.compactions": (n("tables.compact"), "count"),
        "tables.bytes_on_disk": (size, "bytes"),
        "tables.bytes_per_url": (size / visited, "bytes"),
        "tables.files_on_disk": (files, "count"),
        "seen.add_s": (dur("seen.add"), "s"),
        "seen.save_s": (dur("seen.save"), "s"),
        "seen.probe_us_per_url": (k["probe_us"], "us"),
        "seen.bloom_fill": (facts["fill"], "ratio"),
        "seen.bloom_est_fpp": (facts["fill"] ** facts["k"], "ratio"),
        "seen.snapshot_bytes": (facts["snapshot_bytes"], "bytes"),
        "frontier.select_jobs": (L["select"]["jobs"], "count"),
        "frontier.select_shuffle_bytes": (L["select"]["shuffle_write_bytes"],
                                          "bytes"),
        "udfs.bytes_to_python": (py["bytes_to_python"], "bytes"),
        "udfs.bytes_from_python": (py["bytes_from_python"], "bytes"),
        "udfs.python_run_s": (py["python_run_s"], "s"),
        "udfs.worker_start_s": (py["worker_start_s"], "s"),
        "udfs.kernel_share": (kernel_s / py["python_run_s"]
                              if py["python_run_s"] else 0.0, "ratio"),
        "extract.us_per_page": (k["extract_us"], "us"),
        "urlkit.us_per_link": (k["resolve_us"], "us"),
        "robots.us_per_url": (k["robots_us"], "us"),
    }
    # commit is a driver-side manifest write: it runs no Spark job
    for layer in (x for x in trace.LAYERS if x != "commit"):
        met[f"spark.{layer}.executor_run_s"] = (L[layer]["executor_run_s"],
                                                "s")
        met[f"spark.{layer}.shuffle_write_bytes"] = (
            L[layer]["shuffle_write_bytes"], "bytes")
    met["spark.jvm_gc_s"] = (sum(L[x]["gc_s"] for x in trace.LAYERS), "s")
    met["spark.tasks"] = (sum(L[x]["tasks"] for x in trace.LAYERS), "count")
    met["trace.overhead_s"] = (tracer.self_s, "s")
    rec["traced_minus_untraced_s"] = rec["wall_s"] - untraced_wall
    rec["layer_walls"] = walls
    rec["round_walls"] = rounds
    rec["kernels"] = k
    rec["spark_layers"] = L
    rec["spans"] = len(tracer.spans)
    return rec, met

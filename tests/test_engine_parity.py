"""End-to-end engine-vs-oracle parity on the fixture web.

- dfs-parity mode (batch=1): exact visit ORDER, flags, referrers, seen set,
  byte-identical extracted text (the BASELINE.json invariants);
- throughput mode (BSP batches): same visited SET / flags / texts when the
  cap does not bite (order legitimately differs);
- kill-and-resume: interrupting after round k and resuming yields the same
  final tables as the uninterrupted run.

One engine run per mode (module-scoped) — each run is a full multi-round
Spark crawl, so tests share them.
"""

import pytest

from crabspark.config import Config
from crabspark.engine import Engine
from fixtures import gen_pages
from tests.oracle import run_oracle
from tests.sparkutil import get_spark

N_PAGES = 40
SMALL_CAP = 18


@pytest.fixture(scope="module")
def spark():
    return get_spark()


@pytest.fixture(scope="module")
def fixture_paths(tmp_path_factory):
    out = tmp_path_factory.mktemp("fixture")
    gen_pages.write(str(out), n_pages=N_PAGES, seed=42)
    return str(out)


def make_cfg(**over):
    cfg = Config.new()
    cfg.free_crawl = True
    cfg.blacklist_domains = ["evil.com"]
    cfg.seeds = [gen_pages.SEED_URL]
    cfg.max_urls_to_visit = 5000
    cfg.collect_images = True
    for k, v in over.items():
        setattr(cfg, k, v)
    return cfg


def new_engine(spark, fixture_paths, work, cfg):
    return Engine(
        spark, cfg, work,
        pages_path=f"{fixture_paths}/pages.parquet",
        robots_path=f"{fixture_paths}/robots.parquet",
    )


@pytest.fixture(scope="module")
def golden_small():
    data = gen_pages.generate(n_pages=N_PAGES, seed=42)
    return run_oracle(data["pages"], data["robots"], make_cfg(max_urls_to_visit=SMALL_CAP))


@pytest.fixture(scope="module")
def golden_full():
    data = gen_pages.generate(n_pages=N_PAGES, seed=42)
    return run_oracle(data["pages"], data["robots"], make_cfg())


@pytest.fixture(scope="module")
def dfs_engine(spark, fixture_paths, tmp_path_factory):
    cfg = make_cfg(scheduling="dfs-parity", max_urls_to_visit=SMALL_CAP)
    eng = new_engine(spark, fixture_paths, str(tmp_path_factory.mktemp("dfs")), cfg)
    eng.run()
    return eng


@pytest.fixture(scope="module")
def tp_engine(spark, fixture_paths, tmp_path_factory):
    cfg = make_cfg(scheduling="throughput", per_host_quota=4)
    eng = new_engine(spark, fixture_paths, str(tmp_path_factory.mktemp("tp")), cfg)
    eng.run()
    return eng


# --- dfs-parity: exact order + state ---

def test_dfs_parity_exact_order(dfs_engine, golden_small):
    log = [
        (r["url"], r["referrer"])
        for r in dfs_engine.visit_log().select("url", "referrer").collect()
    ]
    assert log == golden_small.visit_order


def test_dfs_parity_visited_flags(dfs_engine, golden_small):
    vis = {r["url"]: r for r in dfs_engine.read_visited().collect()}
    assert set(vis) == set(golden_small.visited)
    for url, row in golden_small.visited.items():
        assert vis[url]["is_blocked"] == row["is_blocked"], url
        assert vis[url]["is_complete"] == row["is_complete"], url
        assert vis[url]["referrer"] == row["referrer"], url


def test_dfs_parity_seen_set(dfs_engine, golden_small):
    seen = {r["url"] for r in dfs_engine.read_seen().collect()}
    assert seen == golden_small.seen


def test_dfs_parity_text_byte_identical(dfs_engine, golden_small):
    fetched = dfs_engine.catalog.read("fetched")
    texts = {
        r["url"]: r["text"]
        for r in fetched.orderBy("round").select("url", "text").collect()
    }
    assert texts == golden_small.texts


# --- throughput mode: set equality ---

def test_throughput_same_sets(tp_engine, golden_full):
    vis = {r["url"]: r for r in tp_engine.read_visited().collect()}
    assert set(vis) == set(golden_full.visited)
    for url, row in golden_full.visited.items():
        assert vis[url]["is_blocked"] == row["is_blocked"], url
        assert vis[url]["is_complete"] == row["is_complete"], url
    seen = {r["url"] for r in tp_engine.read_seen().collect()}
    assert seen == golden_full.seen
    fetched = tp_engine.catalog.read("fetched")
    texts = {r["url"]: r["text"] for r in fetched.select("url", "text").collect()}
    assert texts == golden_full.texts


def test_images_metadata(tp_engine, golden_full):
    imgs = tp_engine.catalog.read("images")
    got = {(r["referrer"], r["url"], r["name"]) for r in imgs.collect()}
    want = {(t[0], t[1], t[2]) for t in golden_full.images}
    assert got == want


def test_metrics_recorded(tp_engine):
    m = tp_engine.catalog.read("metrics")
    rows = m.orderBy("round").collect()
    assert rows
    assert rows[-1]["total_visited"] == tp_engine.total_visited
    assert all(r["batch_n"] > 0 for r in rows)


def test_metrics_wall_s_covers_publish_writes(spark, fixture_paths, tmp_path):
    """metrics.wall_s is stamped after the round's writes have landed
    (still before the commit): with every Catalog.append slowed by a
    known delay, the round's wall_s covers select + pipeline + the delay,
    and stays within the round's measured phases."""
    import time

    delay = 2.0
    cfg = make_cfg(scheduling="throughput", per_host_quota=4)
    eng = new_engine(spark, fixture_paths, str(tmp_path / "wall"), cfg)
    append = eng.catalog.append

    def slow_append(*args, **kwargs):
        time.sleep(delay)
        return append(*args, **kwargs)

    eng.catalog.append = slow_append
    eng.run(max_rounds=1)
    [row] = eng.catalog.read("metrics").collect()
    [ph] = eng.phase_splits
    before_publish = ph["select_s"] + ph["pipeline_s"]
    assert before_publish + delay <= row["wall_s"]
    assert row["wall_s"] <= before_publish + ph["write_s"] + 0.01


# --- kill-and-resume ---

def test_resume_equals_uninterrupted(spark, fixture_paths, tmp_path, tp_engine, golden_full):
    cfg = make_cfg(scheduling="throughput", per_host_quota=4)
    work = str(tmp_path / "resume_work")
    eng1 = new_engine(spark, fixture_paths, work, cfg)
    eng1.run(max_rounds=2)  # "kill" after 2 committed rounds
    eng2 = new_engine(spark, fixture_paths, work, cfg)  # new process
    assert eng2.total_visited == eng1.total_visited
    eng2.run()
    vis = {r["url"]: r for r in eng2.read_visited().collect()}
    assert set(vis) == set(golden_full.visited)
    seen = {r["url"] for r in eng2.read_seen().collect()}
    assert seen == golden_full.seen
    # and identical to the uninterrupted engine's final state
    vis_uninterrupted = {r["url"]: r for r in tp_engine.read_visited().collect()}
    assert {u: (r["is_blocked"], r["is_complete"]) for u, r in vis.items()} == {
        u: (r["is_blocked"], r["is_complete"]) for u, r in vis_uninterrupted.items()
    }


def test_crash_in_round_resumes_to_uninterrupted(
    spark, fixture_paths, tmp_path, tp_engine
):
    """A crash INSIDE a round: Catalog.commit raises in round k after
    that round's emit writes have landed. The manifest stays at round
    k-1, and a new Engine on the workdir finishes with the uninterrupted
    crawl's visited set, flags, seen set and per-URL text."""
    import os

    from crabspark.tables import Catalog

    k = 1
    cfg = make_cfg(scheduling="throughput", per_host_quota=4)
    work = str(tmp_path / "crash_work")
    eng1 = new_engine(spark, fixture_paths, work, cfg)
    commit = eng1.catalog.commit

    def crashing_commit(rnd, extras=None):
        if rnd == k:
            staged = dict(eng1.catalog._pending)
            assert {"visited_ops", "metrics", "metrics_partitions"} <= set(
                staged
            )
            for delta in staged.values():
                assert os.path.exists(os.path.join(work, delta["path"]))
            raise RuntimeError("crash inside round commit")
        commit(rnd, extras)

    eng1.catalog.commit = crashing_commit
    with pytest.raises(RuntimeError, match="crash inside round commit"):
        eng1.run()
    assert Catalog(work, None).committed_round == k - 1

    eng2 = new_engine(spark, fixture_paths, work, cfg)  # new process
    assert eng2.round == k
    eng2.run()
    vis = {
        r["url"]: (r["is_blocked"], r["is_complete"])
        for r in eng2.read_visited().collect()
    }
    want = {
        r["url"]: (r["is_blocked"], r["is_complete"])
        for r in tp_engine.read_visited().collect()
    }
    assert vis == want
    assert {r["url"] for r in eng2.read_seen().collect()} == {
        r["url"] for r in tp_engine.read_seen().collect()
    }

    def texts(eng):
        fetched = eng.catalog.read("fetched").select("url", "text")
        return {r["url"]: r["text"] for r in fetched.collect()}

    assert texts(eng2) == texts(tp_engine)


def test_maintenance_compacts_metrics_partitions(dfs_engine):
    """Maintenance compacts every catalog table but the frontier: the
    one-URL-per-round dfs crawl runs more than 16 rounds, so its
    per-round metrics_partitions deltas fold into one compacted delta
    that keeps every round's rows (a round that fetched nothing has
    none)."""
    cat = dfs_engine.catalog
    metrics = cat.read("metrics").collect()
    assert len(metrics) > 16
    deltas = cat.state["tables"]["metrics_partitions"]["deltas"]
    assert deltas[0]["mode"] == "overwrite"
    assert len(deltas) == len(metrics) - 16
    got = cat.read("metrics_partitions").select("round").distinct()
    assert {r["round"] for r in got.collect()} == {
        m["round"] for m in metrics if m["fetched_n"] > 0
    }


def test_time_travel_reproduces_round_states(tp_engine):
    """Iceberg-style snapshot reads against a REAL crawl: read_at at each
    committed round must reproduce exactly the cumulative state a reader
    saw at the end of that round (per-round visited_ops row counts match
    the metrics table's batch accounting), and the final snapshot equals
    the current read."""
    cat = tp_engine.catalog
    metrics = {
        r["round"]: r
        for r in cat.read("metrics").orderBy("round").collect()
    }
    rounds = cat.snapshots("visited_ops")
    assert rounds  # at least one committed round
    cum = 0
    for r in rounds:
        if r not in metrics:
            # the finalize round appends completion-mark ops only; it has
            # no crawl metrics row and must be the last snapshot
            assert r == rounds[-1], r
            break
        # visited_ops gains one row per visit + one per blocked op
        cum += metrics[r]["batch_n"] + metrics[r]["blocked_n"]
        assert cat.read_at("visited_ops", r).count() == cum, r
    assert cat.read_at("visited_ops", rounds[-1]).count() == \
        cat.read("visited_ops").count()


def test_link_graph_feeds_graph_operators(tp_engine, golden_full):
    """The crawl's edge list drives crabspark.graph directly: degree sums
    equal the distinct edge count, every linked-to child is in the seen
    set (the frontier-dedup invariant, src/tools.rs:146), and PageRank
    over the REAL crawl graph is bounded with its no-inlink floor."""
    import pyspark.sql.functions as F

    from crabspark.graph import node_degrees, pagerank_scores

    g = tp_engine.link_graph().cache()
    n_edges = g.count()
    assert n_edges > 0
    deg = node_degrees(g)
    sums = deg.agg(F.sum("outdeg").alias("o"), F.sum("indeg").alias("i")).first()
    assert sums["o"] == n_edges
    assert sums["i"] == n_edges
    # every dst was observed as a link => must be in the oracle's seen set
    children = {r["dst"] for r in g.select("dst").distinct().collect()}
    assert children <= golden_full.seen
    pr = pagerank_scores(g, iters=4).collect()
    assert len(pr) == deg.count()
    assert all(r["pr"] >= 0.5 - 1e-12 for r in pr)
    # a crawled web with converging links must separate hub from leaf
    assert max(r["pr"] for r in pr) > min(r["pr"] for r in pr)
    # host-level collapse partitions the edge list exactly; hosts are
    # real (extracted from the canonical URLs, non-empty)
    hg = tp_engine.host_graph().collect()
    assert sum(r["n_links"] for r in hg) == n_edges
    assert all(r["src_host"] and r["dst_host"] for r in hg)
    assert any(r["is_internal"] == 1 for r in hg)


def test_ephemeral_store_mode(spark, fixture_paths, tmp_path):
    """sqlite_enabled=false (reference src/sqlite.rs:9-14): the crawl runs
    and produces identical results, the caller's workdir is NEVER
    created/touched, and a second engine over the same (untouched)
    workdir starts from scratch instead of resuming — the reference's
    no-persistence semantics."""
    import os

    cfg = make_cfg(
        max_urls_to_visit=SMALL_CAP, collect_images=False,
        scheduling="throughput", per_host_quota=0, sqlite_enabled=False,
    )
    work = str(tmp_path / "never-created")
    eng = new_engine(spark, fixture_paths, work, cfg)
    eng.run()
    assert not os.path.exists(work)  # workdir untouched
    eph_root = eng._ephemeral_root
    assert eph_root and os.path.isdir(eph_root)
    visited = {r["url"] for r in eng.visit_log().select("url").collect()}
    assert len(visited) == SMALL_CAP

    # same crawl persistent: identical visited set
    cfg_p = make_cfg(
        max_urls_to_visit=SMALL_CAP, collect_images=False,
        scheduling="throughput", per_host_quota=0,
    )
    eng_p = new_engine(spark, fixture_paths, str(tmp_path / "persist"), cfg_p)
    eng_p.run()
    visited_p = {r["url"] for r in eng_p.visit_log().select("url").collect()}
    assert visited == visited_p

    # a NEW ephemeral engine: fresh state, re-crawls from the seed (no
    # resume), in a DIFFERENT temp root
    eng2 = new_engine(spark, fixture_paths, work, cfg)
    assert eng2._ephemeral_root != eph_root
    assert eng2.catalog.committed_round == -1
    eng2.run()
    assert {r["url"] for r in eng2.visit_log().select("url").collect()} == visited
    assert not os.path.exists(work)


def test_seed_init_crash_reseeds_on_resume(spark, fixture_paths, tmp_path):
    """A crash between the seed write and the init commit leaves a
    frontier delta no committed manifest references; a fresh Engine must
    seed again and crawl, not trust the file on disk and stop at once."""
    import os

    cfg = make_cfg(
        max_urls_to_visit=SMALL_CAP, collect_images=False,
        scheduling="throughput", per_host_quota=3,
    )
    work = str(tmp_path / "initcrash")
    eng = new_engine(spark, fixture_paths, work, cfg)
    eng._init_frontier()  # seed delta hits disk... and we "crash" pre-commit
    assert os.listdir(os.path.join(work, "frontier"))
    eng2 = new_engine(spark, fixture_paths, work, cfg)
    assert eng2.catalog.committed_round == -1
    res = eng2.run(max_rounds=2)
    assert res["visited"] > 0  # re-seeded and crawled, not a silent stop

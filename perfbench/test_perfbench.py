"""Fast tests of the benchmark's own logic (no Spark session).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import copy
import json
import os
import sys
import threading
import time
import types
from concurrent.futures import ThreadPoolExecutor

import pytest

from perfbench import golden, trace
from perfbench.run import METRIC_NAME, ROOT, tree_cpu_s

# --- metric names ------------------------------------------------------


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_metric_names_are_valid_and_unique():
    spec = _bench_json()
    names = [m["name"] for key in ("end_to_end", "per_layer")
             for m in spec[key]]
    assert len(names) == len(set(names))
    for name in names + [w["name"] for w in spec["workloads"]]:
        assert METRIC_NAME.fullmatch(name), name


@pytest.mark.parametrize("name", [
    "", "a b", "x" * 65, "-lead", "tab\t", "name/with/slash", "bad:colon",
    "newline\n",
])
def test_metric_name_regex_rejects(name):
    assert not METRIC_NAME.fullmatch(name)


@pytest.mark.parametrize("name", [
    "setup_s", "spark.pipeline.executor_run_s", "a-b.c_d", "0x", "x" * 64,
])
def test_metric_name_regex_accepts(name):
    assert METRIC_NAME.fullmatch(name)


# --- span-to-layer attribution -----------------------------------------

def test_layer_walls_split_marks_into_layers():
    marks = [
        (0.0, "select", 0), (0.5, "select", 1), (1.0, "pipeline", 1),
        (4.0, "emit", 1), (5.0, "commit", 1), (5.25, "maintenance", 1),
        (6.0, "select", 2), (6.5, "pipeline", 2), (8.0, "emit", 2),
        (9.0, "commit", 2), (9.5, "maintenance", 2), (10.0, "select", 3),
        (10.5, "finalize", 3), (12.0, "end", 3),
    ]
    walls = trace.layer_walls(marks)
    assert walls == {
        "select": 0.5 + 0.5 + 0.5 + 0.5, "pipeline": 3.0 + 1.5,
        "emit": 1.0 + 1.0, "commit": 0.25 + 0.5,
        "maintenance": 0.75 + 0.5, "finalize": 1.5,
    }
    assert sum(walls.values()) == pytest.approx(12.0)
    # round 3 is a drain round (no commit): not a committed round
    assert trace.round_walls(marks) == [5.5, 4.0]


class _FakeContext:
    def __init__(self):
        self.calls: list[tuple[str, str | None]] = []

    def setJobDescription(self, desc):  # noqa: N802 - SparkContext API
        self.calls.append((threading.current_thread().name, desc))


def _fake_engine():
    """A module shaped like the engine's round loop, calling its steps
    through module attributes so the tracer's wrappers see them."""
    m = types.ModuleType("perfbench_fake_engine")

    def nap():
        time.sleep(0.01)

    def run():
        m.overwrite()  # frontier seeding
        m.commit()
        for _ in range(2):
            m.read()
            m.select_batch()
            nap()
            m.release_temps()
            nap()  # the fused pipeline job
            with ThreadPoolExecutor(max_workers=2) as pool:
                futures = [pool.submit(m.append) for _ in range(2)]
                m.append_local()
                for f in futures:
                    f.result()
            m.commit()
            m.overwrite()  # a fold: maintenance
            m.commit()
        m.finalize()

    def finalize():
        nap()
        m.append()
        m.commit()

    for name in ("select_batch", "release_temps", "append", "append_local",
                 "commit", "overwrite", "read"):
        setattr(m, name, nap)
    m.run, m.finalize = run, finalize
    return m


def test_tracer_attributes_a_synthetic_round_loop(monkeypatch):
    mod = _fake_engine()
    monkeypatch.setitem(sys.modules, mod.__name__, mod)
    roles = {"run": ("engine.run", "run"),
             "finalize": ("engine.finalize", "finalize"),
             "select_batch": ("frontier.select_batch", "select"),
             "release_temps": ("frontier.release_temps", "release"),
             "read": ("tables.read", None),
             "append": ("tables.append", "emit"),
             "append_local": ("tables.append_local", "emit"),
             "commit": ("tables.commit", "commit"),
             "overwrite": ("tables.overwrite", None)}
    targets = [(mod.__name__, None, attr, name, role)
               for attr, (name, role) in roles.items()]
    ctx = _FakeContext()
    tracer = trace.Tracer(types.SimpleNamespace(sparkContext=ctx), "t",
                          targets=targets)
    with tracer:
        t0 = time.perf_counter()
        mod.run()
        wall = time.perf_counter() - t0
    assert mod.run.__name__ == "run"  # uninstalled
    assert not hasattr(mod.run, "__wrapped__")

    layers = [(layer, rnd) for _, layer, rnd in tracer.marks]
    per_round = ["select", "pipeline", "emit", "commit", "maintenance"]
    assert layers == (
        [("select", 0)] + [(x, 1) for x in per_round]
        + [(x, 2) for x in per_round] + [("finalize", 2), ("end", 2)]
    )
    walls = trace.layer_walls(tracer.marks)
    assert sum(walls.values()) == pytest.approx(wall, rel=0.05)
    assert len(trace.round_walls(tracer.marks)) == 2
    assert tracer.self_s > 0

    # worker-thread appends carry their own layer description; nested
    # calls inside finalize change nothing
    worker = [d for t, d in ctx.calls if t != "MainThread" and d]
    assert worker and all(d.startswith("t:emit:r") and
                          d.endswith(":tables.append") for d in worker)
    main = [d for t, d in ctx.calls if t == "MainThread"]
    assert main[-2:] == ["t:finalize:r2", None]
    fin = [s for s in tracer.spans if s.name == "engine.finalize"][0]
    nested = [s for s in tracer.spans if s.parent == fin.id]
    assert {s.name for s in nested} == {"tables.append", "tables.commit"}
    assert all(s.layer == "finalize" for s in nested)


def test_parse_desc_and_sql_metrics():
    assert trace.parse_desc("pb9:emit:r3:tables.append", "pb9") == {
        "layer": "emit", "round": 3, "span": "tables.append"}
    assert trace.parse_desc("pb9:pipeline:r1", "pb9")["span"] is None
    assert trace.parse_desc("pb9:pipeline:r1", "pb8") is None
    assert trace.parse_desc(None, "pb9") is None
    text = ("total (min, med, max (stageId: taskId))\n"
            "795.2 KiB (198.8 KiB, 198.8 KiB, 198.8 KiB (stage 2.0: task 6))")
    assert trace.parse_sql_metric(text) == pytest.approx(795.2 * 1024)
    assert trace.parse_sql_metric("total (min, med, max)\n340 ms (1 ms, "
                                  "2 ms, 3 ms)") == pytest.approx(0.34)
    assert trace.parse_sql_metric("total\n1.5 m (0 ms)") == 90.0
    assert trace.parse_sql_metric(None) == 0.0


# --- CPU clock ---------------------------------------------------------

def test_tree_cpu_counts_a_child_and_a_grandchild():
    import subprocess

    spin = "import time\nt = time.process_time()\n" \
           "while time.process_time() - t < 0.4: pass"
    # a child that spins, and a child that starts a spinning grandchild
    nest = f"import subprocess, sys\nsubprocess.run([sys.executable, " \
           f"'-c', {spin!r}])"
    before = tree_cpu_s()
    procs = [subprocess.Popen([sys.executable, "-c", code])
             for code in (spin, nest)]
    for p in procs:
        p.wait()
    assert tree_cpu_s() - before >= 0.7  # both reaped: their time is kept


def test_tree_cpu_skips_idle_time():
    before = tree_cpu_s()
    time.sleep(0.3)
    assert tree_cpu_s() - before < 0.1


# --- golden state and comparator ---------------------------------------

@pytest.fixture(scope="module")
def small_crawl():
    from crabspark.config import Config
    from fixtures import gen_pages

    data = gen_pages.generate(150, seed=7, branching=8)
    cfg = Config.new()
    cfg.seeds = [gen_pages.SEED_URL]
    cfg.scheduling = "throughput"
    cfg.max_urls_to_visit = 300
    return data, cfg


def test_golden_state_equals_plain_run_oracle(small_crawl):
    from tests.oracle import run_oracle

    data, cfg = small_crawl
    args = (data["pages"], data["robots"], cfg, data["assets"])
    fast = golden.golden_state(data["pages"], data["robots"], data["assets"],
                               cfg)
    # the patch is gone: this is the unmodified per-URL oracle
    plain = golden.state_of(run_oracle(*args))
    assert fast == plain
    assert golden.diff_states(fast, plain) == []
    assert any(b for b, _ in fast["visited"].values())  # robots-blocked rows
    assert any(c for _, c in fast["visited"].values())


def test_comparator_flags_one_planted_difference(small_crawl):
    data, cfg = small_crawl
    want = golden.golden_state(data["pages"], data["robots"], data["assets"],
                               cfg)
    url = sorted(want["texts"])[0]

    flag = copy.deepcopy(want)
    flag["visited"][url][1] = not flag["visited"][url][1]
    assert golden.diff_states(flag, want) == [
        f"visited flags (blocked, complete): {url} "
        f"{flag['visited'][url]} != {want['visited'][url]}"]

    text = copy.deepcopy(want)
    text["texts"][url] += " "
    assert golden.diff_states(text, want) == [f"text: {url}"]

    seen = copy.deepcopy(want)
    seen["seen"] = seen["seen"][1:]
    assert len(golden.diff_states(seen, want)) == 1

    missing = copy.deepcopy(want)
    del missing["visited"][url]
    assert golden.diff_states(missing, want) == [f"visited set: {url} missing"]

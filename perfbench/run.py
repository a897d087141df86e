"""crabspark benchmark: one closed-loop crawl workload per run.

    python3 perfbench/run.py --workload crawl_bulk --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. One process drives ``local[k]`` (k =
nproc, at most 4) through ``bench.get_spark``; one crawl runs at a time.
The fixture is ``fixtures.gen_pages`` built from ``--seed``; the engine
receives only the generated tables. Every crawl is checked against the
golden state of ``tests.oracle.run_oracle`` (see golden.py).

Set-up is the session start plus a one-URL warm-up crawl. Crawls and
set-up are timed on the CPU clock of the whole process tree (driver, JVM,
Python workers), JIT compiler threads left out of a crawl's figure: on a
shared host, hypervisor steal stretches wall time by up to half and moves
this clock far less. Wall times are kept in the full record.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
untraced crawls, then one traced crawl, and prints the per-layer metrics
(see trace.py and README.md). The last stdout line is the result JSON;
the line before it, and a file under ``.bench_data/perfbench/results/``,
hold the full record: box, settings, host contention and every crawl.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA = os.path.join(ROOT, ".bench_data", "perfbench")
METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

# warm-up crawl cap. bench.py warms with 40 URLs (two rounds); one URL
# (one round + finalize) loads the session's and the engine's classes for
# half the cost, which a run of a 48-run, 3,420 s budget can carry; the
# measured crawl still pays the first pass through the round-2 code paths
WARM_URLS = 1
# the Spark JVM heap; bench.get_spark asks for 16g unless told otherwise,
# more than a 15 GB box holds next to the Python workers
DRIVER_MEM = "4g"


@dataclass(frozen=True)
class Workload:
    pages: int
    branching: int | None
    per_host_quota: int | None
    frontier_fold_deltas: int


WORKLOADS = {
    # shallow fan-out: three rounds, the last carrying ~3,700 URLs at once;
    # politeness off, so select is the bare frontier read
    "crawl_bulk": Workload(pages=4000, branching=64, per_host_quota=None,
                           frontier_fold_deltas=16),
    # the same fixture under a per-host quota: the salted window rank runs
    # in every select and the two mega-hosts spill into a fourth round; a
    # fold period of 2 makes the frontier fold (maintenance) run mid-crawl
    "crawl_polite": Workload(pages=4000, branching=64, per_host_quota=900,
                             frontier_fold_deltas=2),
}


def _setup_env() -> None:
    """Keep every file the run writes inside the checkout, and give the
    status store room for every job of the traced crawl."""
    tmp = os.path.join(DATA, "tmp")
    for d in (tmp, os.path.join(DATA, "work")):  # leftovers of a killed run
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # no hsperfdata file: the JVM writes it under /tmp whatever tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        # compiler threads that come and go would take their CPU time with
        # them; fixed ones let a crawl's JIT time be told apart
        " -XX:-UseDynamicNumberOfCompilerThreads")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in conf.items()) + " pyspark-shell"
    import tempfile

    tempfile.tempdir = tmp


def _cfg(w: Workload, cap: int):
    from crabspark.config import Config
    from fixtures import gen_pages

    cfg = Config.new()
    cfg.free_crawl = True
    cfg.seeds = [gen_pages.SEED_URL]
    cfg.scheduling = "throughput"
    cfg.per_host_quota = w.per_host_quota
    cfg.frontier_fold_deltas = w.frontier_fold_deltas
    cfg.max_urls_to_visit = cap
    cfg.respect_robots = True
    cfg.collect_images = True
    cfg.debug = False
    return cfg


def _fixture(w: Workload, seed: int) -> str:
    from fixtures import gen_pages

    fx = os.path.join(DATA, f"fx-{w.pages}-{w.branching}-s{seed}")
    if not os.path.exists(os.path.join(fx, "assets.parquet")):
        gen_pages.write(fx, n_pages=w.pages, seed=seed, branching=w.branching)
    return fx


def _golden(w: Workload, seed: int, fx: str, cfg) -> dict:
    import pandas as pd

    from perfbench import golden

    # the sequential oracle has no politeness: one golden per fixture
    key = f"golden-{w.pages}-{w.branching}-{cfg.max_urls_to_visit}-s{seed}.json"
    return golden.cached_golden(
        os.path.join(DATA, key),
        pd.read_parquet(os.path.join(fx, "pages.parquet")),
        pd.read_parquet(os.path.join(fx, "robots.parquet")),
        pd.read_parquet(os.path.join(fx, "assets.parquet")),
        cfg,
    )


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and all its descendants,
    children they have reaped included: the driver, the Spark JVM, its
    Python daemon and the UDF workers. Time the hypervisor steals from the
    guest is charged to no process, so on a shared host this clock moves
    far less than wall time."""
    me = os.getpid()
    ticks: dict[int, int] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        # ppid is field 4; utime, stime, cutime, cstime are fields 14-17
        ticks[int(name)] = sum(int(x) for x in fields[11:15])
        children.setdefault(int(fields[1]), []).append(int(name))
    total, stack = 0, [me]
    while stack:
        pid = stack.pop()
        total += ticks.get(pid, 0)
        stack.extend(children.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


def jit_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the JVM's JIT compiler threads. The run starts the
    JVM with a fixed set of them (see _setup_env), so none exits and takes
    its count with it."""
    total = 0
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/comm") as f:
                if not f.read().startswith(("C1 CompilerThre",
                                            "C2 CompilerThre")):
                    continue
            with open(f"/proc/{jvm_pid}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        total += int(fields[11]) + int(fields[12])
    return total / os.sysconf("SC_CLK_TCK")


class Crawler:
    """Runs crawls of one fixture in one Spark session."""

    def __init__(self, spark, fx: str):
        self.spark = spark
        self.fx = fx
        self.n = 0

    def engine(self, cfg):
        from crabspark.engine import Engine

        self.n += 1
        work = os.path.join(DATA, "work", f"crawl-{os.getpid()}-{self.n}")
        shutil.rmtree(work, ignore_errors=True)
        return Engine(
            self.spark, cfg, work,
            pages_path=os.path.join(self.fx, "pages.parquet"),
            robots_path=os.path.join(self.fx, "robots.parquet"),
            assets_path=os.path.join(self.fx, "assets.parquet"),
        )

    def crawl(self, cfg, want: dict | None, inspect_engine=None) -> dict:
        """One ``Engine.run()``, timed on the wall clock and on the
        process tree's CPU clock, then the output check;
        ``inspect_engine`` sees the finished engine before its workdir is
        removed."""
        from perfbench import golden

        eng = self.engine(cfg)
        rec: dict = {"error": None, "diffs": []}
        jvm = self.spark.sparkContext._gateway.proc.pid
        cpu0, jit0 = tree_cpu_s(), jit_cpu_s(jvm)
        t0 = time.perf_counter()
        try:
            try:
                res = eng.run()
            finally:
                rec["wall_s"] = time.perf_counter() - t0
                rec["jit_s"] = jit_cpu_s(jvm) - jit0
                rec["cpu_s"] = tree_cpu_s() - cpu0 - rec["jit_s"]
            rec["visited"] = res["visited"]
            rec["rounds"] = res["rounds"]
            if want is not None:
                rec["diffs"] = golden.diff_states(golden.engine_state(eng),
                                                  want)
            if inspect_engine is not None:
                inspect_engine(eng, rec)
        except Exception:  # noqa: BLE001 - a failed crawl is counted, not fatal
            rec["error"] = traceback.format_exc(limit=5)
        finally:
            shutil.rmtree(eng.catalog.root, ignore_errors=True)
        rec["ok"] = rec["error"] is None and not rec["diffs"]
        return rec


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from the JVM's /proc status")


def _box(cores: int, seed: int, spark) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 1024 ** 2, 1), "k": cores,
        "driver_heap": DRIVER_MEM, "spark": spark.version,
        "python": sys.version.split()[0], "seed": seed,
    }


def _check_names(metrics: dict, kind: str) -> None:
    """The run reports exactly the metrics BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = {m["name"]: m["unit"] for m in json.load(f)[kind]}
    got = {k: u for k, (_, u) in metrics.items()}
    bad = [k for k in got if not METRIC_NAME.fullmatch(k)]
    if bad or got != declared:
        raise ValueError(f"{kind} metrics differ from BENCHMARK.json: "
                         f"bad names {bad}, got {sorted(got.items())}")


def _stop(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it: the
    JVM outlives ``spark.stop()`` until this process exits."""
    proc = spark.sparkContext._gateway.proc
    try:
        spark.stop()
    finally:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    w = WORKLOADS[workload]
    cores = min(4, len(os.sched_getaffinity(0)))
    _setup_env()
    sys.path.insert(0, ROOT)
    import bench

    t0 = time.perf_counter()
    phases = {}
    fx = _fixture(w, seed)
    cfg = _cfg(w, cap=2 * w.pages)  # a cap that never binds
    want = _golden(w, seed, fx, cfg)
    phases["inputs_s"] = time.perf_counter() - t0

    t_setup, cpu_setup = time.perf_counter(), tree_cpu_s()
    spark = bench.get_spark(cores)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        phases["session_s"] = time.perf_counter() - t_setup
        crawler = Crawler(spark, fx)
        warm = crawler.crawl(_cfg(w, cap=WARM_URLS), want=None)
        phases["setup_wall_s"] = time.perf_counter() - t_setup
        setup_cpu = tree_cpu_s() - cpu_setup
        if warm["error"]:
            raise RuntimeError(f"warm-up crawl failed:\n{warm['error']}")

        t_env = time.perf_counter()
        before = bench._env_snapshot()
        phases["env_probe_s"] = time.perf_counter() - t_env
        t_loop = time.perf_counter()
        crawls = []
        while True:
            crawls.append(crawler.crawl(cfg, want))
            walls = [c["wall_s"] for c in crawls]
            if (time.perf_counter() - t_loop + statistics.median(walls)
                    > seconds):
                break
        phases["measure_s"] = time.perf_counter() - t_loop
        contention = bench._leg_env(before, bench._env_snapshot(),
                                    phases["measure_s"])

        cpu = statistics.median(c["cpu_s"] for c in crawls)
        wall = statistics.median(walls)
        metrics = {
            "setup_s": (setup_cpu, "s"),
            "crawl_cpu_s": (cpu, "s"),
            "urls_per_cpu_s": (len(want["visited"]) / cpu, "URL/s"),
            "jvm_peak_rss_mb": (_jvm_peak_rss_mb(spark), "MB"),
        }
        untraced = None
        if trace:
            from perfbench.layers import traced_crawl

            traced, layer_metrics = traced_crawl(crawler, cfg, want, fx, wall)
            crawls.append(traced)
            untraced, metrics = metrics, layer_metrics
        box = _box(cores, seed, spark)
    finally:
        t_stop = time.perf_counter()
        _stop(spark)
        phases["stop_s"] = time.perf_counter() - t_stop
    phases["total_s"] = time.perf_counter() - t0
    _check_names(metrics, "per_layer" if trace else "end_to_end")
    failed = sum(not c["ok"] for c in crawls)
    return {
        "workload": workload, "trace": int(trace), "box": box,
        "workload_settings": w.__dict__, "warm_urls": WARM_URLS,
        "crawl_wall_s": wall,
        "warm": {k: warm.get(k) for k in ("wall_s", "cpu_s", "rounds")},
        "seconds": seconds, "phases": phases, "contention": contention,
        "untraced": untraced,
        "crawls": [dict(c, diffs=c["diffs"][:20], n_diffs=len(c["diffs"]))
                   for c in crawls],
        "result": {
            "correct": failed == 0,
            "attempted": len(crawls),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        },
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    record = run(args.workload, args.seed, args.seconds, bool(args.trace))
    out = os.path.join(DATA, "results")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(
        out, f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}"
        ".json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({k: v for k, v in record.items() if k != "result"},
                     default=str))
    print(json.dumps(record["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())

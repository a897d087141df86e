"""Where a crawl's Python worker CPU goes.

Runs one crawl under the benchmark's protocol (``perfbench/run.py``: the
workload's fixture and settings, local[k] with k = nproc capped at 4, a
4 GB heap, a 1-URL warm-up crawl first) with the logging worker daemon
``bench/py_worker_daemon.py``, checks the crawl against the golden state,
and sums the daemon's log over the measured crawl's tasks:

  tasks            Python tasks run (one ``pyspark.worker.main`` each)
  workers          worker processes that ran them
  worker_main_s    CPU inside ``worker.main``, summed over tasks
  invalidate_s     of which inside ``importlib.invalidate_caches``
  daemon_gc_s      CPU of the daemon's ``gc.collect`` between tasks
  task_p50_ms      median CPU of one task

Usage:
  python3 bench/py_worker_cpu.py [--workload crawl_bulk] [--seed 1]
                                 [--label NAME]
merges ``{NAME: result}`` into BENCH/py_worker_cpu.json.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
OUT = os.path.join(REPO, "BENCH", "py_worker_cpu.json")
# where py_worker_daemon.py logs (not imported here: importing
# pyspark.daemon would load pyspark.worker into the driver)
LOG_DIR = os.path.join(REPO, ".bench_data", "py_worker_cpu")


def _read_log(log_dir: str, t0: float, t1: float) -> dict:
    tasks, gcs, workers = [], [], set()
    for path in glob.glob(os.path.join(log_dir, "*.jsonl")):
        with open(path) as f:
            for line in f:
                rec = json.loads(line)
                if not t0 <= rec["t"] <= t1:
                    continue
                if rec["kind"] == "task":
                    tasks.append(rec)
                    workers.add(path)
                else:
                    gcs.append(rec)
    cpu = [r["cpu_s"] for r in tasks]
    return {
        "tasks": len(tasks),
        "workers": len(workers),
        "worker_main_s": round(sum(cpu), 3),
        "invalidate_s": round(sum(r["invalidate_s"] for r in tasks), 3),
        "daemon_gc_s": round(sum(r["cpu_s"] for r in gcs), 3),
        "task_p50_ms": round(1e3 * statistics.median(cpu), 2) if cpu else 0.0,
    }


def run(workload: str, seed: int) -> dict:
    from perfbench import run as pb

    w = pb.WORKLOADS[workload]
    cores = min(4, len(os.sched_getaffinity(0)))
    pb._setup_env()
    shutil.rmtree(LOG_DIR, ignore_errors=True)
    # the daemon module lives in bench/; workers get the driver's PYTHONPATH
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (os.path.join(REPO, "bench"), os.environ.get("PYTHONPATH"))
        if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.python.daemon.module=py_worker_daemon "
        + os.environ["PYSPARK_SUBMIT_ARGS"])
    import bench

    fx = pb._fixture(w, seed)
    cfg = pb._cfg(w, cap=2 * w.pages)
    want = pb._golden(w, seed, fx, cfg)
    spark = bench.get_spark(cores)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        crawler = pb.Crawler(spark, fx)
        warm = crawler.crawl(pb._cfg(w, cap=pb.WARM_URLS), want=None)
        if warm["error"]:
            raise RuntimeError(f"warm-up crawl failed:\n{warm['error']}")
        t0 = time.time()
        rec = crawler.crawl(cfg, want)
        t1 = time.time()
    finally:
        pb._stop(spark)
    if not rec["ok"]:
        raise RuntimeError(f"crawl incorrect: {rec['error'] or rec['diffs'][:5]}")
    return {
        "workload": workload, "seed": seed, "k": cores,
        "driver_heap": pb.DRIVER_MEM, "warm_urls": pb.WARM_URLS,
        "python": sys.version.split()[0], "nproc": os.cpu_count(),
        "correct": rec["ok"], "visited": rec["visited"],
        "rounds": rec["rounds"], "crawl_cpu_s": round(rec["cpu_s"], 2),
        **_read_log(LOG_DIR, t0, t1),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="crawl_bulk",
                    choices=("crawl_bulk", "crawl_polite"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--label", default="current")
    args = ap.parse_args()
    res = run(args.workload, args.seed)
    print(json.dumps(res))
    out = {}
    if os.path.exists(OUT):
        with open(OUT) as f:
            out = json.load(f)
    out[args.label] = res
    with open(OUT, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())

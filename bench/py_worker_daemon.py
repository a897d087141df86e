"""PySpark's worker daemon, logging where each Python task's CPU goes.

Started by ``bench/py_worker_cpu.py`` through ``spark.python.daemon.module``
(the daemon's module path is ``bench/`` on the workers' PYTHONPATH). It
runs ``pyspark.daemon`` unchanged apart from three timers, each on the
worker process's CPU clock (``time.process_time``, every thread):

- ``pyspark.worker.main``: one task, from its first read to its last write;
- ``importlib.invalidate_caches``: called by every task's
  ``setup_spark_files``, counted inside the task that called it;
- ``gc.collect`` called by the daemon loop between two tasks of a reused
  worker (calls made inside a task stay part of that task).

Each worker appends one JSON line per task and per between-task collection
to ``.bench_data/py_worker_cpu/<pid>.jsonl``, stamped with the wall time
it ended (``t``; a task's ``worker.main`` call starts with the wait for
it), so the reader can keep the lines of one crawl.
"""

from __future__ import annotations

import gc
import importlib
import json
import os
import time

import pyspark.daemon as daemon

LOG_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".bench_data", "py_worker_cpu",
)

_stock_main = daemon.worker_main
_stock_invalidate = importlib.invalidate_caches
_stock_collect = gc.collect
_task: dict | None = None  # counters of the task this worker is running


def _log(rec: dict) -> None:
    rec["t"] = time.time()
    with open(os.path.join(LOG_DIR, f"{os.getpid()}.jsonl"), "a") as f:
        f.write(json.dumps(rec) + "\n")


def worker_main(infile, outfile):
    global _task
    _task = {"kind": "task", "invalidate_s": 0.0}
    c0 = time.process_time()
    try:
        return _stock_main(infile, outfile)
    finally:
        rec, _task = _task, None
        rec["cpu_s"] = time.process_time() - c0
        _log(rec)


def invalidate_caches():
    c0 = time.process_time()
    try:
        return _stock_invalidate()
    finally:
        if _task is not None:
            _task["invalidate_s"] += time.process_time() - c0


def collect(*args, **kwargs):
    if _task is not None:
        return _stock_collect(*args, **kwargs)
    c0 = time.process_time()
    try:
        return _stock_collect(*args, **kwargs)
    finally:
        _log({"kind": "gc", "cpu_s": time.process_time() - c0})


if __name__ == "__main__":
    os.makedirs(LOG_DIR, exist_ok=True)
    daemon.worker_main = worker_main
    importlib.invalidate_caches = invalidate_caches
    gc.collect = collect
    daemon.manager()

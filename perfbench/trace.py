"""Spans around calls into crabspark's public functions, the layer each
stretch of a crawl belongs to, and Spark's own counters per layer.

The tracer wraps public functions and methods from outside (nothing under
``crabspark/`` changes) and records one span per call: name, start, end,
parent and the layer open when it started. The main thread's top-level
calls inside ``Engine.run`` move a round through its layers, in the
order the engine makes them:

  frontier.select_batch ............ select (until release_temps returns)
  frontier.release_temps returns ... pipeline: fetch+extract, resolve+
                                     dedup, seen filter and robots judge,
                                     fused into one plan (~10 Spark jobs)
  first Catalog.append/append_local
  or Bloom.add_dataframe/save ...... emit
  Catalog.commit after emit ........ commit
  Catalog.commit returns ........... maintenance: fold, compaction and
                                     GC, then the next round's pre-select
                                     catalog reads
  Engine.finalize .................. finalize

Each transition is a mark; the layers' walls are the gaps between marks,
so they add up to the run's wall. The time before round 1 (frontier
seeding) counts as select. Every Spark job gets the description
``<tag>:<layer>:r<round>[:<span>]``, which is how the status store's
jobs, stages and SQL executions are assigned to layers afterwards.
"""

from __future__ import annotations

import functools
import re
import threading
import time
from dataclasses import dataclass

LAYERS = ("select", "pipeline", "emit", "commit", "maintenance", "finalize")

# (module path, owner attribute or None, function name, span name, role)
TARGETS = (
    ("crabspark.engine", "Engine", "run", "engine.run", "run"),
    ("crabspark.engine", "Engine", "finalize", "engine.finalize", "finalize"),
    ("crabspark.frontier", None, "select_batch", "frontier.select_batch",
     "select"),
    ("crabspark.frontier", None, "release_temps", "frontier.release_temps",
     "release"),
    # the engine binds filter_unseen by name at import
    ("crabspark.engine", None, "filter_unseen", "seen.filter_unseen", None),
    ("crabspark.tables", "Catalog", "read", "tables.read", None),
    ("crabspark.tables", "Catalog", "append", "tables.append", "emit"),
    ("crabspark.tables", "Catalog", "append_local", "tables.append_local",
     "emit"),
    ("crabspark.seen", "Bloom", "add_dataframe", "seen.add", "emit"),
    ("crabspark.seen", "Bloom", "save", "seen.save", "emit"),
    ("crabspark.tables", "Catalog", "commit", "tables.commit", "commit"),
    ("crabspark.tables", "Catalog", "compact", "tables.compact", None),
    ("crabspark.tables", "Catalog", "overwrite", "tables.overwrite", None),
    ("crabspark.tables", "Catalog", "gc_superseded", "tables.gc_superseded",
     None),
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    layer: str
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans and layer marks for one ``Engine.run`` at a time."""

    def __init__(self, spark, tag: str = "pb", targets=TARGETS):
        self.sc = spark.sparkContext
        self.tag = tag
        self.targets = targets
        self.spans: list[Span] = []
        self.marks: list[tuple[float, str, int]] = []
        self.layer = "select"
        self.round = 0
        self._stack = threading.local()
        self._lock = threading.Lock()
        self._saved: list[tuple[object, str, object]] = []
        # seconds spent in the wrappers' own bookkeeping, outside the
        # wrapped calls: what tracing adds to the traced crawl
        self.self_s = 0.0

    # --- installation -------------------------------------------------
    def install(self) -> None:
        import importlib

        for mod_name, owner, attr, name, role in self.targets:
            mod = importlib.import_module(mod_name)
            obj = getattr(mod, owner) if owner else mod
            orig = getattr(obj, attr)
            self._saved.append((obj, attr, orig))
            setattr(obj, attr, self._wrap(orig, name, role))

    def uninstall(self) -> None:
        while self._saved:
            obj, attr, orig = self._saved.pop()
            setattr(obj, attr, orig)

    def __enter__(self) -> "Tracer":
        self.install()
        return self

    def __exit__(self, *exc) -> None:
        self.uninstall()

    # --- recording ----------------------------------------------------
    def _desc(self, layer: str, suffix: str = "") -> str:
        return f"{self.tag}:{layer}:r{self.round}{suffix}"

    def _mark(self, layer: str) -> None:
        """Open ``layer``; the main thread's later jobs carry its name
        (worker threads label their own jobs in the wrapper)."""
        self.layer = layer
        self.marks.append((time.perf_counter(), layer, self.round))
        if threading.current_thread() is threading.main_thread():
            self.sc.setJobDescription(self._desc(layer))

    def _wrap(self, fn, name: str, role: str | None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            t_enter = time.perf_counter()
            stack = getattr(tracer._stack, "spans", None)
            if stack is None:
                stack = tracer._stack.spans = []
            main = threading.current_thread() is threading.main_thread()
            # a top-level call is one made by the engine's round loop
            # itself: directly under Engine.run on the main thread, or the
            # first traced call on an emit worker thread
            top = (len(stack) == 1 and stack[0].name == "engine.run"
                   if main else not stack)
            own_desc = False
            if role == "run" and not stack:
                tracer.marks.clear()
                tracer.round = 0
                tracer._mark("select")
            elif top and role == "select":
                tracer.round += 1
                tracer._mark("select")
            elif top and role == "emit" and tracer.layer == "pipeline":
                with tracer._lock:
                    if tracer.layer == "pipeline":
                        tracer._mark("emit")
            elif top and main and role == "commit" and tracer.layer == "emit":
                tracer._mark("commit")
            elif top and main and role == "finalize":
                tracer._mark("finalize")
            if top and not main:
                tracer.sc.setJobDescription(
                    tracer._desc(tracer.layer, f":{name}"))
                own_desc = True
            with tracer._lock:
                span = Span(len(tracer.spans), name,
                            stack[-1].id if stack else None, tracer.layer,
                            time.perf_counter())
                tracer.spans.append(span)
            stack.append(span)
            t_call = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                span.end = time.perf_counter()
                stack.pop()
                if own_desc:
                    tracer.sc.setJobDescription(None)
                if top and main:
                    if role == "release":
                        tracer._mark("pipeline")
                    elif role == "commit" and tracer.layer == "commit":
                        tracer._mark("maintenance")
                if role == "run" and not stack:
                    tracer.marks.append((span.end, "end", tracer.round))
                    tracer.sc.setJobDescription(None)
                own = (t_call - t_enter) + (time.perf_counter() - span.end)
                with tracer._lock:
                    tracer.self_s += own

        return wrapper


# --- attribution -------------------------------------------------------

def layer_walls(marks: list[tuple[float, str, int]]) -> dict[str, float]:
    """Wall seconds per layer: each gap between consecutive marks belongs
    to the layer the earlier mark opened."""
    out = {layer: 0.0 for layer in LAYERS}
    for (t0, layer, _), (t1, _, _) in zip(marks, marks[1:]):
        out[layer] += t1 - t0
    return out


def round_walls(marks: list[tuple[float, str, int]]) -> list[float]:
    """Wall seconds of each round that reached its commit, select through
    maintenance."""
    per: dict[int, float] = {}
    committed: set[int] = set()
    for (t0, layer, rnd), (t1, _, _) in zip(marks, marks[1:]):
        if layer == "finalize" or rnd == 0:
            continue
        per[rnd] = per.get(rnd, 0.0) + (t1 - t0)
        if layer == "commit":
            committed.add(rnd)
    return [per[r] for r in sorted(committed)]


_DESC_RE = re.compile(r"^(?P<tag>[^:]+):(?P<layer>[a-z]+):r(?P<round>\d+)"
                      r"(?::(?P<span>.+))?$")


def parse_desc(desc: str | None, tag: str) -> dict | None:
    m = _DESC_RE.match(desc or "")
    if m is None or m["tag"] != tag:
        return None
    return {"layer": m["layer"], "round": int(m["round"]), "span": m["span"]}


# --- Spark status store ------------------------------------------------

_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3,
    "TiB": 1024 ** 4, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def parse_sql_metric(text: str | None) -> float:
    """Total of a formatted SQL size/timing metric, in bytes or seconds
    (e.g. 'total (min, med, max ...)\\n795.2 KiB (...)' -> 814284.8)."""
    if not text:
        return 0.0
    line = text.strip().splitlines()[-1]
    num, unit = line.split()[:2]
    return float(num.replace(",", "")) * _UNITS[unit]


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


PY_METRICS = {
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "worker_start_s",
}


def spark_counters(spark, tag: str) -> dict:
    """Jobs, stage counters and Python-worker SQL metrics of every job and
    SQL execution whose description carries ``tag``, grouped by layer."""
    from py4j.protocol import Py4JJavaError

    store = spark.sparkContext._jsc.sc().statusStore()
    per_layer = {
        layer: {"jobs": 0, "executor_run_s": 0.0, "shuffle_write_bytes": 0,
                "gc_s": 0.0, "tasks": 0}
        for layer in LAYERS
    }
    span_jobs: dict[str, int] = {}
    stages_done: set[int] = set()
    for job in _seq(store.jobsList(None)):
        d = job.description()
        info = parse_desc(d.get() if d.isDefined() else None, tag)
        if info is None:
            continue
        acc = per_layer[info["layer"]]
        acc["jobs"] += 1
        if info["span"]:
            span_jobs[info["span"]] = span_jobs.get(info["span"], 0) + 1
        for sid in _seq(job.stageIds()):
            if sid in stages_done:
                continue
            stages_done.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # no longer in the status store
                continue
            if st.status().toString() != "COMPLETE":
                continue
            acc["executor_run_s"] += st.executorRunTime() / 1000.0
            acc["shuffle_write_bytes"] += int(st.shuffleWriteBytes())
            acc["gc_s"] += st.jvmGcTime() / 1000.0
            acc["tasks"] += int(st.numTasks())
    python = {v: 0.0 for v in PY_METRICS.values()}
    sql = spark._jsparkSession.sharedState().statusStore()
    for ex in _seq(sql.executionsList()):
        if parse_desc(ex.description(), tag) is None:
            continue
        values = sql.executionMetrics(ex.executionId())
        done: set[int] = set()
        for m in _seq(ex.metrics()):
            key = PY_METRICS.get(m.name())
            if key is None or m.accumulatorId() in done:
                continue
            done.add(m.accumulatorId())
            v = values.get(m.accumulatorId())
            python[key] += parse_sql_metric(v.get() if v.isDefined() else None)
    return {"layers": per_layer, "span_jobs": span_jobs, "python": python}

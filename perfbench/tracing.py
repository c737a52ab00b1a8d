"""Traced-run instruments, all driven from the benchmark's side.

- ``Tracer``: spans (name, start, end, parent, run id) kept in memory and
  written as one JSON file at the end; self time per layer.
- ``patched_layers``: wraps the engine's public ``load_tables`` and
  ``FraudPipeline.fit`` for the duration of a traced section.
- ``SqlStatus``: reads Spark's own SQL status store (works with the UI
  off) for executions, jobs, tasks and plan-node metrics.
- ``ProgressLog``: a StreamingQueryListener that keeps every progress
  event whole (``query.recentProgress`` keeps only the last 100).
"""

from __future__ import annotations

import contextlib
import json
import re
import sys
import time
import uuid
from collections.abc import Iterator

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time its direct children
        cover (children of one span never overlap: one thread)."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child_time.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans, **extra}, fh)


@contextlib.contextmanager
def patched_layers(tracer: Tracer) -> Iterator[None]:
    """Route every call of ``load_tables`` and ``FraudPipeline.fit`` through
    a span. ``load_tables`` is bound by name into each operator module, so
    each module-level binding is swapped and restored afterwards."""
    from real_time_fraud_detection_system_using_big_data_analytics_spark.ml.fraud_pipeline import FraudPipeline
    from real_time_fraud_detection_system_using_big_data_analytics_spark.sources import tables

    original_load = tables.load_tables
    original_fit = FraudPipeline.fit

    def load_tables(*args, **kwargs):
        with tracer.span("sources.load_tables"):
            return original_load(*args, **kwargs)

    def fit(self, *args, **kwargs):
        with tracer.span("ml.fit"):
            return original_fit(self, *args, **kwargs)

    prefix = tables.__name__.split(".")[0] + "."
    swapped = [
        mod for name, mod in list(sys.modules.items())
        if name.startswith(prefix) and getattr(mod, "load_tables", None) is original_load
    ]
    for mod in swapped:
        mod.load_tables = load_tables
    FraudPipeline.fit = fit
    try:
        yield
    finally:
        for mod in swapped:
            mod.load_tables = original_load
        FraudPipeline.fit = original_fit


# -- SQL status store -----------------------------------------------------------

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6,
}
_TOTAL = re.compile(r"([-\d.,]+)\s*([A-Za-z]+)?")

# plan-node metric name -> layer counter it feeds
NODE_METRICS = {
    "shuffle bytes written": "exec.shuffle_write_bytes",
    "local bytes read": "exec.shuffle_read_bytes",
    "remote bytes read": "exec.shuffle_read_bytes",
    "spill size": "exec.spill_bytes",
    "time to start Python workers": "pyworker.start_ms",
    "time to initialize Python workers": "pyworker.init_ms",
    "time to run Python workers": "pyworker.run_ms",
    "data sent to Python workers": "arrow.bytes_to_python",
    "data returned from Python workers": "arrow.bytes_from_python",
}


def metric_total(text: str) -> float:
    """The total of a formatted SQL metric: ``"12.5 MiB"`` or
    ``"total (min, med, max ...)\\n151 ms (25 ms, ...)"`` -> bytes or ms."""
    line = text.strip().splitlines()[-1] if text.strip().startswith("total") else text
    m = _TOTAL.match(line.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


def _scala_items(m) -> list[tuple]:
    out, it = [], m.iterator()
    while it.hasNext():
        kv = it.next()
        out.append((kv._1(), kv._2()))
    return out


class SqlStatus:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.store = spark._jsparkSession.sharedState().statusStore()

    def last_id(self) -> int:
        execs = self.store.executionsList()
        n = execs.size()
        return execs.apply(n - 1).executionId() if n else -1

    def summarize(self, first_id: int, last_id: int) -> dict[str, float]:
        """Jobs, tasks and plan-node counters over executions with ids in
        (first_id, last_id]."""
        tracker = self.spark.sparkContext.statusTracker()
        out = dict.fromkeys(NODE_METRICS.values(), 0.0)
        out.update({"exec.jobs": 0.0, "exec.tasks": 0.0})
        execs = self.store.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            eid = e.executionId()
            if not first_id < eid <= last_id:
                continue
            for job_id, _ in _scala_items(e.jobs()):
                out["exec.jobs"] += 1
                job = tracker.getJobInfo(job_id)
                for sid in job.stageIds if job else ():
                    stage = tracker.getStageInfo(sid)
                    out["exec.tasks"] += stage.numTasks if stage else 0
            names = {}
            ms = e.metrics()
            for j in range(ms.size()):
                names[ms.apply(j).accumulatorId()] = ms.apply(j).name()
            for acc, text in _scala_items(self.store.executionMetrics(eid)):
                key = NODE_METRICS.get(names.get(acc))
                if key:
                    out[key] += metric_total(text)
        return out


def catalyst_phases(df) -> dict[str, float]:
    """Force planning of ``df`` and read its QueryPlanningTracker (ms)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    return {k: float(v.durationMs()) for k, v in _scala_items(qe.tracker().phases())}


def cache_contents(spark) -> tuple[int, int]:
    """(CacheManager entries, bytes held by cached RDDs in memory + disk)."""
    entries = spark._jsparkSession.sharedState().cacheManager().cachedData().size()
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return entries, sum(i.memSize() + i.diskSize() for i in infos)


# -- streaming progress -----------------------------------------------------------


class ProgressLog(StreamingQueryListener):
    """Keeps every QueryProgress event as parsed JSON."""

    def __init__(self) -> None:
        self.events: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        self.events.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def for_query(self, run_id: str) -> list[dict]:
        return [p for p in self.events if p.get("runId") == run_id]

"""The traced run: spans and counts recorded from the benchmark's own
files, around its calls into the engine.

Wrappers replace module attributes in this process only, and only
while a :class:`Tracer` is installed:

- ``serving.grafana.handle_query``, where the HTTP handler looks it up
  on every request;
- ``streaming.ingest.apply_retention``, the name ``tick`` calls;
- ``MetricsCollector.tick``;
- ``DataFrame.collect``.

The fetcher handed to the collector is wrapped by the ``loop`` workload
through :meth:`Tracer.fetcher`.

Each traced operation runs under its own Spark job group, set in the
calling thread (for ``/query`` that is the HTTP handler thread), and the
group's jobs are read back from the status store once the operation has
ended, outside its timing. Tracing is switched per operation, so a run
can interleave traced and untraced operations and report the
difference as the tracing overhead. Spans stay in memory.
"""

from __future__ import annotations

import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JError

# Spark status numbers summed over the stages of a job group.
SPARK_FIELDS = (
    "spark.jobs",
    "spark.tasks",
    "spark.run_ms",
    "spark.input_bytes",
    "spark.jvm_cpu_ms",
    "spark.gc_ms",
    "spark.shuffle_bytes",
)


@dataclass
class OpTrace:
    """What one traced operation recorded."""

    group: str
    start: float = 0.0
    end: float = 0.0
    collects: list[tuple[float, float]] = field(default_factory=list)
    plan_ms: float = 0.0
    children: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    counts: dict[str, float] = field(default_factory=lambda: defaultdict(float))

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


def _scala_seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.enabled = False
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self._groups = 0
        self.last_query: OpTrace | None = None
        self.last_tick: OpTrace | None = None
        self.retention_calls: list[tuple[float, int]] = []
        self.layers = Layers()

    # -- install / remove ----------------------------------------------

    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        setattr(owner, attr, make(orig))
        self._patches.append((owner, attr, orig))

    def install(self) -> "Tracer":
        from pyspark.sql.classic.dataframe import DataFrame

        from timeseries_data_provider_spark.serving import grafana
        from timeseries_data_provider_spark.streaming import ingest

        self._patch(grafana, "handle_query", self._wrap_handle_query)
        self._patch(ingest, "apply_retention", self._wrap_retention)
        self._patch(ingest.MetricsCollector, "tick", self._wrap_tick)
        self._patch(DataFrame, "collect", self._wrap_collect)
        return self

    def remove(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- operation scope -----------------------------------------------

    def _current(self) -> OpTrace | None:
        return getattr(self._local, "op", None)

    @contextmanager
    def op(self, label: str):
        """Run one traced operation in the calling thread under a fresh
        job group; yields its :class:`OpTrace`."""
        self._groups += 1
        rec = OpTrace(group=f"perfbench-{label}-{self._groups}")
        outer = self._current()
        self._local.op = rec
        self.sc.setJobGroup(rec.group, label)
        rec.start = time.perf_counter()
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._local.op = outer

    @contextmanager
    def span(self, name: str):
        """Time a child span of the current operation."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            rec = self._current()
            if rec is not None:
                rec.children[name] += (time.perf_counter() - t0) * 1000.0

    # -- wrappers ------------------------------------------------------

    def _wrap_handle_query(self, orig):
        tracer = self

        def handle_query(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            with tracer.op("query") as rec:
                out = orig(*args, **kwargs)
            tracer.last_query = rec
            return out

        return handle_query

    def _wrap_retention(self, orig):
        tracer = self

        def apply_retention(spark, table_path, name, *args, **kwargs):
            if not tracer.enabled:
                return orig(spark, table_path, name, *args, **kwargs)
            t0 = time.perf_counter()
            with tracer.span("retention"):
                out = orig(spark, table_path, name, *args, **kwargs)
            ms = (time.perf_counter() - t0) * 1000.0
            part = os.path.join(table_path, f"name={name}")
            tracer.retention_calls.append((ms, _dir_bytes(part)))
            return out

        return apply_retention

    def _wrap_tick(self, orig):
        tracer = self

        def tick(collector, *args, **kwargs):
            if not tracer.enabled:
                return orig(collector, *args, **kwargs)
            with tracer.op("tick") as rec:
                out = orig(collector, *args, **kwargs)
            tracer.last_tick = rec
            return out

        return tick

    def _wrap_collect(self, orig):
        tracer = self

        def collect(df):
            rec = tracer._current()
            if rec is None:
                return orig(df)
            t0 = time.perf_counter()
            rows = orig(df)
            rec.collects.append((t0, time.perf_counter()))
            rec.plan_ms += _plan_ms(df)
            return rows

        return collect

    def fetcher(self, orig, extract_ok):
        """Wrap a collector fetcher: time each fetch, count fetches and
        the ones that yield no sample (an error, or a body
        ``extract_ok`` rejects)."""
        tracer = self

        def fetch(source):
            rec = tracer._current()
            if rec is None:
                return orig(source)
            rec.counts["fetches"] += 1
            t0 = time.perf_counter()
            try:
                body = orig(source)
            except Exception:
                rec.counts["fetch_failures"] += 1
                raise
            finally:
                rec.children["fetch"] += (time.perf_counter() - t0) * 1000.0
            if not extract_ok(source, body):
                rec.counts["fetch_failures"] += 1
            return body

        return fetch

    # -- Spark status --------------------------------------------------

    def spark_stats(self, group: str) -> dict[str, float]:
        """Sum the stage numbers of every job run under ``group``."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        out = dict.fromkeys(SPARK_FIELDS, 0.0)
        job_ids = self.sc.statusTracker().getJobIdsForGroup(group)
        out["spark.jobs"] = float(len(job_ids))
        for job_id in job_ids:
            for stage_id in _scala_seq(store.job(job_id).stageIds()):
                try:
                    st = store.lastStageAttempt(stage_id)
                except Py4JError:
                    continue  # never attempted: skipped by AQE reuse
                out["spark.tasks"] += st.numCompleteTasks()
                out["spark.run_ms"] += st.executorRunTime()
                out["spark.input_bytes"] += st.inputBytes()
                out["spark.jvm_cpu_ms"] += st.executorCpuTime() / 1e6
                out["spark.gc_ms"] += st.jvmGcTime()
                out["spark.shuffle_bytes"] += st.shuffleWriteBytes()
        return out


def _plan_ms(df) -> float:
    """Analysis + optimization + planning time of ``df``'s last
    execution, from Catalyst's QueryPlanningTracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() != "parsing":
            total += kv._2().durationMs()
    return total


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


# name -> (unit, how the per-operation values reduce to one number)
PER_LAYER: dict[str, tuple[str, str]] = {
    "session.start_s": ("s", "last"),
    "http.self_ms": ("ms", "median"),
    "http.response_bytes": ("bytes", "mean"),
    "grafana.query_ms": ("ms", "median"),
    "grafana.build_ms": ("ms", "median"),
    "grafana.shape_ms": ("ms", "median"),
    "spark.plan_ms": ("ms", "median"),
    "spark.jobs": ("count", "mean"),
    "spark.tasks": ("count", "mean"),
    "spark.run_ms": ("ms", "mean"),
    "spark.input_bytes": ("bytes", "mean"),
    "spark.jvm_cpu_ms": ("ms", "mean"),
    "spark.gc_ms": ("ms", "mean"),
    "spark.shuffle_bytes": ("bytes", "mean"),
    "driver.cpu_ms": ("ms", "mean"),
    "jvm.cpu_ms": ("ms", "mean"),
    "python.cpu_ms": ("ms", "mean"),
    "ingest.tick_ms": ("ms", "median"),
    "ingest.fetch_ms": ("ms", "median"),
    "ingest.append_ms": ("ms", "median"),
    "ingest.fetches": ("count", "sum"),
    "ingest.fetch_failures": ("count", "sum"),
    "ingest.files_per_series": ("count", "last"),
    "ingest.bytes_per_sample": ("bytes", "last"),
    "retention.ms": ("ms", "median"),
    "retention.bytes_rewritten": ("bytes", "mean"),
    "readback.stale": ("count", "sum"),
    "readback.errors": ("count", "sum"),
    "readback.fresh_share": ("share", "last"),
    "trace.overhead_ms": ("ms", "last"),
}


class Layers:
    """Per-operation layer values, reduced once the run ends."""

    def __init__(self) -> None:
        self.values: dict[str, list[float]] = defaultdict(list)

    def add(self, name: str, value: float) -> None:
        self.values[name].append(float(value))

    def add_all(self, values: dict[str, float]) -> None:
        for k, v in values.items():
            self.add(k, v)

    def report(self) -> dict[str, tuple[float, str]]:
        """Every per-layer metric; a layer the workload does not load
        reads 0."""
        from .harness import median

        out = {}
        for name, (unit, how) in PER_LAYER.items():
            vals = self.values.get(name, [])
            if not vals:
                value = 0.0
            elif how == "median":
                value = median(vals)
            elif how == "mean":
                value = sum(vals) / len(vals)
            elif how == "sum":
                value = sum(vals)
            else:
                value = vals[-1]
            out[name] = (float(value), unit)
        return out

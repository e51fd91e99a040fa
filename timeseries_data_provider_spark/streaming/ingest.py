"""Metrics collector: the reference's 1-second scheduler tick
(reference index.js:225-284), run on one driver thread.

Mapping (SURVEY.md §3.2):
- ``setInterval(..., 1000)`` (index.js:225, :284) → ``start()``: one
  daemon thread calls ``tick`` every ``trigger_seconds`` until ``stop()``.
- per-source due-check vs lastRun+interval (index.js:238) → driver-side
  state dict, like the reference's ``proxyCollection``
  (index.js:215-223); the source list is config-sized, not data-sized.
- axios fetch + transformResponse (index.js:242-246) → pluggable
  fetcher (urllib default) + SourceConfig.extract; null samples dropped
  (index.js:246), per-source failures isolated (index.js:259-263).
- writePoints with no timestamp (index.js:250-257) → append of
  ``(name, time=now, value)``: ingest-time stamping, so event time is
  processing time and late data cannot exist (SURVEY §1.1). The driver
  writes each due series' sample as one parquet file into its
  partition directory, with no Spark job, and reads the table for
  ``/query``. Each file is written aside under ``.swap`` (hidden from
  every listing) and renamed in, so a reader sees all of it or none.
- autoRemove (index.js:268-282) → retention due-check in the same tick,
  strict ``<`` cutoff, rewritten on the driver (see retention.py).
- compaction (no reference counterpart): once ``COMPACT_EVERY`` appends
  have landed since a series' last rewrite, the tick runs the same
  rewrite keeping every row, so a series gains at most
  ``COMPACT_EVERY`` files between two rewrites. Spark still rewrites
  the corpus/crawl datasets (``swap_dir``).

The sink is a parquet table partitioned by ``name`` (+ ``date`` derived
from the ingest time at scale): partition pruning then serves the
reference's per-measurement queries (index.js:106) without touching
other series.
"""

from __future__ import annotations

import contextlib
import logging
import os
import threading
import time as _time
import urllib.request
import uuid
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from .config import SourceConfig
from .retention import (
    METRICS_SCHEMA,
    SWAP_DIR,
    apply_retention,
    recover_swaps,
    series_entry,
    series_table,
    write_series_file,
)

# appends since a series' last rewrite that make the next tick compact
# it (the rewrite keeps every row)
COMPACT_EVERY = 10

log = logging.getLogger(__name__)


def default_fetcher(source: SourceConfig) -> str:
    """HTTP GET via stdlib (reference used axios, index.js:242)."""
    req = urllib.request.Request(source.url, method=source.method or "GET")
    with urllib.request.urlopen(req, timeout=10) as resp:  # noqa: S310
        return resp.read().decode("utf-8")


@dataclass
class _SourceState:
    """Mirror of the reference's per-proxy scheduler state
    (index.js:218-222: lastRun / lastRemove)."""

    last_run: float = 0.0
    last_remove: float = 0.0
    appends: int = 0  # files landed since the series' last rewrite


class MetricsCollector:
    """Periodic HTTP poll → append to the metrics table. ``start`` and
    ``stop`` run the clock; ``tick`` is one scheduler tick at a time."""

    def __init__(
        self,
        spark: SparkSession,
        sources: list[SourceConfig],
        table_path: str,
        fetcher: Callable[[SourceConfig], str] | None = None,
        now: Callable[[], float] | None = None,
    ) -> None:
        self.spark = spark
        self.sources = sources
        self.table_path = table_path
        self.fetcher = fetcher or default_fetcher
        self.now = now or _time.time
        # active && interval > 0, reference index.js:215-217
        self.state: dict[str, _SourceState] = {
            s.name: _SourceState()
            for s in sources
            if s.active and s.interval > 0
        }
        # a swap cut off between its two renames left the series aside,
        # and an append cut off before its rename left a file there
        recover_swaps(table_path)

    # -- one scheduler tick (index.js:226-284) ---------------------------

    def tick(self, tick_time: float | None = None) -> int:
        """Run one tick; returns number of samples written."""
        t = self.now() if tick_time is None else tick_time
        names: list[str] = []
        values: list[float] = []
        for source in self.sources:
            st = self.state.get(source.name)
            if st is None:
                continue  # inactive (index.js:103 / :215-217)
            # collection due-check (index.js:238)
            if t - st.last_run >= source.interval:
                st.last_run = t
                try:
                    body = self.fetcher(source)
                    value = source.extract(body)
                    if value is not None:  # null guard, index.js:246
                        names.append(source.name)
                        values.append(float(value))
                except Exception as exc:  # isolation, index.js:259-263
                    log.warning("collector: %s: %s", source.name, exc)
            # retention due-check (index.js:269)
            retain = bool(
                source.remove_interval
                and source.remove_age
                and t - st.last_remove >= source.remove_interval
            )
            if retain:
                st.last_remove = t
            if retain or st.appends >= COMPACT_EVERY:
                try:
                    apply_retention(
                        self.spark,
                        self.table_path,
                        source.name,
                        source.remove_age if retain else None,
                        now_epoch=t,
                    )
                    st.appends = 0
                except Exception as exc:
                    log.warning("retention: %s: %s", source.name, exc)
        if names:
            ts = datetime.fromtimestamp(t, tz=timezone.utc).replace(tzinfo=None)
            batch = series_table([ts] * len(names), values)
            # one file per series, written aside and renamed in whole
            aside = os.path.join(self.table_path, SWAP_DIR)
            os.makedirs(aside, exist_ok=True)
            for i, name in enumerate(names):
                entry = series_entry(name)
                tag = uuid.uuid4().hex
                new = os.path.join(aside, f"{entry}.{tag}.tmp")
                write_series_file(batch.slice(i, 1), new)
                part = os.path.join(self.table_path, entry)
                os.makedirs(part, exist_ok=True)
                os.rename(new, os.path.join(part, f"part-{tag}.parquet"))
                self.state[name].appends += 1
            # a failed append left its file aside, hidden from reads;
            # the next recover_swaps drops it with the directory
            with contextlib.suppress(OSError):
                os.rmdir(aside)
        return len(names)

    # -- the clock (index.js:225, :284) ---------------------------------

    def start(self, trigger_seconds: float = 1) -> None:
        """Run ``tick`` on one daemon thread until ``stop()``. Each tick
        starts ``trigger_seconds`` after the previous one started (on
        ``self.now``), so a source with that interval fires on every
        tick. A tick that overruns its slot makes the next start at once
        (missed slots are not replayed); one that raises is logged."""
        self._stopping = threading.Event()
        self._clock = threading.Thread(
            target=self._run, args=(trigger_seconds,), daemon=True
        )
        self._clock.start()

    def stop(self) -> None:
        """Stop the clock and wait out the tick in progress, so no tick
        is cut off between a retention pass and its append. A slow fetch
        can delay this by up to its 10 s timeout."""
        self._stopping.set()
        self._clock.join()

    def _run(self, trigger_seconds: float) -> None:
        last = float("-inf")
        while not self._stopping.is_set():
            t = self.now()
            if t - last < trigger_seconds:
                self._stopping.wait(last + trigger_seconds - t)
                continue
            last = t
            try:
                self.tick(t)
            except Exception:
                log.exception("collector: tick at %s failed", t)


def read_metrics(spark: SparkSession, table_path: str) -> DataFrame:
    """Read the metrics table (partition-pruned scans on ``name``)."""
    return spark.read.schema(METRICS_SCHEMA).parquet(table_path)


def collector_replay(
    spark: SparkSession,
    n_ticks: int = 60,
    base_epoch: int = 1_000_000_000,
    table_path: str | None = None,
) -> DataFrame:
    """Deterministic replay of the collector scheduler for correctness
    scoring: drives the real ``MetricsCollector.tick`` (due-check,
    fetch, extract, null guard, failure isolation, append) through a
    fixed trace of ``n_ticks`` 1-second ticks and returns the
    per-source summary of what landed. Every input is closed-form, so
    a SQL oracle recomputes the expected counts, sums and timestamps
    (reference index.js:238 cadence, :246 null guard, :250-257
    ingest-time write, :259-263 failure isolation).

    The planted trace:

    - ``a``/``b``/``c`` (interval 2/3/5): rows at ``i % interval == 0``.
    - ``d`` (interval 4): every other fire gets a body missing the JSON
      key, so the sample is dropped (index.js:246) but the slot is
      consumed (last_run is stamped before the fetch, index.js:239):
      rows at ``i % 8 == 0``.
    - ``e`` (interval 6): the fetcher raises on every other fire,
      isolated per source (index.js:259-263): rows at ``i % 12 == 0``.
    - ``x`` (inactive) and ``z`` (interval 0): excluded at startup
      (index.js:215-217), no rows.

    Each fired sample's value is ``ord*100 + i`` (ord = 1..5 for
    a..e) and its ingest-time stamp is the tick's epoch second, so
    sum/min/max are exactly reproducible. Returns
    (name, n_points, sum_value, first_ms, last_ms).

    Side effect at construction: the replay (at the default trace, 44
    appending ticks, 75 one-row files and 6 compactions, a ×3, b ×2,
    c ×1, leaving 18 files, with no Spark job) runs when this function
    is called, not when the frame is evaluated, so explain-only tooling
    pays the writes (bench.py lists q65 in NON_BENCH). With
    ``table_path=None`` the table lands in a mkdtemp directory removed
    at interpreter exit, since the returned frame reads it lazily.
    """
    import atexit
    import json as _json
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from timeseries_data_provider_spark.session import ensure_runtime_confs

    # Every other declared query forces the runtime confs via the table
    # loader; this one takes no tables, so force them here — the
    # first_ms/last_ms math (unix_millis over a cast NTZ) requires
    # spark.sql.session.timeZone=UTC on driver-owned sessions.
    ensure_runtime_confs(spark)

    if table_path is None:
        table_path = tempfile.mkdtemp(prefix="tdps_collector_replay_")
        atexit.register(shutil.rmtree, table_path, True)

    ords = {"a": 1, "b": 2, "c": 3, "d": 4, "e": 5}
    sources = [
        SourceConfig(name="a", interval=2),
        SourceConfig(name="b", interval=3),
        SourceConfig(name="c", interval=5),
        SourceConfig(name="d", interval=4),
        SourceConfig(name="e", interval=6),
        SourceConfig(name="x", active=False, interval=2),
        SourceConfig(name="z", interval=0),
    ]
    cur = {"i": 0}

    def fetcher(source: SourceConfig) -> str:
        i = cur["i"]
        if source.name == "e" and (i // 6) % 2 == 1:
            raise RuntimeError("planted fetch failure (isolation path)")
        if source.name == "d" and (i // 4) % 2 == 1:
            return "{}"  # missing key -> extract None -> null guard
        return _json.dumps({"count": ords[source.name] * 100 + i})

    collector = MetricsCollector(
        spark, sources, table_path, fetcher=fetcher
    )
    for i in range(n_ticks):
        cur["i"] = i
        collector.tick(float(base_epoch + i))

    ms = F.unix_millis(F.col("time").cast("timestamp"))
    return read_metrics(spark, table_path).groupBy("name").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum("value").cast("bigint").alias("sum_value"),
        F.min(ms).alias("first_ms"),
        F.max(ms).alias("last_ms"),
    )

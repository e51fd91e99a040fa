"""Collector / retention semantics (SURVEY.md §5 item 5): per-source
cadence (reference index.js:238), ingest-time stamping (:250-257),
null-sample drop (:246), failure isolation (:259-263), strict-< retention
cutoff (:273)."""

from __future__ import annotations

import functools
import json
import logging
import os
import threading
import time
from datetime import datetime

import pytest

from timeseries_data_provider_spark.operators import core
from timeseries_data_provider_spark.streaming import ingest
from timeseries_data_provider_spark.streaming.config import SourceConfig
from timeseries_data_provider_spark.streaming.ingest import (
    MetricsCollector,
    read_metrics,
)
from timeseries_data_provider_spark.streaming.retention import (
    apply_retention,
    retention_cutoff,
)


def _collector(spark, tmp_path, sources, responses):
    calls: list[str] = []

    def fetcher(src: SourceConfig) -> str:
        calls.append(src.name)
        body = responses[src.name]
        if isinstance(body, Exception):
            raise body
        return body

    c = MetricsCollector(
        spark, sources, str(tmp_path / "metrics"), fetcher=fetcher
    )
    return c, calls


def test_cadence_and_ingest(spark, tmp_path):
    sources = [
        SourceConfig(name="fast", interval=1, json_path="$.count"),
        SourceConfig(name="slow", interval=5, json_path="$.count"),
        SourceConfig(name="off", active=False, interval=1),
    ]
    responses = {
        "fast": json.dumps({"count": 1.5}),
        "slow": json.dumps({"count": 2.5}),
        "off": json.dumps({"count": 99.0}),
    }
    c, calls = _collector(spark, tmp_path, sources, responses)

    # ticks at t=0..5: fast fires 6x, slow at t=0 and t=5 → 2x, off never
    for t in range(6):
        c.tick(tick_time=1_700_000_000 + t)

    assert calls.count("fast") == 6
    assert calls.count("slow") == 2
    assert calls.count("off") == 0

    df = read_metrics(spark, str(tmp_path / "metrics"))
    got = {
        r["name"]: r["n"]
        for r in df.groupBy("name").count().withColumnRenamed("count", "n").collect()
    }
    assert got == {"fast": 6, "slow": 2}
    # ingest-time stamping: timestamps == tick times
    ts = sorted(
        r["time"].timestamp()
        for r in df.filter("name = 'fast'").select("time").collect()
    )
    assert ts == [1_700_000_000 + t for t in range(6)]


def test_null_sample_dropped_and_failure_isolated(spark, tmp_path, caplog):
    sources = [
        SourceConfig(name="ok", interval=1),
        SourceConfig(name="nullv", interval=1),  # body lacks the path
        SourceConfig(name="boom", interval=1),  # fetch raises
    ]
    responses = {
        "ok": json.dumps({"count": 7.0}),
        "nullv": json.dumps({"other": 1}),
        "boom": RuntimeError("connection refused"),
    }
    c, _ = _collector(spark, tmp_path, sources, responses)
    with caplog.at_level(logging.WARNING, logger=ingest.__name__):
        written = c.tick(tick_time=1_700_000_000)
    assert written == 1  # only 'ok'; null dropped, failure isolated
    df = read_metrics(spark, str(tmp_path / "metrics"))
    assert [r["name"] for r in df.collect()] == ["ok"]
    logged = [r for r in caplog.records if r.name == ingest.__name__]
    assert [r.levelno for r in logged] == [logging.WARNING]
    assert "boom" in logged[0].getMessage()
    assert "connection refused" in logged[0].getMessage()


def test_custom_transform(spark, tmp_path):
    src = SourceConfig(
        name="csv", interval=1, transform=lambda body: float(body.split(",")[1])
    )
    c, _ = _collector(spark, tmp_path, [src], {"csv": "a,3.25,b"})
    c.tick(tick_time=1_700_000_000)
    df = read_metrics(spark, str(tmp_path / "metrics"))
    assert df.collect()[0]["value"] == 3.25


def _job_count(spark, group, action):
    """Run ``action`` under a fresh job group; returns how many Spark
    jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_tick_appends_without_parallelize(spark, tmp_path, monkeypatch):
    """A tick writes its batch from the driver as Arrow, so it never
    pickles rows through ``SparkContext.parallelize``."""
    from pyspark import SparkContext

    def refuse(*args, **kwargs):
        raise AssertionError("tick went through SparkContext.parallelize")

    monkeypatch.setattr(SparkContext, "parallelize", refuse)
    src = SourceConfig(name="s", interval=1)
    c, _ = _collector(spark, tmp_path, [src], {"s": json.dumps({"count": 4.0})})
    assert c.tick(tick_time=1_700_000_000) == 1
    monkeypatch.undo()
    rows = read_metrics(spark, str(tmp_path / "metrics")).collect()
    assert [(r["name"], r["value"]) for r in rows] == [("s", 4.0)]


def test_tick_writes_from_the_driver(spark, tmp_path):
    """A tick runs no Spark job: each due series gets one parquet file
    in its partition directory, which Spark reads back with the stored
    types, and the tick leaves no aside entries."""
    sources = [SourceConfig(name="a", interval=1), SourceConfig(name="b", interval=1)]
    body = json.dumps({"count": 2.0})
    c, _ = _collector(spark, tmp_path, sources, {"a": body, "b": body})
    path = str(tmp_path / "metrics")
    for t in range(2):
        tick = functools.partial(c.tick, tick_time=1_700_000_000 + t)
        assert _job_count(spark, f"tick-no-job-{t}", tick) == 0
    assert sorted(os.listdir(path)) == ["name=a", "name=b"]
    files = os.listdir(os.path.join(path, "name=a"))
    assert len(files) == 2
    assert all(f.startswith("part-") and f.endswith(".parquet") for f in files)
    inferred = spark.read.parquet(os.path.join(path, "name=a", files[0])).schema
    assert [(f.name, f.dataType.typeName()) for f in inferred] == [
        ("time", "timestamp_ntz"),
        ("value", "double"),
    ]
    assert read_metrics(spark, path).count() == 4


def test_append_crash_leaves_nothing_visible(spark, tmp_path, monkeypatch):
    """An append cut off before its rename leaves a hidden file that no
    read sees; the next collector start removes it."""
    src = SourceConfig(name="s", interval=1)
    c, _ = _collector(spark, tmp_path, [src], {"s": json.dumps({"count": 1.0})})
    c.tick(tick_time=1_700_000_000)
    path = str(tmp_path / "metrics")

    def rename(src_path, dst_path):
        raise OSError("injected crash")

    monkeypatch.setattr(os, "rename", rename)
    with pytest.raises(OSError, match="injected crash"):
        c.tick(tick_time=1_700_000_001)
    monkeypatch.undo()
    assert len(os.listdir(os.path.join(path, ".swap"))) == 1
    assert read_metrics(spark, path).count() == 1

    MetricsCollector(spark, [src], path)
    assert sorted(os.listdir(path)) == ["name=s"]
    assert read_metrics(spark, path).count() == 1


def _subsecond_ticks(spark, path):
    """Two ticks at a sub-second epoch with an int-valued extract;
    returns the landed (name, time, value) rows in time order."""
    src = SourceConfig(name="s", interval=1, transform=lambda body: int(body))
    c = MetricsCollector(spark, [src], path, fetcher=lambda s: "7")
    c.tick(tick_time=1_700_000_000.123456)
    c.tick(tick_time=1_700_000_001.5)
    rows = read_metrics(spark, path).orderBy("time").collect()
    return [(r["name"], r["time"], r["value"]) for r in rows]


def test_tick_subsecond_time_and_int_value(spark, tmp_path):
    got = _subsecond_ticks(spark, str(tmp_path / "metrics"))
    # exact µs, zone-less (the tick epoch read as UTC wall time)
    assert got == [
        ("s", datetime(2023, 11, 14, 22, 13, 20, 123456), 7.0),
        ("s", datetime(2023, 11, 14, 22, 13, 21, 500000), 7.0),
    ]
    assert all(type(v) is float for _, _, v in got)
    schema = read_metrics(spark, str(tmp_path / "metrics")).schema
    assert schema["time"].dataType.typeName() == "timestamp_ntz"


def test_tick_time_independent_of_session_timezone(spark, tmp_path):
    utc = _subsecond_ticks(spark, str(tmp_path / "utc"))
    key = "spark.sql.session.timeZone"
    prior = spark.conf.get(key)
    spark.conf.set(key, "America/Los_Angeles")
    try:
        la = _subsecond_ticks(spark, str(tmp_path / "la"))
    finally:
        spark.conf.set(key, prior)
    assert spark.conf.get(key) == "UTC"
    assert la == utc


def test_retention_strict_cutoff(spark, tmp_path):
    src = SourceConfig(name="s", interval=1)
    now = 1_700_000_000
    responses = {"s": json.dumps({"count": 1.0})}
    c, _ = _collector(spark, tmp_path, [src], responses)
    for t in range(5):
        c.tick(tick_time=now + t)
    path = str(tmp_path / "metrics")
    # the rule the driver-side rewrite must agree with, on the same rows
    rule = core.retention_filter(
        read_metrics(spark, path), retention_cutoff(2, now + 4), "time"
    )
    by_rule = sorted(r["time"] for r in rule.collect())
    # cutoff lands exactly ON the t=+2 sample: strict < keeps it
    survivors = apply_retention(
        spark, path, "s", age_seconds=2, now_epoch=now + 4
    )
    assert survivors == 3  # t=+2, +3, +4 survive; +0, +1 deleted
    df = read_metrics(spark, path)
    assert sorted(r["time"] for r in df.collect()) == by_rule
    ts = sorted(r["time"].timestamp() for r in df.collect())
    assert ts == [now + 2, now + 3, now + 4]
    # a finished swap leaves no aside copy, in the table or beside it
    assert ".swap" not in os.listdir(path)
    assert os.listdir(tmp_path) == ["metrics"]


def test_retention_compacts_to_one_time_sorted_file(
    spark, tmp_path, monkeypatch
):
    """Retention is the compaction: one tiny file per tick goes in, one
    time-sorted file comes out, every row kept, with no Spark job."""
    import pyarrow.parquet as pq

    # hold off the collector's own compaction so 12 files pile up
    monkeypatch.setattr(ingest, "COMPACT_EVERY", 100)
    src = SourceConfig(name="s", interval=1)
    now = 1_700_000_000
    c, _ = _collector(spark, tmp_path, [src], {"s": json.dumps({"count": 1.0})})
    for t in range(12):  # 12 ticks → 12 tiny files
        c.tick(tick_time=now + t)
    path = str(tmp_path / "metrics")
    part = os.path.join(path, "name=s")

    def files():
        return [f for f in os.listdir(part) if f.endswith(".parquet")]

    assert len(files()) >= 12
    before = sorted(r["time"] for r in read_metrics(spark, path).collect())

    survivors: list[int] = []

    def retain():
        # nothing is old enough to delete: a pure compaction
        survivors.append(apply_retention(spark, path, "s", 3600, now + 11))

    assert _job_count(spark, "compaction-no-job", retain) == 0
    assert survivors == [12]

    assert len(files()) == 1
    assert ".swap" not in os.listdir(path)
    after = read_metrics(spark, path).collect()
    assert sorted(r["time"] for r in after) == before  # lossless
    stored = pq.read_table(os.path.join(part, files()[0]))["time"].to_pylist()
    assert stored == sorted(stored) == before


def test_retention_pass_runs_no_job(spark, tmp_path):
    """Retention rewrites its partition on the driver: a pass starts no
    Spark job."""
    src = SourceConfig(name="s", interval=1)
    now = 1_700_000_000
    c, _ = _collector(spark, tmp_path, [src], {"s": json.dumps({"count": 1.0})})
    for t in range(3):
        c.tick(tick_time=now + t)
    path = str(tmp_path / "metrics")
    survivors: list[int] = []

    def retain():
        survivors.append(apply_retention(spark, path, "s", 1, now + 2))

    assert _job_count(spark, "retention-no-job", retain) == 0
    assert survivors == [2]


def test_retention_rewrites_a_spark_written_partition(spark, tmp_path):
    """A partition last rewritten by Spark holds Spark's part file, its
    ``_SUCCESS`` marker and ``.crc`` checksums, plus the driver's
    appends; the rewrite reads past the side files and leaves one file
    with every row."""
    from timeseries_data_provider_spark.streaming.retention import SERIES_SCHEMA

    now = 1_700_000_000
    path = str(tmp_path / "metrics")
    part = os.path.join(path, "name=s")
    # five rows from t=-10 s on (now is 2023-11-14 22:13:20 UTC)
    old = [(datetime(2023, 11, 14, 22, 13, 10 + i), float(i)) for i in range(5)]
    spark.createDataFrame(old, SERIES_SCHEMA).coalesce(1).write.parquet(part)
    side = [f for f in os.listdir(part) if f.startswith((".", "_"))]
    assert "_SUCCESS" in side and any(f.endswith(".crc") for f in side)

    src = SourceConfig(name="s", interval=1)
    c, _ = _collector(spark, tmp_path, [src], {"s": json.dumps({"count": 9.0})})
    for t in range(3):
        c.tick(tick_time=now + t)
    before = sorted(read_metrics(spark, path).collect())
    assert len(before) == 8

    assert apply_retention(spark, path, "s", 3600, now + 3) == 8
    assert len(os.listdir(part)) == 1
    assert os.listdir(part)[0].endswith(".parquet")
    assert ".swap" not in os.listdir(path)
    assert sorted(read_metrics(spark, path).collect()) == before


def test_every_series_stays_compacted(spark, tmp_path):
    """Over 150 injected ticks, with and without hourly retention and
    with fetches that fail, no partition ever holds more than
    ``COMPACT_EVERY + 1`` files and no appended row is lost."""
    sources = [
        SourceConfig(name="plain1", interval=1),
        SourceConfig(name="plain3", interval=3),
        SourceConfig(name="flaky", interval=1),
        SourceConfig(name="hourly1", interval=1, remove_interval=3600, remove_age=3600),
        SourceConfig(name="hourly2", interval=2, remove_interval=3600, remove_age=3600),
    ]
    now = 1_700_000_000
    cur = {"t": 0}

    def fetcher(src):
        if src.name == "flaky" and cur["t"] % 7 == 3:
            raise RuntimeError("planted failure")
        return json.dumps({"count": float(cur["t"])})

    path = str(tmp_path / "metrics")
    c = MetricsCollector(spark, sources, path, fetcher=fetcher)
    expected: dict[str, list[int]] = {s.name: [] for s in sources}
    most = 0
    for t in range(150):
        cur["t"] = t
        c.tick(tick_time=now + t)
        for s in sources:
            if t % s.interval == 0 and not (s.name == "flaky" and t % 7 == 3):
                expected[s.name].append(now + t)
        for entry in os.listdir(path):
            most = max(most, len(os.listdir(os.path.join(path, entry))))
    assert most <= ingest.COMPACT_EVERY + 1
    rows = read_metrics(spark, path).collect()
    got: dict[str, list[int]] = {s.name: [] for s in sources}
    for r in rows:
        got[r["name"]].append(int(r["time"].timestamp()))
        assert r["value"] == r["time"].timestamp() - now
    assert {n: sorted(v) for n, v in got.items()} == expected


def test_retention_of_escaped_series_names(spark, tmp_path):
    """Spark's partitioned writer escapes ``:``, ``/``, ``=``, ``%`` and
    ``?`` in a partition value; the append and retention find the same
    directory, so every series reads back and loses its old rows."""
    names = ["cpu:load", "a/b", "x=y", "50%", "q?", "temp °C"]
    sources = [SourceConfig(name=n, interval=1) for n in names]
    body = json.dumps({"count": 1.0})
    c, _ = _collector(spark, tmp_path, sources, {n: body for n in names})
    now = 1_700_000_000
    for t in range(3):
        c.tick(tick_time=now + t)
    path = str(tmp_path / "metrics")
    assert "name=cpu%3Aload" in os.listdir(path)

    def counts():
        df = read_metrics(spark, path).groupBy("name").count()
        return {r["name"]: r["count"] for r in df.collect()}

    assert counts() == {n: 3 for n in names}
    for n in names:
        # cutoff lands on the t=+1 sample: t=+0 goes
        assert apply_retention(spark, path, n, 1, now + 2) == 2
    assert counts() == {n: 2 for n in names}
    assert len(os.listdir(path)) == len(names)


def test_retention_via_scheduler(spark, tmp_path):
    src = SourceConfig(
        name="s", interval=1, remove_interval=3, remove_age=2
    )
    now = 1_700_000_000
    c, _ = _collector(spark, tmp_path, [src], {"s": json.dumps({"count": 1.0})})
    # t=0: collect + retention both fire (lastRemove=0 epoch)
    for t in range(7):
        c.tick(tick_time=now + t)
    df = read_metrics(spark, str(tmp_path / "metrics"))
    ts = sorted(r["time"].timestamp() for r in df.collect())
    # retention last fired at t=+6 with age=2 → strict <, +4 survives
    assert ts[0] >= now + 4
    assert ts[-1] == now + 6


def test_swap_crash_recovered_on_collector_start(spark, tmp_path, monkeypatch):
    """A rewrite whose aside write fails leaves the live series as it
    was. A crash between the swap's two renames leaves the series
    aside; the next collector start renames the old copy back."""
    from timeseries_data_provider_spark.streaming import retention

    src = SourceConfig(name="s", interval=1)
    now = 1_700_000_000
    c, _ = _collector(spark, tmp_path, [src], {"s": json.dumps({"count": 1.0})})
    for t in range(4):
        c.tick(tick_time=now + t)
    path = str(tmp_path / "metrics")
    before = sorted(read_metrics(spark, path).collect())

    def write_series_file(table, file_path):
        with open(file_path, "wb") as f:
            f.write(b"PAR1")  # a torn file, then the disk fills
        raise OSError("injected write failure")

    monkeypatch.setattr(retention, "write_series_file", write_series_file)
    with pytest.raises(OSError, match="injected write failure"):
        apply_retention(spark, path, "s", age_seconds=1, now_epoch=now + 3)
    monkeypatch.undo()
    assert sorted(read_metrics(spark, path).collect()) == before
    assert ".swap" not in os.listdir(path)

    real_rename = os.rename
    calls: list[str] = []

    def rename(src_path, dst_path):
        # the process dies at the second rename: nothing after it runs
        calls.append(src_path)
        if len(calls) >= 2:
            raise OSError("injected crash")
        real_rename(src_path, dst_path)

    monkeypatch.setattr(os, "rename", rename)
    with pytest.raises(OSError, match="injected crash"):
        apply_retention(spark, path, "s", age_seconds=1, now_epoch=now + 3)
    monkeypatch.undo()
    assert not os.path.exists(os.path.join(path, "name=s"))

    MetricsCollector(spark, [src], path)
    assert sorted(read_metrics(spark, path).collect()) == before
    assert ".swap" not in os.listdir(path)
    # recovery on a table that does not exist does nothing
    MetricsCollector(spark, [src], str(tmp_path / "absent"))
    assert not os.path.exists(tmp_path / "absent")


def test_failed_append_does_not_fail_later_ticks(spark, tmp_path, monkeypatch):
    """A write that fails once leaves a torn file aside; the next ticks
    land their samples and return normally, and the file stays hidden
    until the next collector start removes it."""
    src = SourceConfig(name="s", interval=1)
    c, _ = _collector(spark, tmp_path, [src], {"s": json.dumps({"count": 1.0})})
    path = str(tmp_path / "metrics")

    def write_series_file(table, file_path):
        with open(file_path, "wb") as f:
            f.write(b"PAR1")  # a torn file, then the disk fills
        raise OSError("injected write failure")

    monkeypatch.setattr(ingest, "write_series_file", write_series_file)
    with pytest.raises(OSError, match="injected write failure"):
        c.tick(tick_time=1_700_000_000)
    monkeypatch.undo()
    for t in (1, 2):
        assert c.tick(tick_time=1_700_000_000 + t) == 1
    assert len(os.listdir(os.path.join(path, ".swap"))) == 1
    assert read_metrics(spark, path).count() == 2

    MetricsCollector(spark, [src], path)
    assert sorted(os.listdir(path)) == ["name=s"]
    assert read_metrics(spark, path).count() == 2


def _until(cond, timeout: float = 20.0) -> bool:
    """Poll ``cond`` until it holds or ``timeout`` seconds pass."""
    deadline = time.monotonic() + timeout
    while not cond():
        if time.monotonic() > deadline:
            return False
        time.sleep(0.05)
    return True


def _count_ticks(c: MetricsCollector) -> dict[str, int]:
    """Shadow ``c.tick`` with a wrapper counting started and finished
    ticks (the clock thread calls ``self.tick``)."""
    n = {"started": 0, "finished": 0}
    real = c.tick

    def tick(*args):
        n["started"] += 1
        try:
            return real(*args)
        finally:
            n["finished"] += 1

    c.tick = tick
    return n


def test_started_collector_lands_samples_without_a_stream(spark, tmp_path):
    """``start`` ticks on a driver thread: samples land, and no
    Structured Streaming query runs meanwhile."""
    before = [q.id for q in spark.streams.active]
    src = SourceConfig(name="live", interval=1)
    c, _ = _collector(spark, tmp_path, [src], {"live": json.dumps({"count": 5.0})})
    path = str(tmp_path / "metrics")
    streams: list[list[str]] = []

    def landed() -> bool:
        streams.append([q.id for q in spark.streams.active])
        return os.path.isdir(path) and read_metrics(spark, path).count() >= 2

    c.start(0.2)
    try:
        assert _until(landed)
    finally:
        c.stop()
    assert all(ids == before for ids in streams)


def test_idle_collector_writes_nothing(spark, tmp_path):
    """With no source due, about 1 s of ticks fetches nothing and
    writes nothing anywhere under the test's directory."""
    src = SourceConfig(name="idle", interval=3600)
    c, calls = _collector(spark, tmp_path, [src], {"idle": "{}"})
    c.state["idle"].last_run = time.time()
    n = _count_ticks(c)
    c.start(0.2)
    try:
        time.sleep(1.0)
    finally:
        c.stop()
    assert n["finished"] >= 2
    assert calls == []
    assert os.listdir(tmp_path) == []


def test_stop_waits_for_the_tick_in_progress(spark, tmp_path):
    """``stop`` returns after the running tick has landed its sample,
    and no tick starts after it."""
    fetching = threading.Event()

    def fetcher(src: SourceConfig) -> str:
        fetching.set()
        time.sleep(0.3)
        return json.dumps({"count": 1.0})

    path = str(tmp_path / "metrics")
    c = MetricsCollector(
        spark, [SourceConfig(name="s", interval=3600)], path, fetcher=fetcher
    )
    n = _count_ticks(c)
    c.start(0.05)
    assert fetching.wait(20)
    c.stop()
    assert n["started"] == n["finished"] >= 1
    assert read_metrics(spark, path).count() == 1
    time.sleep(0.3)
    assert n["started"] == n["finished"]
    assert not c._clock.is_alive()


def test_source_at_the_trigger_interval_fires_every_tick(spark, tmp_path):
    """Ticks start ``trigger_seconds`` apart on the collector's clock,
    so a source with that interval is due on each one."""
    src = SourceConfig(name="s", interval=0.2)
    c, calls = _collector(spark, tmp_path, [src], {"s": json.dumps({"count": 1.0})})
    n = _count_ticks(c)
    c.start(0.2)
    try:
        assert _until(lambda: n["finished"] >= 4)
    finally:
        c.stop()
    assert len(calls) == n["finished"]
    assert read_metrics(spark, str(tmp_path / "metrics")).count() == len(calls)


def test_failed_tick_is_logged_and_the_clock_goes_on(
    spark, tmp_path, monkeypatch, caplog
):
    """A tick that raises is logged at ERROR; the next ticks still land
    their samples past the torn file it left aside, and log nothing."""
    caplog.set_level(logging.ERROR, logger=ingest.__name__)
    src = SourceConfig(name="s", interval=0.2)
    c, _ = _collector(spark, tmp_path, [src], {"s": json.dumps({"count": 1.0})})
    path = str(tmp_path / "metrics")
    real = ingest.write_series_file
    failed: list[str] = []

    def write_series_file(table, file_path):
        if not failed:
            failed.append(file_path)
            with open(file_path, "wb") as f:
                f.write(b"PAR1")
            raise OSError("injected write failure")
        real(table, file_path)

    monkeypatch.setattr(ingest, "write_series_file", write_series_file)
    c.start(0.2)
    try:
        assert _until(
            lambda: os.path.isdir(os.path.join(path, "name=s"))
            and read_metrics(spark, path).count() >= 2
        )
    finally:
        c.stop()
    errors = [r for r in caplog.records if r.name == ingest.__name__]
    assert [r.levelno for r in errors] == [logging.ERROR]
    assert "injected write failure" in caplog.text


def test_collector_replay_matches_hand_trace(spark, tmp_path):
    """The declared q65 replay (streaming/ingest.collector_replay):
    hand-computed per-source expectations for the 60-tick trace —
    cadence, null-guard slot consumption, failure-isolation slot
    consumption, inactive/zero-interval exclusion, ingest stamps."""
    from timeseries_data_provider_spark.streaming.ingest import (
        collector_replay,
    )

    out = {
        r["name"]: r.asDict()
        for r in collector_replay(
            spark,
            n_ticks=60,
            base_epoch=1_000_000_000,
            table_path=str(tmp_path / "replay"),
        ).collect()
    }
    # x (inactive) and z (interval 0) never write
    assert set(out) == {"a", "b", "c", "d", "e"}

    def expect(ord_, step):
        fires = [i for i in range(60) if i % step == 0]
        return {
            "n_points": len(fires),
            "sum_value": sum(ord_ * 100 + i for i in fires),
            "first_ms": 1_000_000_000_000,
            "last_ms": (1_000_000_000 + fires[-1]) * 1000,
        }

    # a/b/c plain cadence; d fires i%4 but only even fires have the
    # key (rows i%8); e fires i%6 but odd fires raise (rows i%12)
    for name, ord_, step in [
        ("a", 1, 2), ("b", 2, 3), ("c", 3, 5), ("d", 4, 8), ("e", 5, 12)
    ]:
        want = expect(ord_, step)
        got = {k: out[name][k] for k in want}
        assert got == want, (name, got, want)


def test_corpus_ingest_stream_incremental_dedup(spark, tmp_path):
    """File-source corpus ingestion: two waves of JSON document files
    through ingest_documents_stream — wave 2 contains an exact copy of
    a wave-1 doc (must be dropped via the SIGNATURE INDEX, the settled
    text is never re-read) and an in-batch twin pair (lower id kept).
    The signature index grows by exactly the accepted docs, so wave 3
    would see waves 1+2 as corpus."""
    import json as _json

    from timeseries_data_provider_spark.streaming.corpus_ingest import (
        ingest_documents_stream,
    )

    src = tmp_path / "incoming"
    src.mkdir()
    root = str(tmp_path / "corpus")

    def write_wave(name, rows):
        with open(src / name, "w") as f:
            for doc_id, text in rows:
                f.write(_json.dumps({"doc_id": doc_id, "text": text}) + "\n")

    t_a = "alpha beta gamma delta epsilon zeta eta theta"
    t_b = "one two three four five six seven eight nine"
    t_c = "red orange yellow green blue indigo violet and more"
    write_wave("wave1.json", [(1, t_a), (2, t_b)])

    q = ingest_documents_stream(spark, str(src), root, min_est=1.0)
    try:
        q.processAllAvailable()
        # wave 2: 3 = copy of doc 1 (corpus dup), 4/5 = in-batch twins,
        # 6 = fresh
        write_wave("wave2.json", [(3, t_a), (4, t_c), (5, t_c), (6, t_b + " extra")])
        q.processAllAvailable()
    finally:
        q.stop()

    docs = {
        r["doc_id"] for r in spark.read.parquet(root + "/docs").collect()
    }
    assert docs == {1, 2, 4, 6}, docs  # 3 (corpus dup) and 5 (twin) dropped
    sigs = spark.read.parquet(root + "/signatures")
    assert {r["doc_id"] for r in sigs.select("doc_id").collect()} == docs
    dups = spark.read.parquet(root + "/dups").collect()
    got = {(r["doc_a"], r["doc_b"], r["source"]) for r in dups}
    assert (1, 3, "corpus") in got, got
    assert (4, 5, "batch") in got, got
    for r in dups:
        assert r["est_jaccard"] == 1.0


def test_corpus_ingest_stream_maintains_window_index(spark, tmp_path):
    """substr_k wires incremental SUBSTRING dedup into the same loop:
    a wave-2 doc repeating a settled wave-1 paragraph is flagged with
    the exact span via the persisted WINDOW INDEX (settled text never
    re-read), and the index grows by exactly the accepted docs' new
    windows so wave 3 would see waves 1+2."""
    import json as _json

    from timeseries_data_provider_spark.streaming.corpus_ingest import (
        ingest_documents_stream,
    )

    src = tmp_path / "incoming"
    src.mkdir()
    root = str(tmp_path / "corpus")

    def write_wave(name, rows):
        with open(src / name, "w") as f:
            for doc_id, text in rows:
                f.write(_json.dumps({"doc_id": doc_id, "text": text}) + "\n")

    para = "tpl0 tpl1 tpl2 tpl3 tpl4"
    write_wave("wave1.json", [(1, f"{para} tail1"), (2, "u0 u1 u2 u3 u4 u5")])
    q = ingest_documents_stream(
        spark, str(src), root, min_est=1.0, substr_k=3
    )
    try:
        q.processAllAvailable()
        # doc 10 repeats the settled paragraph mid-text; doc 11 fresh
        write_wave(
            "wave2.json",
            [(10, f"x10 {para} y10"), (11, "v0 v1 v2 v3 v4 v5")],
        )
        q.processAllAvailable()
    finally:
        q.stop()

    spans = spark.read.parquet(root + "/substr_spans").collect()
    # wave 1 lands on an empty index: no spans; wave 2: doc 10's
    # paragraph at tokens 2-6
    assert [
        (r["doc_id"], r["start_tok"], r["end_tok"], r["batch_id"])
        for r in spans
    ] == [(10, 2, 6, 1)]
    # window index covers every accepted doc's distinct 3-gram windows
    idx = spark.read.parquet(root + "/windows")
    n_windows = idx.count()
    assert idx.select("w").distinct().count() == n_windows  # no dupes
    texts = {
        1: f"{para} tail1",
        2: "u0 u1 u2 u3 u4 u5",
        10: f"x10 {para} y10",
        11: "v0 v1 v2 v3 v4 v5",
    }
    want = set()
    for t in texts.values():
        ws = t.split(" ")
        for p in range(len(ws) - 2):
            want.add(" ".join(ws[p : p + 3]))
    assert {r["w"] for r in idx.collect()} == want


def test_ensure_window_index_backfills_from_settled_docs(spark, tmp_path):
    """Enabling substr_k on a corpus ingested BEFORE the feature must
    backfill the window index from the settled documents, not
    bootstrap empty (review finding: pre-existing docs were silently
    never span-checked)."""
    from pyspark.sql import functions as F

    from timeseries_data_provider_spark.streaming.corpus_ingest import (
        ensure_window_index,
    )

    root = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(1, "a b c d"), (2, "e f g h")], "doc_id long, text string"
    ).withColumn("batch_id", F.lit(0)).write.parquet(root + "/docs")
    ensure_window_index(spark, root, k=3)
    idx = {
        r["w"] for r in spark.read.parquet(root + "/windows").collect()
    }
    assert idx == {"a b c", "b c d", "e f g", "f g h"}


def test_ensure_signature_index_refuses_to_overwrite_unreadable(
    spark, tmp_path
):
    """A transient/corrupt read of the signature index must RAISE, not
    silently bootstrap an empty index over the settled corpus's dedup
    state."""
    import pytest as _pytest

    from timeseries_data_provider_spark.streaming.corpus_ingest import (
        ensure_signature_index,
    )

    root = tmp_path / "corpus"
    root.mkdir()
    sig = root / "signatures"
    sig.mkdir()
    (sig / "part-00000.parquet").write_bytes(b"not a parquet file")
    with _pytest.raises(Exception):
        ensure_signature_index(spark, str(root))
    # the garbage file is untouched — nothing overwrote it
    assert (sig / "part-00000.parquet").read_bytes() == b"not a parquet file"


def test_retrofit_pre_feature_window_index_mixed_schema(spark, tmp_path):
    """A windows index built by pre-batch-stamp code (column ``w``
    only) keeps correct settled semantics once stamped appends land
    beside it (review finding: a plain read inferred the schema from
    ONE arbitrary file — old-file inference let a replay see its own
    windows as settled, new-file inference read every pre-feature
    window as null and silently dropped the settled corpus from span
    detection). The merged read + coalesce must (a) detect a batch
    doc repeating a PRE-FEATURE settled paragraph, (b) stay
    replay-safe, and (c) converge to one schema after reconcile."""
    from pyspark.sql import functions as F

    from timeseries_data_provider_spark.streaming import (
        corpus_ingest as ci,
    )

    root = str(tmp_path / "corpus")
    para = "tpl0 tpl1 tpl2 tpl3 tpl4"
    # pre-feature root: docs + a w-ONLY window index (what r8's loop
    # wrote), signatures bootstrapped empty
    ci.ensure_signature_index(spark, root)
    spark.createDataFrame(
        [(1, f"{para} tail1")], "doc_id long, text string"
    ).withColumn("batch_id", F.lit(0)).write.parquet(root + "/docs")
    from timeseries_data_provider_spark.operators.dedup import (
        substring_window_index,
    )

    substring_window_index(
        spark.read.parquet(root + "/docs"), k=3
    ).write.parquet(root + "/windows")
    assert spark.read.parquet(root + "/windows").columns == ["w"]

    # batch 5: doc 10 repeats the PRE-FEATURE settled paragraph; its
    # append stamps batch_id -> the directory now mixes schemas
    b = spark.createDataFrame(
        [(10, f"x10 {para} y10")], ci.DOC_SCHEMA
    )
    ci.process_corpus_batch(spark, b, 5, root, min_est=1.0, substr_k=3)
    spans = spark.read.parquet(root + "/substr_spans").collect()
    assert [
        (r["doc_id"], r["start_tok"], r["end_tok"]) for r in spans
    ] == [(10, 2, 6)]

    # replay of batch 5 on the mixed directory: its own windows must
    # NOT count as settled (no spurious full-coverage span), and the
    # pre-feature windows must still be seen
    ci.process_corpus_batch(spark, b, 5, root, min_est=1.0, substr_k=3)
    replay_spans = spark.read.parquet(root + "/substr_spans").collect()
    assert {
        (r["doc_id"], r["start_tok"], r["end_tok"]) for r in replay_spans
    } == {(10, 2, 6)}

    # reconcile converges the index to ONE schema: every file carries
    # batch_id, pre-feature rows stamped settled-before-everything
    ci.reconcile_ingest_root(spark, root)
    idx = spark.read.parquet(root + "/windows")
    assert set(idx.columns) == {"w", "batch_id"}
    rows = idx.collect()
    assert all(r["batch_id"] is not None for r in rows)
    assert {r["batch_id"] for r in rows} == {-1, 5}
    # and a second reconcile is a no-op (no needs_stamp retrigger)
    again = ci.reconcile_ingest_root(spark, root)
    assert all(v["before"] == v["after"] for v in again.values())


def test_source_config_extract_supports_array_paths():
    """extract() implements the documented get_json_object subset —
    array indexing included (review finding: the old dict-only walk
    silently dropped every sample for '$.data[0].count'-style paths
    that the batch json_scalar path serves fine)."""
    from timeseries_data_provider_spark.streaming.config import SourceConfig

    c = SourceConfig(
        name="x", interval=1, url="http://x", json_path="$.data[0].count"
    )
    assert c.extract('{"data": [{"count": 7}]}') == 7.0
    assert c.extract('{"data": []}') is None  # out-of-range -> null guard
    assert c.extract('{"error": "boom"}') is None
    plain = SourceConfig(name="y", interval=1, url="http://y")
    assert plain.extract('{"count": 3.5}') == 3.5


def test_reconcile_ingest_root_heals_every_crash_gap(
    spark, tmp_path, monkeypatch
):
    """The at-least-once recovery loop, proven end-to-end: for EVERY
    gap between the five per-batch appends (after spans, windows,
    docs, signatures), a batch that crashes in that gap and is then
    replayed (same batch + batch_id — exactly what the streaming
    checkpoint re-offers on restart), followed by
    reconcile_ingest_root, yields a root IDENTICAL to the no-crash
    control run — and a second reconcile pass is a no-op. For one gap
    the reconcile itself dies mid-rewrite first: every row it found
    must still be readable, and the next reconcile still heals."""
    import shutil

    from pyspark.sql import DataFrameWriter

    from timeseries_data_provider_spark.streaming import (
        corpus_ingest as ci,
    )

    para = "tpl0 tpl1 tpl2 tpl3 tpl4"
    wave1 = [(1, f"{para} tail1"), (2, "u0 u1 u2 u3 u4 u5")]
    # 3 = exact copy of settled doc 1 (corpus dup, dropped); 10
    # repeats the settled paragraph (span evidence); 11 fresh
    wave2 = [
        (3, f"{para} tail1"),
        (10, f"x10 {para} y10"),
        (11, "v0 v1 v2 v3 v4 v5"),
    ]
    kw = dict(min_est=1.0, substr_k=3)

    def run(root, gap):
        ci.ensure_signature_index(spark, root)
        ci.ensure_window_index(spark, root, k=3)
        b0 = spark.createDataFrame(wave1, ci.DOC_SCHEMA)
        b1 = spark.createDataFrame(wave2, ci.DOC_SCHEMA)
        ci.process_corpus_batch(spark, b0, 0, root, **kw)
        if gap is not None:
            with pytest.raises(ci._InjectedCrash):
                ci.process_corpus_batch(
                    spark, b1, 1, root, _fail_after=gap, **kw
                )
        ci.process_corpus_batch(spark, b1, 1, root, **kw)
        return root

    def snap(root):
        out = {}
        for name in [
            "docs", "signatures", "windows", "substr_spans", "dups",
        ]:
            df = spark.read.parquet(f"{root}/{name}")
            out[name] = sorted(tuple(r) for r in df.collect())
        return out

    control = snap(run(str(tmp_path / "control"), None))
    # sanity on the control itself: doc 3 dropped, doc 10's span found
    assert [t[0] for t in control["docs"]] == [1, 2, 10, 11]
    assert [(t[0], t[2], t[3]) for t in control["substr_spans"]] == [
        (10, 2, 6)
    ]

    def dying_write(self, path, *args, **kwargs):
        # one call only: a job that dies after Overwrite has already
        # deleted its target
        monkeypatch.undo()
        shutil.rmtree(path, ignore_errors=True)
        raise RuntimeError("injected job failure")

    for gap in ["spans", "windows", "docs", "signatures"]:
        root = run(str(tmp_path / f"crash_{gap}"), gap)
        if gap == "docs":
            replayed = snap(root)
            assert replayed != control  # there is something to rewrite
            monkeypatch.setattr(DataFrameWriter, "parquet", dying_write)
            with pytest.raises(RuntimeError, match="injected job failure"):
                ci.reconcile_ingest_root(spark, root)
            assert snap(root) == replayed
            assert ".swap" not in os.listdir(root)
        ci.reconcile_ingest_root(spark, root)
        assert snap(root) == control, f"gap={gap}"
        again = ci.reconcile_ingest_root(spark, root)
        assert all(
            v["before"] == v["after"] for v in again.values()
        ), (gap, again)

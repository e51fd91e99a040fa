"""Physical-layout tests: bucketed co-located joins, salted skew joins,
clustered and sharded writes — the write-side half of the 100 TB story
(the metrics compaction is retention's rewrite, tested with it)."""

from __future__ import annotations

import io
import os
from contextlib import redirect_stdout
from datetime import datetime

import pytest
from pyspark.sql import functions as F


def explain_str(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    from timeseries_data_provider_spark import tables
    from tests.conftest import SF_SMOKE

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orders = tables.load_table(spark, SF_SMOKE, "orders")
        lineitem = tables.load_table(spark, SF_SMOKE, "lineitem")
        tables.write_bucketed(
            orders, "b_orders", ["o_orderkey"], 4, ["o_orderkey"]
        )
        tables.write_bucketed(
            lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
            "b_lineitem",
            ["o_orderkey"],
            4,
            ["o_orderkey"],
        )
        j = spark.table("b_orders").join(spark.table("b_lineitem"), "o_orderkey")
        plan = explain_str(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join should not shuffle"
        # and it computes the right thing
        assert j.count() == lineitem.count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_salted_join_matches_plain_join(spark):
    from timeseries_data_provider_spark.functions.skew import salted_join

    # skewed fact: 10k rows, 95% on one key
    fact = spark.range(10_000).select(
        F.when(F.col("id") % 20 != 0, F.lit(1))
        .otherwise(F.col("id"))
        .alias("k"),
        F.col("id").alias("row_id"),
    )
    dim = spark.range(10_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("w")
    )
    plain = fact.join(dim, ["k"]).select("row_id", "w")
    salted = salted_join(
        fact, dim, ["k"], factor=8, salt_from=["row_id"]
    ).select("row_id", "w")
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_salted_join_rejects_constant_salt(spark):
    # a salt hashed only from the join key is constant per key — the
    # call must fail loudly instead of silently not spreading (ADVICE r1)
    from timeseries_data_provider_spark.functions.skew import salted_join

    fact = spark.range(10).select(
        F.lit(1).alias("k"), F.col("id").alias("row_id")
    )
    dim = spark.range(10).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="constant per key"):
        salted_join(fact, dim, ["k"], salt_from=["k"])
    with pytest.raises(ValueError, match="salt_from"):
        salted_join(fact, dim, ["k"], salt_from=[])


def test_salt_spreads_hot_key(spark):
    from timeseries_data_provider_spark.functions.skew import with_salt

    fact = spark.range(1000).select(
        F.lit(1).alias("k"), F.col("id").alias("row_id")
    )
    salted = with_salt(fact, ["row_id"], 8)
    counts = [
        r["n"]
        for r in salted.groupBy("__salt").agg(F.count("*").alias("n")).collect()
    ]
    assert len(counts) == 8  # all salt values used
    assert max(counts) < 1000 * 0.3  # no single salt holds the key

def test_ivf_layout_probe_is_partition_pruned(spark, tmp_path):
    """The materialized IVF index must turn probing into a
    partition-pruned scan (PartitionFilters on centroid_id) and return
    exactly what the runtime-assignment ivf_topk computes for the same
    centroids/nprobe — minus the self-match, since the layout probe
    takes a raw query vector rather than a corpus id."""
    from timeseries_data_provider_spark import tables
    from timeseries_data_provider_spark.operators import similarity
    from tests.conftest import SF_SMOKE

    e = tables.load_table(spark, SF_SMOKE, "embeddings")
    path = str(tmp_path / "ivf")
    similarity.write_ivf_layout(e, path, num_centroids=8)

    qvec = [
        float(x)
        for x in e.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    probed = similarity.ivf_topk_from_layout(
        spark, path, qvec, k=11, nprobe=3
    )
    plan = explain_str(probed)
    assert "PartitionFilters" in plan and "centroid_id" in plan, plan[:1500]

    # equivalence with the runtime-assignment form (same seed centroids
    # by construction: lowest vec_ids); drop vec_id 0 (the query itself,
    # sim 1.0) from the layout result to align the exclusion semantics
    got = [
        (r["vec_id"], r["sim"])
        for r in probed.collect()
        if r["vec_id"] != 0
    ][:10]
    want = [
        (r["vec_id"], r["sim"])
        for r in similarity.ivf_topk(
            e, query_vec_id=0, k=10, num_centroids=8, nprobe=3
        ).collect()
    ]
    assert got == want


def test_write_training_shards_layout(spark, tmp_path):
    import glob

    from timeseries_data_provider_spark import tables
    from timeseries_data_provider_spark.operators import pipeline
    from tests.conftest import SF_SMOKE

    docs = tables.load_table(spark, SF_SMOKE, "documents")
    path = str(tmp_path / "shards")
    n_shards = 8
    manifest = pipeline.write_training_shards(docs, path, n_shards=n_shards)

    data = spark.read.parquet(path + "/data")
    # lossless: every row lands exactly once
    assert data.count() == docs.count()
    assert (
        data.select("doc_id").distinct().count()
        == docs.select("doc_id").distinct().count()
    )
    # membership is the pure id function, independent of input layout
    mismatch = data.filter(
        F.col("shard") != pipeline.shard_assignment("doc_id", n_shards)
    ).count()
    assert mismatch == 0
    # exactly one data file per non-empty shard directory
    for d in glob.glob(path + "/data/shard=*"):
        files = [f for f in glob.glob(d + "/*.parquet")]
        assert len(files) == 1, f"{d}: {files}"
    # manifest counts what actually landed
    m = {r["shard"]: r["rows"] for r in manifest.collect()}
    actual = {
        r["shard"]: r["n"]
        for r in data.groupBy("shard").agg(F.count("*").alias("n")).collect()
    }
    assert m == actual and sum(m.values()) == docs.count()
    # a shard-filtered read is partition-pruned, not a full scan
    probe = spark.read.parquet(path + "/data").filter(F.col("shard") == 3)
    plan = explain_str(probe)
    assert "PartitionFilters" in plan and "shard" in plan

    # re-run writes the identical membership (deterministic layout)
    path2 = str(tmp_path / "shards2")
    pipeline.write_training_shards(
        docs.repartition(13), path2, n_shards=n_shards
    )
    a = sorted(
        (r["doc_id"], r["shard"])
        for r in spark.read.parquet(path + "/data")
        .select("doc_id", "shard")
        .collect()
    )
    b = sorted(
        (r["doc_id"], r["shard"])
        for r in spark.read.parquet(path2 + "/data")
        .select("doc_id", "shard")
        .collect()
    )
    assert a == b


def test_write_training_shards_rejects_null_ids(spark, tmp_path):
    from timeseries_data_provider_spark.operators import pipeline

    df = spark.createDataFrame(
        [(1, "a"), (None, "b")], "doc_id long, text string"
    )
    with pytest.raises(Exception, match="NULL 'doc_id'"):
        pipeline.write_training_shards(
            df, str(tmp_path / "null_shards"), n_shards=4
        )


def test_ivf_sq8_layout_probe_prunes_columns_and_partitions(spark, tmp_path):
    """The quantized IVF layout composes partition pruning (nprobe
    centroid dirs), COLUMN pruning (the candidate scan reads q/qnorm,
    never the float embedding), and the exact re-rank: its top-k must
    equal the float layout probe's on the same layout/centroids, and
    the plan must show a scan whose ReadSchema carries the code
    columns without the embedding column."""
    from timeseries_data_provider_spark import tables
    from timeseries_data_provider_spark.operators import similarity
    from tests.conftest import SF_SMOKE

    e = tables.load_table(spark, SF_SMOKE, "embeddings")
    path = str(tmp_path / "ivf_sq8")
    similarity.write_ivf_layout(e, path, num_centroids=8, quantize=True)

    qvec = [
        float(x)
        for x in e.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    sq8 = similarity.ivf_topk_sq8_from_layout(
        spark, path, qvec, k=11, nprobe=3, refine=4
    )
    plan = explain_str(sq8)
    assert "PartitionFilters" in plan and "centroid_id" in plan, plan[:1500]
    # the candidate-stage scan reads codes, not floats
    assert any(
        "qnorm" in line and "embedding" not in line
        for line in plan.splitlines()
        if "ReadSchema" in line
    ), plan[:3000]

    flt = similarity.ivf_topk_from_layout(spark, path, qvec, k=11, nprobe=3)
    assert [(r["vec_id"], r["sim"]) for r in sq8.collect()] == [
        (r["vec_id"], r["sim"]) for r in flt.collect()
    ]

    # a layout written without codes refuses the quantized probe loudly
    path2 = str(tmp_path / "ivf_plain")
    similarity.write_ivf_layout(e, path2, num_centroids=8)
    with pytest.raises(ValueError, match="no code columns"):
        similarity.ivf_topk_sq8_from_layout(spark, path2, qvec)


def test_range_clustered_layout_skips_row_groups(spark, tmp_path):
    """write_range_clustered: a point/range predicate on the cluster
    column decodes a small fraction of the table; the same data
    written hash-scattered decodes everything. Measured via executed-
    plan scan metrics (planstats) — cache-independent."""
    from pyspark.sql import functions as F

    from timeseries_data_provider_spark import planstats, tables

    n = 400_000
    df = spark.range(n).select(
        F.col("id").alias("k"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    )
    clustered = str(tmp_path / "clustered")
    scattered = str(tmp_path / "scattered")
    tables.write_range_clustered(
        df, clustered, ["k"], num_files=8, row_group_bytes=1024 * 1024
    )
    # scattered control: same rows, order destroyed by hashing the key
    (
        df.repartition(8, F.md5(F.col("k").cast("string")))
        .write.mode("overwrite")
        .option("parquet.block.size", 1024 * 1024)
        .parquet(scattered)
    )

    def decoded(path):
        q = (
            spark.read.parquet(path)
            .filter((F.col("k") >= 100_000) & (F.col("k") < 101_000))
            .select("k")
        )
        assert q.count() == 1_000
        q.collect()
        return max(s["output_rows"] for s in planstats.scan_stats(q))

    d_clustered = decoded(clustered)
    d_scattered = decoded(scattered)
    # clustered: the 1k-row slice lives in one narrow range of one
    # file — decoding must skip the overwhelming majority of rows.
    # The scattered control still skips SOME pages (hash repartition
    # preserves ascending runs within each output partition, so page
    # min/max are not maximally wide) — the pinned claim is relative:
    # clustering must beat the scattered layout by a wide margin.
    assert d_clustered <= n * 0.06, d_clustered
    assert d_scattered >= 5 * d_clustered, (d_scattered, d_clustered)
    # readback is lossless
    assert spark.read.parquet(clustered).count() == n


def test_write_training_shards_rejects_empty_input(spark, tmp_path):
    import pytest as _pytest
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from timeseries_data_provider_spark.operators import pipeline

    empty = spark.createDataFrame(
        [],
        StructType(
            [StructField("doc_id", LongType()), StructField("text", StringType())]
        ),
    )
    with _pytest.raises(ValueError, match="no rows"):
        pipeline.write_training_shards(empty, str(tmp_path / "s"), n_shards=4)


def test_q67_declared_row_is_partition_pruned(spark):
    """The DECLARED q67 row (VERDICT r5 item 6) must itself read the
    materialized layout through a partition-pruned scan — the property
    the driver's value-hash cannot see."""
    import __spark_entry__ as entrymod
    from tests.conftest import SF_SMOKE

    df = entrymod.q67_ivf_layout_probe(spark, SF_SMOKE)
    plan = explain_str(df)
    assert "PartitionFilters" in plan and "centroid_id" in plan, plan[:1500]
    assert df.count() == 10


def test_ivf_append_matches_full_build(spark, tmp_path):
    """Incremental layout maintenance: build from the first half, append
    the second half — identical probe results to a one-shot full build
    (the centroid set is the 8 lowest vec_ids, present in the first
    half, so both paths share the same frozen centroids)."""
    from timeseries_data_provider_spark import tables
    from timeseries_data_provider_spark.operators import similarity
    from tests.conftest import SF_SMOKE

    e = tables.load_table(spark, SF_SMOKE, "embeddings")
    cut = e.agg(F.expr("percentile(vec_id, 0.5)")).first()[0]
    first, second = e.filter(F.col("vec_id") <= cut), e.filter(
        F.col("vec_id") > cut
    )

    full_path, incr_path = str(tmp_path / "full"), str(tmp_path / "incr")
    similarity.write_ivf_layout(e, full_path, num_centroids=8)
    similarity.write_ivf_layout(first, incr_path, num_centroids=8)
    similarity.ivf_append(spark, second, incr_path)

    qvec = [
        float(x)
        for x in e.filter(F.col("vec_id") == 0).first()["embedding"]
    ]
    a = similarity.ivf_topk_from_layout(
        spark, full_path, qvec, k=12, nprobe=3
    ).collect()
    b = similarity.ivf_topk_from_layout(
        spark, incr_path, qvec, k=12, nprobe=3
    ).collect()
    assert [(r["vec_id"], r["sim"]) for r in a] == [
        (r["vec_id"], r["sim"]) for r in b
    ]
    # settled partitions untouched: appends only add files
    n_rows = spark.read.parquet(incr_path + "/data").count()
    assert n_rows == e.count()

    # dim mismatch fails loudly
    bad = second.select(
        "vec_id", F.slice("embedding", 1, 3).alias("embedding")
    )
    with pytest.raises(ValueError, match="dim"):
        similarity.ivf_append(spark, bad, incr_path)


def test_ivf_append_quantized_layout(spark, tmp_path):
    """Appending into a quantize=True layout quantizes the batch the
    same way, and the stacked sq8 probe equals the full-build probe."""
    from timeseries_data_provider_spark import tables
    from timeseries_data_provider_spark.operators import similarity
    from tests.conftest import SF_SMOKE

    e = tables.load_table(spark, SF_SMOKE, "embeddings")
    cut = e.agg(F.expr("percentile(vec_id, 0.5)")).first()[0]
    full_path, incr_path = str(tmp_path / "fullq"), str(tmp_path / "incrq")
    similarity.write_ivf_layout(e, full_path, num_centroids=8, quantize=True)
    similarity.write_ivf_layout(
        e.filter(F.col("vec_id") <= cut), incr_path, num_centroids=8,
        quantize=True,
    )
    similarity.ivf_append(
        spark, e.filter(F.col("vec_id") > cut), incr_path
    )
    qvec = [
        float(x)
        for x in e.filter(F.col("vec_id") == 0).first()["embedding"]
    ]
    a = similarity.ivf_topk_sq8_from_layout(
        spark, full_path, qvec, k=10, nprobe=3
    ).collect()
    b = similarity.ivf_topk_sq8_from_layout(
        spark, incr_path, qvec, k=10, nprobe=3
    ).collect()
    assert [(r["vec_id"], r["sim"]) for r in a] == [
        (r["vec_id"], r["sim"]) for r in b
    ]


def test_zorder_layout_prunes_both_columns(spark, tmp_path):
    """write_zorder: with two INDEPENDENT cluster columns, a narrow
    predicate on EITHER column alone decodes far less than a linear
    (single-column range-clustered) layout does for its non-leading
    column — the multi-dimensional pruning claim, measured via
    executed-plan scan metrics."""
    from pyspark.sql import functions as F

    from timeseries_data_provider_spark import planstats, tables

    n = 400_000
    # x and y independent: y is a bit-reversal-ish decorrelation of x
    df = spark.range(n).select(
        F.col("id").alias("x"),
        ((F.col("id") * 48271) % n).alias("y"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    )
    zpath = str(tmp_path / "zorder")
    linear = str(tmp_path / "linear")
    tables.write_zorder(
        df, zpath, ["x", "y"], num_files=16, bits=5,
        row_group_bytes=256 * 1024,
    )
    tables.write_range_clustered(
        df, linear, ["x"], num_files=16, row_group_bytes=256 * 1024
    )

    def decoded(path, col, lo, hi):
        q = (
            spark.read.parquet(path)
            .filter((F.col(col) >= lo) & (F.col(col) < hi))
            .select(col)
        )
        expect = hi - lo
        assert q.count() == expect
        q.collect()
        return max(s["output_rows"] for s in planstats.scan_stats(q))

    # slice width 4k rows = 1% of the table on each dimension
    zx = decoded(zpath, "x", 200_000, 204_000)
    zy = decoded(zpath, "y", 200_000, 204_000)
    lx = decoded(linear, "x", 200_000, 204_000)
    ly = decoded(linear, "y", 200_000, 204_000)
    # the linear layout wins its own leading column outright...
    assert lx <= n * 0.06, lx
    # ...but decodes ~everything for the other column; z-order must
    # beat it by a wide margin on y while staying far below a full
    # scan on x too (sqrt-ish selectivity on both dimensions)
    assert zy * 4 <= ly, (zy, ly)
    assert zx <= n * 0.5, zx
    assert zy <= n * 0.5, zy
    # readback is lossless
    assert spark.read.parquet(zpath).count() == n


def test_zorder_value_deterministic_and_bounded(spark):
    from pyspark.sql import functions as F

    from timeseries_data_provider_spark import tables

    df = spark.range(1000).select(
        F.col("id").alias("a"),
        (999 - F.col("id")).alias("b"),
    )
    z1 = tables.zorder_value(df, ["a", "b"], bits=4)
    z2 = tables.zorder_value(df, ["a", "b"], bits=4)
    rows1 = sorted((r["a"], r["__z"]) for r in z1.collect())
    rows2 = sorted((r["a"], r["__z"]) for r in z2.collect())
    assert rows1 == rows2  # seeded sampling => reproducible layout
    assert all(0 <= z < (1 << 8) for _, z in rows1)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        tables.zorder_value(df, ["a", "b"], bits=32)
    with _pytest.raises(ValueError):
        tables.zorder_value(df, [])


def test_zorder_append_keeps_pruning(spark, tmp_path):
    """append_zorder: new rows bucket with the PERSISTED boundaries —
    scans over the combined layout keep pruning on both columns, and
    the settled files are never rewritten."""
    import os

    from pyspark.sql import functions as F

    from timeseries_data_provider_spark import planstats, tables

    n = 200_000
    df = spark.range(n).select(
        F.col("id").alias("x"),
        ((F.col("id") * 48271) % n).alias("y"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    )
    zpath = str(tmp_path / "zorder")
    tables.write_zorder(
        df, zpath, ["x", "y"], num_files=8, bits=5,
        row_group_bytes=256 * 1024,
    )
    assert os.path.exists(os.path.join(zpath, "_zorder_meta.json"))
    settled = {
        f for f in os.listdir(zpath) if f.endswith(".parquet")
    }
    settled_mtime = {
        f: os.path.getmtime(os.path.join(zpath, f)) for f in settled
    }
    # append a second batch from the SAME distribution
    batch = spark.range(n, 2 * n).select(
        F.col("id").alias("x"),
        ((F.col("id") * 48271) % n).alias("y"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    )
    tables.append_zorder(batch, zpath, num_files=4,
                         row_group_bytes=256 * 1024)
    after = {f for f in os.listdir(zpath) if f.endswith(".parquet")}
    assert settled < after  # strictly grew
    for f in settled:  # settled files untouched
        assert os.path.getmtime(os.path.join(zpath, f)) == (
            settled_mtime[f]
        )
    total = spark.read.parquet(zpath)
    assert total.count() == 2 * n

    def decoded(col, lo, hi, expect):
        q = total.filter((F.col(col) >= lo) & (F.col(col) < hi)).select(
            col
        )
        assert q.count() == expect
        q.collect()
        return max(s["output_rows"] for s in planstats.scan_stats(q))

    # y comes from the same modular distribution in both batches, so
    # a narrow y slice appears in both — pruning must hold across the
    # combined file set (each batch's files cover narrow curve ranges)
    dy = decoded("y", 100_000, 102_000, 4_000)
    assert dy <= 2 * n * 0.5, dy
    # x grew past the old boundaries: old-batch x still prunes
    dx = decoded("x", 50_000, 52_000, 2_000)
    assert dx <= 2 * n * 0.5, dx


def test_shard_writer_shuffled_training_order(spark, tmp_path):
    """shuffle_seed: a deterministic pseudo-random within-shard order
    (xxhash64(seed, id)) — same rows/membership as the sorted form,
    reproducible across runs, different between seeds, and a plain
    file read yields the shuffled order."""
    from pyspark.sql import functions as F

    from timeseries_data_provider_spark.operators import pipeline

    df = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.md5(F.col("id").cast("string")).alias("text"),
    )

    def order_of(path):
        # per-shard file order as written (parquet preserves row
        # order within a file; one file per shard)
        out = {}
        for r in (
            spark.read.parquet(path + "/data")
            .select("shard", "doc_id")
            .collect()
        ):
            out.setdefault(r["shard"], []).append(r["doc_id"])
        return out

    p1 = str(tmp_path / "s1")
    p2 = str(tmp_path / "s2")
    p3 = str(tmp_path / "s3")
    pipeline.write_training_shards(df, p1, n_shards=8, shuffle_seed=42)
    pipeline.write_training_shards(df, p2, n_shards=8, shuffle_seed=42)
    pipeline.write_training_shards(df, p3, n_shards=8, shuffle_seed=7)
    o1, o2, o3 = order_of(p1), order_of(p2), order_of(p3)
    assert o1 == o2  # reproducible
    # same membership per shard, different order for a different seed
    assert {k: sorted(v) for k, v in o1.items()} == {
        k: sorted(v) for k, v in o3.items()
    }
    assert any(o1[k] != o3[k] for k in o1)
    # and genuinely not id-sorted
    assert any(v != sorted(v) for v in o1.values())


def test_append_zorder_missing_meta_is_loud(spark, tmp_path):
    # ADVICE (r10): the overwrite used to delete the previous meta
    # before the new one existed; the meta now stages OUTSIDE the
    # directory first, and a meta-less layout fails with a recovery
    # hint instead of a bare FileNotFoundError deep in open()
    import os

    from timeseries_data_provider_spark import tables

    df = spark.range(100).select(
        F.col("id").alias("a"), (F.col("id") * 3 % 17).alias("b")
    )
    path = str(tmp_path / "z")
    tables.write_zorder(df, path, ["a", "b"], num_files=2, bits=3)
    assert os.path.exists(os.path.join(path, "_zorder_meta.json"))
    # no staged orphan left behind on the happy path
    assert not [
        f for f in os.listdir(str(tmp_path)) if f.endswith(".staged")
    ]
    tables.append_zorder(df, path, num_files=1)
    os.remove(os.path.join(path, "_zorder_meta.json"))
    with pytest.raises(FileNotFoundError, match="rebuild with write_zorder"):
        tables.append_zorder(df, path)

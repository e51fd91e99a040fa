#!/usr/bin/env python
"""Scale-stress probes: one registry, one session, one size knob.

Every probe follows the same protocol: build a planted input whose
answer is known in closed form, run the operator, assert the invariant
on every row, then print ONE JSON line ``{"probe": name, ...}`` with
the sizes and timings (BASELINE.md §C records the full-size rows).

Sizes: every probe size is ``round(default × scale)``, and planted
counts and expected values are derived from the scaled sizes, so a
probe passes its own assertions at any scale. ``--scale 1`` (the
default) reproduces the §C row sizes; a tiny scale is a smoke run.

Tables that are expensive to build are cached under ``$STRESS_WORK``
(default ``<tmpdir>/tdps_stress``) in files whose names carry every
size they depend on, so a run at another scale never reads them.

Usage: python tools/stress.py [--scale S] [PROBE ...]   (no PROBE: all)
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import io
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from timeseries_data_provider_spark import planstats, tables  # noqa: E402
from timeseries_data_provider_spark.operators import (  # noqa: E402
    dedup,
    multimodal,
    pdf as pdfmod,
    pipeline,
    similarity,
)

WORK = os.environ.get(
    "STRESS_WORK", os.path.join(tempfile.gettempdir(), "tdps_stress")
)

PROBES: dict = {}


def probe(fn):
    """Register ``probe_<name>`` under ``<name>``."""
    PROBES[fn.__name__.removeprefix("probe_")] = fn
    return fn


def run(spark, names, scale: float = 1.0) -> None:
    """Run the named probes, in order, on ``spark`` (never stopped)."""
    unknown = [n for n in names if n not in PROBES]
    if unknown:
        raise KeyError(f"unknown probe(s): {unknown}")
    os.makedirs(WORK, exist_ok=True)
    for name in names:
        PROBES[name](spark, scale)


# ---------------------------------------------------------------- helpers


def _emit(probe_name: str, **kw) -> None:
    print(json.dumps({"probe": probe_name, **kw}), flush=True)


def _size(scale: float, default: int, step: int = 1) -> int:
    """round(default × scale) as a multiple of ``step``, at least ``step``."""
    return max(step, step * round(default * scale / step))


def _every(n: int, m: int) -> int:
    """How many ids in range(n) are multiples of m."""
    return (n + m - 1) // m


def _since(t0: float) -> float:
    return time.perf_counter() - t0


def _work(name: str) -> str:
    return os.path.join(WORK, name)


def _table(spark, name: str, build):
    """Read ``$STRESS_WORK/name``, writing ``build()`` there first when
    no complete copy exists. ``name`` must carry every size the table
    depends on."""
    path = _work(name)
    if not os.path.exists(path + "/_SUCCESS"):
        build().write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _du(path: str) -> int:
    return int(subprocess.check_output(["du", "-sb", path]).split()[0])


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _min_of_2(fn):
    """(best seconds, last result) over two runs: the first pays the
    codegen / page-cache warm-up, like bench.py's passes."""
    best, out = None, None
    for _ in range(2):
        t0 = time.perf_counter()
        out = fn()
        dt = round(_since(t0), 2)
        best = dt if best is None else min(best, dt)
    return best, out


def _unique_word_docs(spark, n: int, id_offset: int = 0, words: int = 30):
    """n docs of ``words`` globally unique words (``w<doc>_<j>``): no
    cross-doc shingle overlap, so every duplicate a probe finds is
    planted."""
    return spark.range(n).select(
        (F.col("id") + id_offset).alias("doc_id")
    ).select(
        "doc_id",
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(0), F.lit(words - 1)),
                lambda j: F.concat(F.lit("w"), F.col("doc_id"), F.lit("_"), j),
            ),
        ).alias("text"),
    )


_ENGLISH = (
    "the quick brown fox jumps over the lazy dog then another "
    "thing with themes that gather through thirty paths "
)


def _english_text(id_col):
    """English-ish filler with real 'th'/'the' density plus a per-doc
    id tail (words repeat across docs, ids do not)."""
    return F.concat(
        F.lit(_ENGLISH * 2), F.lit("tail id "), id_col.cast("string")
    )


DIM, N_CENTROIDS = 16, 64


def _planted_centers() -> list[list[float]]:
    """64 deterministic well-separated dim-16 directions."""
    return [
        [math.cos(0.37 * c * (j + 1)) + (1.0 if j == c % DIM else 0.0)
         for j in range(DIM)]
        for c in range(N_CENTROIDS)
    ]


def _centroids(spark):
    return spark.createDataFrame(
        list(enumerate(_planted_centers())),
        "centroid_id int, cv array<double>",
    )


def _cluster_vectors(spark, ids, cluster, noise_amp: float):
    """float32 vectors center[cluster] + deterministic hash noise."""
    centers = spark.createDataFrame(
        list(enumerate(_planted_centers())), "c int, cv array<double>"
    )
    noise = F.transform(
        F.sequence(F.lit(0), F.lit(DIM - 1)),
        lambda j: (
            F.pmod(F.hash(F.col("vec_id"), j), F.lit(1000)).cast("double")
            / 1000.0
            - 0.5
        )
        * noise_amp,
    )
    return (
        ids.withColumn("c", cluster.cast("int"))
        .join(F.broadcast(centers), "c")
        .select(
            "vec_id",
            F.zip_with(
                F.col("cv"), noise, lambda a, b: (a + b).cast("float")
            ).alias("embedding"),
        )
    )


def _vectors_name(n: int) -> str:
    return f"vectors_{n}.parquet"


def _vectors(spark, n: int):
    """n planted-cluster vectors (cluster = vec_id % 64), cached by size
    and shared by ivf, batch, wsample, sq8 and ivfsq8."""
    return _table(
        spark,
        _vectors_name(n),
        lambda: _cluster_vectors(
            spark,
            spark.range(n).withColumnRenamed("id", "vec_id"),
            F.col("vec_id") % N_CENTROIDS,
            0.05,
        ),
    )


def _built_per_id(ids, make):
    """(doc_id, payload) rows over ``ids`` (a frame with an ``id``
    column), payload = ``make(id)``, built worker-side."""

    def synth(batches):
        for b in batches:
            doc_ids = [int(i) for i in b["id"]]
            yield pd.DataFrame({"doc_id": doc_ids, "payload": [make(i) for i in doc_ids]})

    return tables.widen_for_python(ids).mapInPandas(
        synth, "doc_id long, payload binary").localCheckpoint(eager=True)


def _replicated(spark, payloads: list[bytes], n: int):
    """n rows, row i carrying ``payloads[i % len(payloads)]``: class
    payloads encoded once on the driver, so the encoder never enters a
    measurement."""
    return _built_per_id(spark.range(n), lambda i: payloads[i % len(payloads)])


def _payload_bytes(payloads: list[bytes], n: int) -> int:
    k = len(payloads)
    return (n // k) * sum(map(len, payloads)) + sum(
        len(p) for p in payloads[: n % k]
    )


def _decode_throughput(spark, payloads, register, n, dims):
    """The codec-tier protocol: decode n replicated payloads through
    ``media_features`` and assert every worker feature equals the
    driver-side decode of the same payload bit for bit (feat_milli is
    exact integer math). Returns (seconds, payload bytes)."""
    register()
    expect = []
    for p in payloads:
        img = multimodal.decode_image(p)
        assert (img["width"], img["height"]) == dims, (img["width"], img["height"])
        px = img["pixels"]
        expect.append((1000 * int(px.sum(dtype=np.int64))) // px.size)
    media = _replicated(spark, payloads, n)
    t0 = time.perf_counter()
    rows = multimodal.media_features(media, codec_setup=register).collect()
    dt = _since(t0)
    assert len(rows) == n, len(rows)
    bad = [
        r
        for r in rows
        if r["feat_milli"] != expect[r["doc_id"] % len(payloads)]
        or (r["width"], r["height"]) != dims
    ]
    assert not bad, bad[:3]
    return dt, _payload_bytes(payloads, n)


def _scan_pdf_throughput(spark, probe_name, n, page_of, kind, w, h):
    """The scan-PDF protocol: n single-page scan PDFs whose raster rides
    codec ``kind``, built on the driver, decoded by
    ``pdf_image_features``; every page's pixel_milli must equal its
    closed form."""
    t0 = time.perf_counter()
    rows = [
        (i, pdfmod.encode_scan_pdf([(kind, page_of(i))])) for i in range(n)
    ]
    build_sec = _since(t0)
    sdf = tables.widen_for_python(
        spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "payload"]))
    ).localCheckpoint()
    t0 = time.perf_counter()
    out = pdfmod.pdf_image_features(sdf).select(
        "doc_id", "pixel_milli"
    ).collect()
    dt = _since(t0)
    assert len(out) == n, len(out)
    for r in out:
        i = r["doc_id"]
        assert r["pixel_milli"] == (1000 * int(page_of(i).sum())) // (w * h), i
    _emit(
        probe_name,
        n=n,
        sec=round(dt, 2),
        pages_per_s=round(n / dt, 1),
        kpx_per_s=round(n * w * h / dt / 1000, 1),
        build_sec=round(build_sec, 2),
    )


def _gradient_page(w: int, h: int):
    ys, xs = np.mgrid[0:h, 0:w]
    return lambda i: ((i + xs + 2 * ys) % 256).astype(np.uint8)


def _stripe_page(w: int, h: int):
    return lambda i: pdfmod.scan_stripe_page(i, w, h)


# ------------------------------------------------- near-dup / index probes


@probe
def probe_hotshingle(spark, scale) -> None:
    """The inverted-index join's ``max_df`` cap (dedup._df_capped) under
    one planted hot 3-gram on every 25th doc (uncapped fan-out ~k²/2
    pairs from that shingle alone), plus a true duplicate of every
    500th doc that both variants must find."""
    n_docs = _size(scale, 320_000)
    hot_phrase, hot_mod, dup_mod, max_df = "zzzhot qqqhot xxxhot", 25, 500, 64
    base = _unique_word_docs(spark, n_docs).withColumn(
        "text",
        F.when(
            F.col("doc_id") % hot_mod == 0,
            F.concat(F.col("text"), F.lit(" " + hot_phrase)),
        ).otherwise(F.col("text")),
    )
    dups = base.filter(F.col("doc_id") % dup_mod == 0).select(
        (F.col("doc_id") + F.lit(100_000_000)).alias("doc_id"), "text"
    )
    path = _work("hot_shingle.parquet")
    base.unionByName(dups).write.mode("overwrite").parquet(path)
    corpus = spark.read.parquet(path)
    n = corpus.count()
    n_hot = corpus.filter(F.col("text").endswith(hot_phrase)).count()
    want_pairs = _every(n_docs, dup_mod)
    for label, cap in [("uncapped", None), (f"max_df={max_df}", max_df)]:
        t0 = time.perf_counter()
        pairs = dedup.ngram_jaccard_pairs(
            corpus, n=3, threshold=0.95, max_df=cap
        ).count()
        sec = round(_since(t0), 2)
        assert pairs == want_pairs, (label, pairs, want_pairs)
        _emit("hotshingle", variant=label, sec=sec, pairs=pairs, docs=n,
              hot_docs=n_hot)


@probe
def probe_ivf(spark, scale) -> None:
    """ivf_topk_from_layout on a 64-centroid layout: the probe scan
    carries the centroid IN-list as a partition filter, reads nprobe/64
    of the rows and returns exactly the brute-force top-10."""
    n, nprobe = _size(scale, 6_400_000), 8
    vecs = _vectors(spark, n)
    layout = _work(f"ivf_layout_{n}")
    t0 = time.perf_counter()
    if not os.path.exists(layout + "/centroids/_SUCCESS"):
        similarity.write_ivf_layout(
            vecs, layout, num_centroids=N_CENTROIDS, centroids=_centroids(spark)
        )
    build_s = round(_since(t0), 2)
    qv = _planted_centers()[0]
    data = spark.read.parquet(layout + "/data")
    n_read = data.count()
    qcol = F.array(*[F.lit(float(x)) for x in qv])
    t0 = time.perf_counter()
    brute = (
        data.select(
            "vec_id",
            F.round(
                similarity.cosine(similarity.as_double(F.col("embedding")), qcol),
                6,
            ).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(10)
        .collect()
    )
    brute_s = round(_since(t0), 2)
    t0 = time.perf_counter()
    probe_df = similarity.ivf_topk_from_layout(spark, layout, qv, k=10, nprobe=nprobe)
    got = probe_df.collect()
    probe_s = round(_since(t0), 2)
    assert [r["vec_id"] for r in got] == [r["vec_id"] for r in brute], (
        "IVF probe must return the exact brute-force top-10 (query = "
        "center[0], whose cluster is probed by construction)"
    )
    plan = _plan(probe_df)
    assert "PartitionFilters" in plan and "centroid_id" in plan, plan[:1500]

    def _cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))

    cents = spark.read.parquet(layout + "/centroids").collect()
    ranked = sorted(cents, key=lambda r: (-_cos(r["cv"], qv), r["centroid_id"]))
    probe_ids = [r["centroid_id"] for r in ranked[:nprobe]]
    scanned = data.filter(F.col("centroid_id").isin(probe_ids)).count()
    _emit(
        "ivf_topk_from_layout",
        vectors=n_read,
        dim=DIM,
        centroids=N_CENTROIDS,
        nprobe=nprobe,
        layout_build_s=build_s,
        brute_full_scan_s=brute_s,
        probe_s=probe_s,
        partitions_read=nprobe,
        rows_scanned=scanned,
        scan_fraction=round(scanned / n_read, 4),
    )


@probe
def probe_batch(spark, scale) -> None:
    """cosine_topk_batch, 8 queries: the WindowGroupLimit plan against
    the same query with InferWindowGroupLimit excluded (without it the
    exchange carries the full n×|q| score matrix)."""
    vecs = _vectors(spark, _size(scale, 6_400_000))
    n = vecs.count()
    qids = [i * (n // 8) + 3 for i in range(8)]
    rule = "org.apache.spark.sql.catalyst.optimizer.InferWindowGroupLimit"
    times = {}
    for label, excluded in [("window_group_limit", ""), ("rule_excluded", rule)]:
        spark.conf.set("spark.sql.optimizer.excludedRules", excluded)
        try:
            df = similarity.cosine_topk_batch(vecs, qids, k=10)
            has_limit = "WindowGroupLimit" in _plan(df)
            t0 = time.perf_counter()
            got = df.count()
            times[label] = round(_since(t0), 2)
        finally:
            spark.conf.set("spark.sql.optimizer.excludedRules", "")
        assert got == 8 * 10
        assert has_limit == (label == "window_group_limit"), label
    _emit(
        "cosine_topk_batch",
        vectors=n,
        queries=8,
        k=10,
        with_window_group_limit_s=times["window_group_limit"],
        without_s=times["rule_excluded"],
        exchange_rows_bound_with=8 * 10 * vecs.rdd.getNumPartitions(),
        exchange_rows_without=8 * (n - 1),
    )


@probe
def probe_pii(spark, scale) -> None:
    """redact_pii throughput on ~1.9 KB docs with closed-form planted
    counts: an email in every doc, an IP in every 2nd, a card in every
    4th (a regex-heavy JVM pass)."""
    from timeseries_data_provider_spark.operators import text

    n = _size(scale, 320_000)
    filler = " ".join(f"word{i} plain clause," for i in range(40))
    docs = _table(spark, f"pii_docs_{n}.parquet", lambda: spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit(filler + " "),
            F.concat(F.lit("user"), F.col("id"), F.lit("@example.com ")),
            F.when(F.col("id") % 2 == 0, F.lit("addr 10.0.42.7 logged ")).otherwise(F.lit("")),
            F.when(F.col("id") % 4 == 0, F.lit("pay 4111 1111 1111 1111 now ")).otherwise(F.lit("")),
            F.lit(filler),
            F.lit(filler),
        ).alias("text"),
    ))
    total_bytes = docs.select(F.sum(F.octet_length("text"))).first()[0]
    t0 = time.perf_counter()
    out = text.redact_pii(docs).agg(
        F.sum("n_email").alias("e"),
        F.sum("n_ip").alias("i"),
        F.sum("n_card").alias("c"),
        F.sum("n_phone").alias("p"),
        F.sum(F.octet_length("text_redacted")).alias("b"),
    ).first()
    sec = round(_since(t0), 2)
    assert out["e"] == n and out["i"] == _every(n, 2), out
    assert out["c"] == _every(n, 4) and out["p"] == 0, out
    _emit(
        "redact_pii",
        docs=n,
        input_mb=round(total_bytes / 1e6, 1),
        sec=sec,
        mb_per_s=round(total_bytes / 1e6 / sec, 1),
        planted_counts_exact=True,
    )


@probe
def probe_wsample(spark, scale) -> None:
    """weighted_sample k=1000: a TakeOrderedAndProject plan whose A-ES
    top-k equals an exact full sort of the same keys."""
    vecs = _vectors(spark, _size(scale, 6_400_000))
    rows = vecs.select(
        F.col("vec_id").alias("doc_id"),
        (F.pmod(F.hash("vec_id"), F.lit(100)).cast("double") + 1.0).alias("quality"),
    )
    df = pipeline.weighted_sample(rows, "quality", k=1000)
    assert "TakeOrderedAndProject" in _plan(df), "must be distributed top-k"
    t0 = time.perf_counter()
    got = {r["doc_id"] for r in df.collect()}
    sec = round(_since(t0), 2)
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10)
        .cast("double")
        + F.lit(0.5)
    ) / F.lit(float(16**12))
    exact = {
        r["doc_id"]
        for r in rows.select("doc_id", F.pow(u, 1.0 / F.col("quality")).alias("k"))
        .orderBy(F.col("k").desc(), "doc_id")
        .limit(1000)
        .collect()
    }
    assert got == exact, "A-ES top-k must match full-sort selection"
    _emit("weighted_sample", rows=vecs.count(), k=1000, sec=sec,
          matches_full_sort=True)


@probe
def probe_incr(spark, scale) -> None:
    """minhash_lsh_incremental: a new batch with planted corpus copies
    and one in-batch twin pair against a stored signature index, next
    to the full re-dedup of corpus + batch it avoids."""
    n_corpus = _size(scale, 320_000)
    n_batch = _size(scale, 10_000, step=100)  # every 100th batch doc is a copy
    corpus = _table(spark, f"corpus_{n_corpus}.parquet",
                    lambda: _unique_word_docs(spark, n_corpus))
    fresh = _unique_word_docs(spark, n_batch, id_offset=10_000_000)
    dup_src = corpus.filter(
        F.col("doc_id") % max(1, n_corpus // (n_batch // 100)) == 0
    )
    n_planted = dup_src.count()
    planted = dup_src.select((F.col("doc_id") + F.lit(20_000_000)).alias("doc_id"), "text")
    twins = [
        corpus.filter(F.col("doc_id") == 1).select(
            (F.col("doc_id") + F.lit(off)).alias("doc_id"), "text"
        )
        for off in (30_000_000, 31_000_000)
    ]
    batch_path = _work("batch.parquet")
    fresh.unionByName(planted).unionByName(twins[0]).unionByName(
        twins[1]
    ).write.mode("overwrite").parquet(batch_path)
    batch = spark.read.parquet(batch_path)
    sig_path = _work("signatures.parquet")
    t0 = time.perf_counter()
    dedup.minhash_signatures(corpus, max_df=1000).write.mode("overwrite").parquet(sig_path)
    index_build_s = round(_since(t0), 2)
    t0 = time.perf_counter()
    pairs, _ = dedup.minhash_lsh_incremental(batch, spark.read.parquet(sig_path))
    got = pairs.collect()
    incremental_s = round(_since(t0), 2)
    by_pair = {(r["doc_a"], r["doc_b"]): r for r in got}
    for r in dup_src.select("doc_id").collect():
        key = (r["doc_id"], r["doc_id"] + 20_000_000)
        assert key in by_pair, f"missed planted corpus dup {key}"
        assert by_pair[key]["est_jaccard"] == 1.0
        assert by_pair[key]["source"] == "corpus"
    tk = (30_000_001, 31_000_001)
    assert tk in by_pair and by_pair[tk]["source"] == "batch", tk
    t0 = time.perf_counter()
    full = dedup.minhash_lsh_pairs(
        corpus.unionByName(batch), threshold=0.95, max_df=1000
    ).count()
    full_rededup_s = round(_since(t0), 2)
    _emit(
        "minhash_lsh_incremental",
        corpus_docs=n_corpus,
        batch_docs=n_batch + n_planted + 2,
        planted_pairs=n_planted + 1,
        index_build_s=index_build_s,
        incremental_batch_s=incremental_s,
        full_rededup_s=full_rededup_s,
        full_pairs=full,
    )


@probe
def probe_shards(spark, scale) -> None:
    """write_training_shards, 64 shards: one shuffle, exactly one file
    per shard, manifest equal to what landed."""
    n = _size(scale, 6_400_000)
    rows = _table(spark, f"rows_{n}.parquet", lambda: spark.range(n).select(
        F.col("id").alias("doc_id"), F.md5(F.col("id").cast("string")).alias("text")
    ))
    out = _work("shards")
    t0 = time.perf_counter()
    manifest = pipeline.write_training_shards(rows, out, n_shards=64)
    m = {r["shard"]: r["rows"] for r in manifest.collect()}
    sec = round(_since(t0), 2)
    assert sum(m.values()) == n and len(m) == 64, (len(m), sum(m.values()))
    for d in glob.glob(out + "/data/shard=*"):
        files = glob.glob(d + "/*.parquet")
        assert len(files) == 1, (d, len(files))
    _emit(
        "write_training_shards",
        rows=n,
        n_shards=64,
        write_plus_manifest_s=sec,
        max_shard_skew=round(max(m.values()) / (n / 64), 4),
        one_file_per_shard=True,
    )


@probe
def probe_sq8(spark, scale) -> None:
    """int8 scalar quantization: float32 table vs int8 code table on
    disk, and the two-stage retrieve (candidates over the code table,
    exact float re-rank of 40 rows) against the brute float top-10."""
    n = _size(scale, 6_400_000)
    vecs = _vectors(spark, n)
    codes_path = _work("codes.parquet")
    t0 = time.perf_counter()
    similarity.quantize_embeddings(vecs).select(
        "vec_id", "q", "qnorm"
    ).write.mode("overwrite").parquet(codes_path)
    quantize_s = round(_since(t0), 2)
    float_bytes, code_bytes = _du(_work(_vectors_name(n))), _du(codes_path)
    qrow = vecs.filter(F.col("vec_id") == 3).select(
        similarity.as_double(F.col("embedding")).alias("qv")
    )

    def exact_top10(frame):
        return (
            frame.join(F.broadcast(qrow))
            .select(
                "vec_id",
                similarity.cosine(
                    similarity.as_double(F.col("embedding")), F.col("qv")
                ).alias("sim"),
            )
            .orderBy(F.col("sim").desc(), "vec_id")
            .limit(10)
            .collect()
        )

    t0 = time.perf_counter()
    brute = exact_top10(vecs.filter(F.col("vec_id") != 3))
    brute_s = round(_since(t0), 2)
    codes = spark.read.parquet(codes_path)
    qc = codes.filter(F.col("vec_id") == 3).select(
        F.col("q").alias("qa"), F.col("qnorm").alias("na")
    )
    t0 = time.perf_counter()
    cand = (
        codes.filter(F.col("vec_id") != 3)
        .join(F.broadcast(qc))
        .select(
            "vec_id",
            similarity._int_dot(F.col("q"), F.col("qa")).alias("ab"),
            (F.col("qnorm") * F.col("na")).alias("nn"),
        )
        .filter(F.col("nn") > 0)
        .select(
            "vec_id",
            (F.col("ab").cast("double") / F.sqrt(F.col("nn").cast("double"))).alias("qsim"),
        )
        .orderBy(F.col("qsim").desc(), "vec_id")
        .limit(40)
        .select("vec_id")
    )
    rerank = exact_top10(vecs.join(F.broadcast(cand), "vec_id", "left_semi"))
    sq8_s = round(_since(t0), 2)
    assert [r["vec_id"] for r in rerank] == [r["vec_id"] for r in brute], (
        "sq8 two-stage must recover the brute top-10 on planted clusters"
    )
    _emit(
        "cosine_topk_sq8",
        vectors=vecs.count(),
        float_mb=round(float_bytes / 1e6, 1),
        code_mb=round(code_bytes / 1e6, 1),
        size_ratio=round(float_bytes / code_bytes, 2),
        quantize_once_s=quantize_s,
        brute_float_s=brute_s,
        sq8_retrieve_rerank_s=sq8_s,
        topk_identical=True,
    )


@probe
def probe_ivfsq8(spark, scale) -> None:
    """Quantized IVF layout (64 centroids, nprobe=8, refine=4) against
    the float probe over the same layout, so the comparison isolates
    quantization. The query is corpus vector 3, not a planted center:
    at the exact center the same-cluster neighbors differ by ~3e-4 in
    cosine, below int8 code resolution (~1e-3)."""
    n = _size(scale, 6_400_000)
    vecs = _vectors(spark, n)
    layout = _work(f"ivf_sq8_layout_{n}")
    t0 = time.perf_counter()
    if not os.path.exists(layout + "/centroids/_SUCCESS"):
        similarity.write_ivf_layout(
            vecs, layout, num_centroids=64, centroids=_centroids(spark),
            quantize=True,
        )
    build_s = round(_since(t0), 2)
    qv = [float(x) for x in vecs.filter(F.col("vec_id") == 3).first()["embedding"]]
    sq8_s, sq8 = _min_of_2(lambda: similarity.ivf_topk_sq8_from_layout(
        spark, layout, qv, k=10, nprobe=8, refine=4).collect())
    flt_s, flt = _min_of_2(lambda: similarity.ivf_topk_from_layout(
        spark, layout, qv, k=10, nprobe=8).collect())
    assert [r["vec_id"] for r in sq8] == [r["vec_id"] for r in flt], (
        "quantized layout probe must match the float probe's top-10"
    )
    _emit(
        "ivf_topk_sq8_from_layout",
        vectors=vecs.count(),
        centroids=64,
        nprobe=8,
        refine=4,
        layout_build_s=build_s,
        sq8_probe_s=sq8_s,
        float_probe_s=flt_s,
        topk_identical=True,
    )


@probe
def probe_cc(spark, scale) -> None:
    """Closure algorithms head to head on a mixed graph: dense 10-node
    ring+chord clusters plus 100-node chains (diameter 99). Min-label
    and star must give identical labels."""
    n_cliques, csize = _size(scale, 45_000), 10
    n_chains = _size(scale, 1_000)
    base = spark.range(n_cliques * csize).select(
        (F.col("id") / csize).cast("long").alias("g"),
        (F.col("id") % csize).alias("i"),
    )

    def ring(step):
        return base.select(
            (F.col("g") * csize + F.col("i")).alias("doc_a"),
            (F.col("g") * csize + (F.col("i") + step) % csize).alias("doc_b"),
        )

    chain = spark.range(n_chains * 100).filter(F.col("id") % 100 != 99).select(
        (F.col("id") + 10_000_000).alias("doc_a"),
        (F.col("id") + 10_000_001).alias("doc_b"),
    )
    edges_path = _work("cc_edges.parquet")
    ring(1).unionByName(ring(3)).unionByName(chain).write.mode("overwrite").parquet(edges_path)
    edges = spark.read.parquet(edges_path)
    n_edges = edges.count()
    results = {}
    for label, fn, cap in [
        ("min_label", dedup.connected_components, 110),
        ("star", dedup.connected_components_star, 30),
    ]:
        t0 = time.perf_counter()
        chk = fn(edges, max_iterations=cap).groupBy().agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("cluster_id").alias("k"),
            F.sum(F.xxhash64("doc_id", "cluster_id").cast("decimal(38,0)")).alias("h"),
        ).first()
        results[label] = (round(_since(t0), 2), chk)
    (ml_s, ml), (st_s, st) = results["min_label"], results["star"]
    assert (ml["n"], ml["k"], ml["h"]) == (st["n"], st["k"], st["h"]), (ml, st)
    assert ml["k"] == n_cliques + n_chains, ml["k"]
    _emit(
        "connected_components_head_to_head",
        edges=n_edges,
        components=ml["k"],
        min_label_s=ml_s,
        star_s=st_s,
        labels_identical=True,
    )


@probe
def probe_linededup(spark, scale) -> None:
    """line_dedup, 10 lines per doc: two boilerplate lines in EVERY doc
    (the maximally hot key), one nav line per group, 7 unique lines.
    Every doc keeps exactly its 7 unique lines in order."""
    n, groups = _size(scale, 3_200_000), _size(scale, 1000)
    sid = F.col("doc_id").cast("string")
    page = F.concat_ws(
        "\n",
        F.lit("all rights reserved footer"),
        F.lit("accept cookies to continue"),
        F.concat(F.lit("nav group "), (F.col("doc_id") % groups).cast("string")),
        *[F.concat(F.lit(f"unique line {k} of doc "), sid) for k in range(7)],
    )
    docs = _table(spark, f"linedocs_{n}_{groups}.parquet", lambda: spark.range(n).select(
        F.col("id").alias("doc_id")).select("doc_id", page.alias("text")))
    t0 = time.perf_counter()
    out = dedup.line_dedup(docs, min_df=2)
    stats = out.agg(
        F.count(F.lit(1)).alias("docs"),
        F.min("n_lines").alias("min_l"),
        F.max("n_lines").alias("max_l"),
        F.min("n_kept").alias("min_k"),
        F.max("n_kept").alias("max_k"),
    ).first()
    sec = round(_since(t0), 2)
    assert stats["docs"] == n, stats
    assert stats["min_l"] == stats["max_l"] == 10, stats
    assert stats["min_k"] == stats["max_k"] == 7, stats
    doc = min(12345, n - 1)
    sample = out.filter(F.col("doc_id") == doc).first()
    expect = "\n".join(f"unique line {k} of doc {doc}" for k in range(7))
    assert sample["clean_text"] == expect, sample["clean_text"]
    _emit(
        "line_dedup",
        docs=n,
        line_occurrences=10 * n,
        hottest_line_df=n,
        dedup_s=sec,
        kept_per_doc=7,
        order_preserved=True,
    )


@probe
def probe_rp(spark, scale) -> None:
    """rp_topk over dim-64 noise vectors with 10 planted true neighbors
    of vector 0 (cosine ~0.99 against a ~0.35 noise ceiling): 16-dim
    float JL index vs brute force, recall 1.0 at refine=16, every
    returned sim exact; then the fetch-by-id re-rank over the plain and
    the range-clustered table (rows decoded, from the executed plan)."""
    n = _size(scale, 6_400_000)

    def build():
        def comp(vid):
            return F.transform(
                F.sequence(F.lit(0), F.lit(63)),
                lambda j: ((F.pmod(F.hash(vid, j), F.lit(2000)) - 1000) / 1000.0).cast("float"),
            )

        noise = spark.range(n).select(
            F.col("id").alias("vec_id"), comp(F.col("id")).alias("embedding")
        )
        # planted neighbors n..n+9: vector 0 with one component nudged
        planted = spark.range(10).select(
            (F.col("id") + n).alias("vec_id"),
            comp(F.lit(0).cast("bigint")).alias("b"),
        ).select(
            "vec_id",
            F.transform(
                F.col("b"),
                lambda x, i: (
                    x + F.when(i == (F.col("vec_id") % 64).cast("int"), F.lit(0.5)).otherwise(F.lit(0.0))
                ).cast("float"),
            ).alias("embedding"),
        )
        return noise.unionByName(planted)

    vec_name = f"vec64p_{n}.parquet"
    vecs = _table(spark, vec_name, build)
    idx_path = _work("rp_index.parquet")
    t0 = time.perf_counter()
    similarity.random_project(vecs, out_dim=16, dim=64, precision="float").write.mode(
        "overwrite").parquet(idx_path)
    index_build_s = round(_since(t0), 2)
    proj = spark.read.parquet(idx_path)

    def parquet_bytes(p):
        return sum(os.path.getsize(f) for f in glob.glob(p + "/*.parquet"))

    brute_s, brute = _min_of_2(lambda: {
        r["vec_id"]: r["sim"] for r in similarity.cosine_topk(vecs, 0, k=10).collect()
    })
    planted_ids = {n + i for i in range(10)}
    assert set(brute) == planted_ids, ("planted neighbors must BE the brute top-10", sorted(brute))

    def rp(frame, refine, **kw):
        return similarity.rp_topk(frame, 0, k=10, out_dim=16, refine=refine, dim=64,
                                  projected=proj, **kw)

    res = {}
    for refine in (4, 16):
        sec, got = _min_of_2(lambda: {r["vec_id"]: r["sim"] for r in rp(vecs, refine).collect()})
        for vid, sim in got.items():
            if vid in brute:
                assert sim == brute[vid], (vid, sim, brute[vid])
        res[refine] = {"query_s": sec, "recall_at_10": len(set(got) & planted_ids) / 10.0}
    assert res[16]["recall_at_10"] == 1.0, res

    def fetched(frame):
        """(seconds, rows the re-rank scan decoded) of the id-fetch form."""
        fdf = rp(frame, 16, fetch_by_id=True)
        sec, got_f = _min_of_2(lambda: {r["vec_id"]: r["sim"] for r in fdf.collect()})
        assert got_f == got, "fetch_by_id changed the result"
        return sec, max(s["output_rows"] for s in planstats.scan_stats(fdf))

    fetch_s, fetch_decoded = fetched(vecs)
    rc_path = _work(f"vec64p_rangeclustered_{n}.parquet")
    if not os.path.exists(rc_path + "/_SUCCESS"):
        tables.write_range_clustered(vecs, rc_path, ["vec_id"], num_files=32,
                                     row_group_bytes=1024 * 1024)
    rc_s, rc_decoded = fetched(spark.read.parquet(rc_path))
    _emit(
        "rp_topk",
        vectors=n + 10,
        dim=64,
        out_dim=16,
        index_build_s=index_build_s,
        index_bytes=parquet_bytes(idx_path),
        float_table_bytes=parquet_bytes(_work(vec_name)),
        brute_query_s=brute_s,
        refine4=res[4],
        refine16=res[16],
        fetch_by_id={"query_s": fetch_s, "recall_at_10": 1.0,
                     "rerank_rows_decoded": fetch_decoded},
        fetch_range_clustered={"query_s": rc_s, "rerank_rows_decoded": rc_decoded},
    )


@probe
def probe_curation(spark, scale) -> None:
    """group_split (no source straddles a split), mixture_sample (a draw
    against a per-domain recipe, floor rounding loses < 1 row per
    group) and budget_select (within one max-length doc of the token
    budget) over docs from planted source domains."""
    n, domains = _size(scale, 3_200_000), _size(scale, 1000)
    total, budget = _size(scale, 1_000_000), _size(scale, 10_000_000)

    def build():
        words = F.concat_ws(" ", F.transform(
            F.sequence(F.lit(0), F.pmod(F.hash("doc_id"), F.lit(30)) + F.lit(10)),
            lambda j: F.concat(F.lit("w"), F.pmod(F.hash(F.col("doc_id"), j), F.lit(50)).cast("string")),
        ))
        return spark.range(n).select(F.col("id").alias("doc_id")).select(
            "doc_id",
            words.alias("text"),
            F.concat(F.lit("dom"), F.pmod(F.hash("doc_id"), F.lit(domains)).cast("string")).alias("source"),
            F.length(words).alias("n_chars"),
        )

    docs = _table(spark, f"curdocs_{n}_{domains}.parquet", build)
    t0 = time.perf_counter()
    gs = pipeline.group_split(docs)
    leak = gs.groupBy("source").agg(F.countDistinct("split").alias("k")).agg(
        F.max("k").alias("m")).first()["m"]
    rows = gs.count()
    gs_s = round(_since(t0), 2)
    assert rows == n and leak == 1, (rows, leak)
    recipe = {f"dom{i}": float(i % 5 + 1) for i in range(domains)}
    t0 = time.perf_counter()
    drawn = pipeline.mixture_sample(docs, recipe, total=total).count()
    ms_s = round(_since(t0), 2)
    assert total - domains <= drawn <= total, drawn
    t0 = time.perf_counter()
    tot = pipeline.budget_select(docs, token_budget=budget).agg(
        F.sum("n_tokens").alias("t"), F.count(F.lit(1)).alias("d")).first()
    bs_s = round(_since(t0), 2)
    assert tot["t"] <= budget and budget - tot["t"] <= 50, tot
    _emit(
        "curation_trio",
        docs=n,
        domains=domains,
        group_split_s=gs_s,
        group_split_leak_free=True,
        mixture_draw_s=ms_s,
        mixture_rows=drawn,
        budget_select_s=bs_s,
        budget_tokens=int(tot["t"]),
        budget_docs=int(tot["d"]),
    )


_HOT_TEXT = (
    "the quick brown fox jumps over a lazy dog again and again for "
    "every copy of this exact page body"
)


def _hot_docs(spark, n: int, id_offset: int):
    return spark.range(n).select(
        (F.col("id") + id_offset).alias("doc_id"), F.lit(_HOT_TEXT).alias("text")
    )


@probe
def probe_hotbucket(spark, scale) -> None:
    """LSH hot band bucket: a pile of identical docs is hot in EVERY
    band, so the uncapped candidate join grows quadratically with the
    pile; the capped star pairing keeps a pile the uncapped form could
    not afford fully connected at J = 1.0."""
    n_unique = _size(scale, 100_000)
    cap = _size(scale, 256)
    base = _unique_word_docs(spark, n_unique, words=20).localCheckpoint(eager=True)
    uncapped = {}
    for pile in (_size(scale, 2_000), _size(scale, 8_000)):
        docs = base.unionByName(_hot_docs(spark, pile, 1_000_000))
        t0 = time.perf_counter()
        n_pairs = dedup.minhash_lsh_pairs(docs, max_bucket=None).count()
        uncapped[pile] = round(_since(t0), 2)
        assert n_pairs == pile * (pile - 1) // 2, (pile, n_pairs)
    pile = _size(scale, 20_000)
    docs = base.unionByName(_hot_docs(spark, pile, 1_000_000))
    t0 = time.perf_counter()
    rows = dedup.minhash_lsh_pairs(docs, max_bucket=cap).collect()
    capped_sec = round(_since(t0), 2)
    assert len(rows) == pile - 1, len(rows)
    assert all(r["doc_a"] == 1_000_000 and r["j"] == 1.0 for r in rows), (
        "star must anchor every pile member at the min-id rep with J=1"
    )
    assert sorted(r["doc_b"] for r in rows) == list(range(1_000_001, 1_000_000 + pile))
    _emit(
        "hotbucket",
        corpus_docs=n_unique,
        uncapped_sec_by_pile=uncapped,
        uncapped_pairs_by_pile={p: p * (p - 1) // 2 for p in uncapped},
        capped_pile=pile,
        capped_sec=capped_sec,
        capped_pairs=pile - 1,
        note=(
            "uncapped pairs grow ~4x per pile doubling; the capped "
            "20k pile would be 200M uncapped pairs"
        ),
    )


@probe
def probe_incrhot(spark, scale) -> None:
    """The hot bucket in minhash_lsh_incremental, spanning corpus ×
    batch: uncapped at an equal corpus and batch pile, capped against a
    10× hotter corpus pile."""
    n_unique, cap = _size(scale, 100_000), _size(scale, 256)
    batch_pile = _size(scale, 1_000)

    def run_pile(corpus_pile, max_bucket):
        corpus = _unique_word_docs(spark, n_unique, words=20).unionByName(
            _hot_docs(spark, corpus_pile, 1_000_000))
        sig = dedup.minhash_signatures(corpus).localCheckpoint(eager=True)
        batch = _hot_docs(spark, batch_pile, 2_000_000)
        t0 = time.perf_counter()
        pairs, _ = dedup.minhash_lsh_incremental(batch, sig, min_est=1.0,
                                                 max_bucket=max_bucket)
        rows = pairs.collect()
        return rows, round(_since(t0), 2)

    small, big = _size(scale, 1_000), _size(scale, 10_000)
    rows, uncapped_sec = run_pile(small, None)
    want = small * batch_pile + batch_pile * (batch_pile - 1) // 2
    assert len(rows) == want, len(rows)
    rows, capped_sec = run_pile(big, cap)
    assert len(rows) == batch_pile, len(rows)
    assert all(
        r["doc_a"] == 1_000_000 and r["source"] == "corpus" and r["est_jaccard"] == 1.0
        for r in rows
    )
    _emit(
        "incrhot",
        corpus_docs=n_unique,
        uncapped={"corpus_pile": small, "batch_pile": batch_pile,
                  "pairs": want, "sec": uncapped_sec},
        capped={"corpus_pile": big, "batch_pile": batch_pile,
                "pairs": batch_pile, "sec": capped_sec},
        note=(
            "capped run dedups against a 10x hotter corpus in less "
            "time; every batch doc still found at est 1.0"
        ),
    )


@probe
def probe_tiedbudget(spark, scale) -> None:
    """budget_select with EVERY doc tied at one score (the whole corpus
    is the marginal class); the bucketed two-phase prefix cut against
    the single-task Window.partitionBy(lit(1)) form."""
    from pyspark.sql import Window

    n_docs, keep = _size(scale, 3_200_000), _size(scale, 1_600_000)
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"), F.lit(_HOT_TEXT).alias("text")
    ).withColumn("n_chars", F.length("text")).localCheckpoint(eager=True)
    tokens_per_doc = len(_HOT_TEXT.split())
    budget = tokens_per_doc * keep + 3  # a partial tail doc
    t0 = time.perf_counter()
    n_sel, max_id = pipeline.budget_select(docs, budget).agg(
        F.count(F.lit(1)), F.max("doc_id")).first()
    e2e_sec = round(_since(t0), 2)
    assert n_sel == keep and max_id == keep - 1, (n_sel, max_id)
    frame = docs.select(
        "doc_id", F.lit(tokens_per_doc).cast("long").alias("n_tokens")
    ).localCheckpoint(eager=True)
    t0 = time.perf_counter()
    n_new = pipeline._ordered_prefix_take(frame, "doc_id", "n_tokens", budget).count()
    new_sec = round(_since(t0), 2)
    assert n_new == keep, n_new
    w = Window.partitionBy(F.lit(1)).orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    t0 = time.perf_counter()
    n_old = frame.select("doc_id", F.sum("n_tokens").over(w).alias("cum")).filter(
        F.col("cum") <= budget).count()
    old_sec = round(_since(t0), 2)
    assert n_old == keep, n_old
    _emit(
        "tiedbudget",
        n_docs=n_docs,
        all_tied=True,
        selected=n_sel,
        e2e_budget_select_sec=e2e_sec,
        marginal_cut_bucketed_sec=new_sec,
        marginal_cut_single_task_sec=old_sec,
        note=(
            "every doc in the marginal score class; the bucketed cut "
            "spreads the cumulative sum across 32 tasks instead of 1"
        ),
    )


@probe
def probe_aqeskew(spark, scale) -> None:
    """AQE skew join: one key carries ~30% of the fact through a
    sort-merge join; the adaptive executed plan must mark the join
    skew=true. The thresholds scale with the data: the claim is the
    mechanism, not the 256 MB default."""
    n_fact, n_keys = _size(scale, 6_400_000), _size(scale, 100_000)
    fact = spark.range(n_fact).select(
        F.when(F.col("id") % 10 < 3, F.lit(0))
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(n_keys))).alias("k"),
        (F.col("id") % 97).cast("double").alias("v"),
    )
    dim = spark.range(n_keys).select(F.col("id").alias("k"), (F.col("id") % 13).alias("grp"))
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": f"{_size(scale, 1024)}k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": f"{_size(scale, 512)}k",
        # both sides are fact-scale in production: force the sort-merge
        # path the skew machinery applies to
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}

    def joined():
        return fact.join(dim, "k").groupBy("grp").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))

    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = joined()
        t0 = time.perf_counter()
        df.collect()
        skew_sec = round(_since(t0), 2)
        plan = _executed_plan(df)
        assert "skew=true" in plan, (
            "executed plan did not mark the sort-merge join as skew-"
            "handled:\n" + plan[:2000]
        )
        n_skewed = plan.count("skewed")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        df = joined()
        t0 = time.perf_counter()
        df.collect()
        noskew_sec = round(_since(t0), 2)
        assert "skew=true" not in _executed_plan(df)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    _emit(
        "aqeskew",
        fact_rows=n_fact,
        skew_key_share=0.3,
        skew_enabled_sec=skew_sec,
        skew_disabled_sec=noskew_sec,
        skewed_plan_markers=n_skewed,
        note=(
            "AQE split the planted 30%-of-bytes partition (skew=true "
            "in the adaptive executed plan); thresholds lowered to "
            "local sizes, mechanism identical at the 256MB default"
        ),
    )


@probe
def probe_streamingest(spark, scale) -> None:
    """The streaming corpus-ingest loop: 10 waves of new docs, each
    with one copy of a settled doc, against a seeded signature index;
    per-wave latency as the index grows (settled text is never
    re-read)."""
    from timeseries_data_provider_spark.streaming.corpus_ingest import (
        ensure_signature_index,
        ingest_documents_stream,
    )

    n_seed, wave_docs = _size(scale, 320_000), _size(scale, 10_000)
    fresh = wave_docs - 1
    root, src = _work("stream"), _work("stream_src")
    shutil.rmtree(root, ignore_errors=True)
    shutil.rmtree(src, ignore_errors=True)
    os.makedirs(src)
    os.makedirs(root)
    t0 = time.perf_counter()
    seed = _unique_word_docs(spark, n_seed, words=20)
    dedup.minhash_signatures(seed).write.mode("overwrite").parquet(root + "/signatures")
    seed_sec = round(_since(t0), 2)
    ensure_signature_index(spark, root)
    q = ingest_documents_stream(spark, src, root, min_est=1.0, max_df=None)
    waves = []
    try:
        for i in range(10):
            wave = _unique_word_docs(
                spark, fresh, id_offset=1_000_000 + i * wave_docs, words=20
            ).unionByName(seed.filter(F.col("doc_id") == i).select(
                (F.col("doc_id") + 5_000_000 + i).alias("doc_id"), "text"))
            # written outside the watched dir and renamed in: the file
            # source lists eagerly and would read a half-flushed prefix
            tmp = _work("tmp_wave.json")
            with open(tmp, "w") as f:
                for r in wave.toLocalIterator():
                    f.write(json.dumps({"doc_id": r["doc_id"], "text": r["text"]}) + "\n")
            os.replace(tmp, f"{src}/wave{i}.json")
            t0 = time.perf_counter()
            q.processAllAvailable()
            waves.append(round(_since(t0), 2))
    finally:
        q.stop()
    n_docs = spark.read.parquet(root + "/docs").count()
    n_dups = spark.read.parquet(root + "/dups").count()
    assert n_docs == 10 * fresh, n_docs
    assert n_dups == 10, n_dups
    n_sig = spark.read.parquet(root + "/signatures").count()
    assert n_sig == n_seed + 10 * fresh, n_sig
    _emit(
        "streamingest",
        seeded_index_docs=n_seed,
        seed_build_sec=seed_sec,
        wave_docs=wave_docs,
        per_wave_sec=waves,
        final_index_docs=n_sig,
        note=(
            "per-wave cost stays flat-ish as the index grows by 100k "
            "docs across the run — the settled text is never re-read; "
            "each wave's planted settled-copy detected and dropped"
        ),
    )


@probe
def probe_ivfappend(spark, scale) -> None:
    """Incremental IVF maintenance: a batch landing in clusters 0..3
    appended into a 64-partition layout with frozen centroids; only
    those partitions gain files, and the probe ranks the (10× tighter)
    appended vectors first."""
    settled, batch_n = _size(scale, 1_600_000), _size(scale, 100_000)
    base = _cluster_vectors(
        spark, spark.range(settled).withColumnRenamed("id", "vec_id"),
        F.col("vec_id") % N_CENTROIDS, 0.05)
    path = _work("ivf_append_layout")
    t0 = time.perf_counter()
    similarity.write_ivf_layout(base, path, num_centroids=N_CENTROIDS)
    build_sec = round(_since(t0), 2)

    def files(c):
        return set(glob.glob(f"{path}/data/centroid_id={c}/*.parquet"))

    before = {c: files(c) for c in range(N_CENTROIDS)}
    batch = _cluster_vectors(
        spark, spark.range(batch_n).select((F.col("id") + 10_000_000).alias("vec_id")),
        F.col("vec_id") % 4, 0.005)
    t0 = time.perf_counter()
    similarity.ivf_append(spark, batch, path)
    append_sec = round(_since(t0), 2)
    total = spark.read.parquet(path + "/data").count()
    assert total == settled + batch_n, total
    touched = [c for c in range(N_CENTROIDS) if files(c) != before[c]]
    assert all(c < 4 for c in touched), "append rewrote settled partitions"
    t0 = time.perf_counter()
    top = similarity.ivf_topk_from_layout(
        spark, path, _planted_centers()[2], k=10, nprobe=4).collect()
    probe_sec = round(_since(t0), 2)
    n_appended = sum(1 for r in top if r["vec_id"] >= 10_000_000)
    assert n_appended == 10, n_appended
    _emit(
        "ivfappend",
        settled_vectors=settled,
        batch_vectors=batch_n,
        build_sec=build_sec,
        append_sec=append_sec,
        probe_sec=probe_sec,
        partitions_touched=len(touched),
        note=(
            "append cost is batch-only (assignment + write of 4 "
            "touched partitions); the 1.6M settled vectors are never "
            "read or rewritten, and the probe ranks appended data "
            "correctly"
        ),
    )


@probe
def probe_pq(spark, scale) -> None:
    """Product quantization (m=8): float32 vs PQ code table bytes and
    the one-time encode over realistic-entropy noise vectors (duplicate
    plants would let parquet dictionary-compress the float table), then
    ADC retrieve + float re-rank against brute force on 64 planted
    clusters of EXACT duplicates, whose structure sits below code
    resolution by construction, so the top-10 must be identical."""
    n = _size(scale, 1_600_000, step=5)
    n2 = n // 5
    work = _work(f"pq_{n}")
    noise_path, ncodes_path = work + "/noise.parquet", work + "/noise_codes.parquet"
    vec_path, codes_path = work + "/vectors.parquet", work + "/codes.parquet"

    def vectors(nrows, value):
        return spark.range(nrows).select(
            F.col("id").alias("vec_id"),
            F.transform(F.sequence(F.lit(0), F.lit(63)), value).alias("embedding"),
        )

    def books_of(vecs):  # distributed Lloyd's on a 1% sample
        return similarity.train_pq_codebooks(
            vecs.filter(F.col("vec_id") % 100 == 3), m=8, ncodes=16, iterations=2)

    vectors(n, lambda d: (
        ((F.col("id") * 2654435761 + d * 40503 + F.col("id") * d) % 65536).cast("double")
        / 32768.0 - 1.0).cast("float")).write.mode("overwrite").parquet(noise_path)
    nvecs = spark.read.parquet(noise_path)
    nbooks = books_of(nvecs)
    t0 = time.perf_counter()
    similarity.pq_encode(nvecs, nbooks).select("vec_id", "codes").write.mode(
        "overwrite").parquet(ncodes_path)
    encode_s = round(_since(t0), 2)
    c = F.col("id") % 64
    vectors(n2, lambda d: ((c * 17 + d * 13) % 31 - 15).cast("double").cast("float")
            ).write.mode("overwrite").parquet(vec_path)
    vecs = spark.read.parquet(vec_path)
    books = books_of(vecs)
    similarity.pq_encode(vecs, books).select("vec_id", "codes").write.mode(
        "overwrite").parquet(codes_path)
    float_bytes, code_bytes = _du(noise_path), _du(ncodes_path)
    qrow = vecs.filter(F.col("vec_id") == 3).select(
        similarity.as_double(F.col("embedding")).alias("qv"))
    t0 = time.perf_counter()
    brute = (
        vecs.filter(F.col("vec_id") != 3)
        .join(F.broadcast(qrow))
        .select("vec_id", similarity.cosine(
            similarity.as_double(F.col("embedding")), F.col("qv")).alias("sim"))
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(10)
        .collect()
    )
    brute_s = round(_since(t0), 2)
    t0 = time.perf_counter()
    rerank = similarity.pq_topk(vecs, books, query_vec_id=3, k=10, refine=4,
                                codes=spark.read.parquet(codes_path)).collect()
    pq_s = round(_since(t0), 2)
    assert [r["vec_id"] for r in rerank] == [r["vec_id"] for r in brute], (
        "pq two-stage must recover the brute top-10 on planted clusters"
    )
    shutil.rmtree(work, ignore_errors=True)
    _emit(
        "pq_topk",
        noise_vectors=n,
        planted_vectors=n2,
        dim=64,
        m=8,
        float_mb=round(float_bytes / 1e6, 1),
        code_mb=round(code_bytes / 1e6, 1),
        size_ratio=round(float_bytes / code_bytes, 2),
        encode_once_s=encode_s,
        brute_float_s=brute_s,
        pq_retrieve_rerank_s=pq_s,
        topk_identical=True,
    )


# ------------------------------------------------------ substring / counting


def _substr_docs(spark, n: int, id_offset: int = 0):
    """n docs of 20 unique words; every 10th id also carries one shared
    12-token template paragraph (tokens 21-32), the rest a solo word."""
    para = " ".join(f"tpl{j}" for j in range(12))
    return spark.range(n).select((F.col("id") + id_offset).alias("doc_id")).select(
        "doc_id",
        F.concat_ws(
            " ",
            F.concat_ws(" ", *[
                F.concat(F.lit(f"u{k}x"), (F.col("doc_id") * 40 + k).cast("string"))
                for k in range(20)
            ]),
            F.when(F.col("doc_id") % 10 == 0, F.lit(para)).otherwise(
                F.concat(F.lit("solo"), F.col("doc_id").cast("string"))),
        ).alias("text"),
    ).localCheckpoint(eager=True)


def _span_stats(spans):
    return spans.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("start_tok").alias("min_s"),
        F.max("start_tok").alias("max_s"),
        F.min("end_tok").alias("min_e"),
        F.max("end_tok").alias("max_e"),
        F.countDistinct("doc_id").alias("docs"),
    ).first()


@probe
def probe_substr(spark, scale) -> None:
    """Planted-span substring dedup: exactly the template carriers
    yield exactly the template span, then the clean pass."""
    n = _size(scale, 320_000)
    base = _substr_docs(spark, n)
    t0 = time.perf_counter()
    spans = dedup.substring_spans(base, k=8).localCheckpoint(eager=True)
    span_secs = _since(t0)
    agg = _span_stats(spans)
    carriers = _every(n, 10)
    assert agg["n"] == agg["docs"] == carriers, agg
    assert (agg["min_s"], agg["max_s"], agg["min_e"], agg["max_e"]) == (21, 21, 32, 32), agg
    t1 = time.perf_counter()
    csum = dedup.substring_dedup_clean(base, k=8, spans=spans).agg(
        F.sum("n_kept").alias("kept"), F.count(F.lit(1)).alias("n")).first()
    clean_secs = _since(t1)
    # carriers lose the 12 template tokens, the rest keep all 21
    assert csum["n"] == n
    assert csum["kept"] == carriers * 20 + (n - carriers) * 21, csum["kept"]
    _emit(
        "substr",
        n_docs=n,
        carriers=carriers,
        span_secs=round(span_secs, 2),
        clean_secs=round(clean_secs, 2),
        planted_spans=agg["n"],
    )


@probe
def probe_substrincr(spark, scale) -> None:
    """Incremental substring spans of a batch against the persisted
    window index of a settled corpus, vs recomputing over both."""
    n_corpus, n_batch = _size(scale, 320_000), _size(scale, 10_000)
    corpus = _substr_docs(spark, n_corpus)
    batch = _substr_docs(spark, n_batch, 10_000_000)
    t0 = time.perf_counter()
    idx = dedup.substring_window_index(corpus, k=8).localCheckpoint(eager=True)
    t_index = _since(t0)
    t1 = time.perf_counter()
    inc = dedup.substring_spans_incremental(batch, idx, k=8).localCheckpoint(eager=True)
    t_inc = _since(t1)
    agg = _span_stats(inc)
    carriers = _every(n_batch, 10)
    assert agg["n"] == carriers, agg
    assert (agg["min_s"], agg["max_s"], agg["min_e"], agg["max_e"]) == (21, 21, 32, 32), agg
    t2 = time.perf_counter()
    full = dedup.substring_spans(corpus.unionByName(batch), k=8).filter(
        F.col("doc_id") >= 10_000_000).count()
    t_full = _since(t2)
    assert full == carriers
    _emit(
        "substrincr",
        corpus_docs=n_corpus,
        batch_docs=n_batch,
        index_secs=round(t_index, 2),
        incremental_secs=round(t_inc, 2),
        full_recompute_secs=round(t_full, 2),
        planted_spans=agg["n"],
    )


@probe
def probe_substrpartner(spark, scale) -> None:
    """Partner-attributed substring dedup: disjoint pairs (ids ≡ 3, 4
    mod 10) share a pair-unique 8-token template and must each
    attribute exactly one [6, 13] span to exactly their mate, while a
    12-token boilerplate on every 10th doc (uncapped, carriers² pairs)
    is excluded by max_docs_per_window=64; plain substring_spans is
    timed as the coverage control."""
    n = _size(scale, 320_000, step=10)
    doc = F.col("id")
    mod = doc % 10
    pair_base = F.when(mod == 4, doc - 1).otherwise(doc)

    def filler(lo, hi):
        return [F.concat(F.lit("d"), doc, F.lit(f"w{j}")) for j in range(lo, hi)]

    pair_toks = [F.concat(F.lit("p"), pair_base, F.lit(f"x{j}")) for j in range(8)]
    hot = F.lit(" ".join(f"h{j}" for j in range(12)))
    text = F.concat_ws(
        " ",
        *filler(0, 5),
        F.when(mod.isin(3, 4), F.concat_ws(" ", *pair_toks)).otherwise(
            F.concat_ws(" ", *filler(5, 13))),
        *filler(13, 21),
        F.when(mod == 0, hot).otherwise(F.concat_ws(" ", *filler(21, 33))),
        *filler(33, 40),
    )
    docs = spark.range(n).select(doc.alias("doc_id"), text.alias("text")).localCheckpoint()
    t0 = time.perf_counter()
    mate = F.col("doc_id") + F.when(F.col("doc_id") % 10 == 3, 1).otherwise(-1)
    agg = dedup.substring_span_partners(docs, k=8, max_docs_per_window=64).groupBy().agg(
        F.count(F.lit(1)).alias("rows"),
        F.min("start_tok").alias("min_start"),
        F.max("start_tok").alias("max_start"),
        F.min("end_tok").alias("min_end"),
        F.max("end_tok").alias("max_end"),
        F.max("n_windows").alias("max_nw"),
        F.sum((F.col("partner_id") != mate).cast("long")).alias("bad_partner"),
    ).first()
    dt_partner = _since(t0)
    assert agg["rows"] == 2 * (n // 10), agg
    assert (agg["min_start"], agg["max_start"]) == (6, 6), agg
    assert (agg["min_end"], agg["max_end"]) == (13, 13), agg
    assert agg["max_nw"] == 1 and agg["bad_partner"] == 0, agg
    t0 = time.perf_counter()
    plain = dedup.substring_spans(docs, k=8).groupBy().agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(((F.col("start_tok") == 22) & (F.col("end_tok") == 33)).cast("long")).alias("hot_spans"),
    ).first()
    dt_plain = _since(t0)
    assert plain["hot_spans"] == n // 10, plain
    assert plain["rows"] == n // 10 + 2 * (n // 10), plain
    _emit(
        "substrpartner",
        n_docs=n,
        n_pairs=n // 10,
        hot_carriers=n // 10,
        cap=64,
        partner_secs=round(dt_partner, 2),
        plain_secs=round(dt_plain, 2),
    )


def _occ(c, s: str):
    """Occurrences of s in column c, via replace."""
    return (F.length(c) - F.length(F.replace(c, F.lit(s), F.lit("")))) / len(s)


@probe
def probe_bpe(spark, scale) -> None:
    """BPE token counting (bpe.count_udf under the [(t,h),(th,e)] table):
    the total must equal the JVM closed form len − occ('th') −
    occ('the')."""
    from timeseries_data_provider_spark.operators import bpe

    n_docs = _size(scale, 320_000)
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"), _english_text(F.col("id")).alias("text")
    ).localCheckpoint(eager=True)
    t = F.col("text")
    jvm_expect = docs.select(
        F.sum(F.length(t) - _occ(t, "th") - _occ(t, "the")).alias("t"),
        F.sum(F.length(t)).alias("chars"),
    ).first()
    cnt = bpe.count_udf([("t", "h"), ("th", "e")])
    t0 = time.perf_counter()
    got = docs.select(F.sum(cnt(t)).alias("t")).first()
    dt = _since(t0)
    assert int(got["t"]) == int(jvm_expect["t"]), (got["t"], jvm_expect["t"])
    mb = int(jvm_expect["chars"]) / 1e6
    _emit(
        "bpe",
        n_docs=n_docs,
        corpus_mb=round(mb, 1),
        secs=round(dt, 2),
        mb_per_sec=round(mb / dt, 1),
        total_tokens=int(got["t"]),
    )


@probe
def probe_bytebpe(spark, scale) -> None:
    """Byte-level BPE counting: the bpe row's text plus m = id % 16
    two-byte 'é' per doc; the total must equal the ASCII identity plus
    1 + 2m per doc."""
    from timeseries_data_provider_spark.operators import bpe

    n_docs = _size(scale, 320_000)
    ascii_text = _english_text(F.col("doc_id"))
    docs = spark.range(n_docs).select(F.col("id").alias("doc_id")).select(
        "doc_id",
        ascii_text.alias("ascii"),
        F.concat(ascii_text, F.lit(" "), F.repeat(F.lit("é"), F.col("doc_id") % 16)).alias("text"),
    ).localCheckpoint(eager=True)
    a = F.col("ascii")
    jvm_expect = docs.select(
        F.sum(F.length(a) - _occ(a, "th") - _occ(a, "the") + 1
              + 2 * (F.col("doc_id") % 16)).alias("t"),
        F.sum(F.octet_length("text")).alias("bytes"),
    ).first()
    cnt = bpe.count_udf([("t", "h"), ("th", "e")], byte_level=True)
    t0 = time.perf_counter()
    got = docs.select(F.sum(cnt(F.col("text"))).alias("t")).first()
    dt = _since(t0)
    assert int(got["t"]) == int(jvm_expect["t"]), (got["t"], jvm_expect["t"])
    mb = int(jvm_expect["bytes"]) / 1e6
    _emit(
        "bytebpe",
        n_docs=n_docs,
        corpus_mb=round(mb, 1),
        secs=round(dt, 2),
        mb_per_sec=round(mb / dt, 1),
        total_tokens=int(got["t"]),
    )


def _lm_probe_docs(docs):
    """The scored corpus: every doc plus one planted-unique token."""
    return docs.select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" zq"), F.col("doc_id").cast("string")).alias("text"),
    )


@probe
def probe_lm(spark, scale) -> None:
    """Bigram LM train + add-k scoring; the corpus is scored with one
    unseen token appended per doc, so every original bigram hits and
    the appended one misses (exact integer coverage)."""
    from timeseries_data_provider_spark.operators import lm

    n_docs = _size(scale, 320_000)
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"), _english_text(F.col("id")).alias("text")
    ).localCheckpoint(eager=True)
    n_tokens = docs.select(F.sum(F.size(F.split(F.col("text"), " ")))).first()[0]
    t0 = time.perf_counter()
    model = lm.ngram_lm(docs, n=2).localCheckpoint(eager=True)
    train_s = round(_since(t0), 2)
    t0 = time.perf_counter()
    agg = lm.ngram_lm_score(_lm_probe_docs(docs), model, n=2).groupBy().agg(
        F.sum("n_ngrams").alias("ng"),
        F.sum("n_hits").alias("hits"),
        F.max("logprob_milli").alias("max_lp"),
    ).first()
    score_s = round(_since(t0), 2)
    assert int(agg["ng"]) == int(n_tokens), (agg["ng"], n_tokens)
    assert int(agg["hits"]) == int(n_tokens) - n_docs, agg
    assert int(agg["max_lp"]) < 0, agg
    _emit(
        "lm",
        n_docs=n_docs,
        corpus_tokens=int(n_tokens),
        model_ngrams=int(model.count()),
        train_secs=train_s,
        score_secs=score_s,
        tokens_per_sec_scored=int(n_tokens / score_s),
    )


@probe
def probe_knlm(spark, scale) -> None:
    """Interpolated modified Kneser-Ney trigram model; every doc scored
    with one planted-unique token appended (the unseen-context backoff
    path): 39 trigrams per doc, every doc strictly negative."""
    from timeseries_data_provider_spark.operators import lm

    n = _size(scale, 320_000)
    words = F.transform(
        F.sequence(F.lit(0), F.lit(39)),
        lambda i: F.concat(F.lit("w"), ((F.col("id") * 31 + i * i) % 99991).cast("string")),
    )
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"), F.array_join(words, " ").alias("text")
    ).localCheckpoint(eager=True)
    t0 = time.perf_counter()
    model = lm.kneser_ney_lm(docs, n=3)
    sizes = [t.count() for t in model["tables"]]
    train_s = round(_since(t0), 2)
    t0 = time.perf_counter()
    agg = lm.kneser_ney_score(_lm_probe_docs(docs), model).agg(
        F.sum("n_ngrams").alias("ng"),
        F.sum((F.col("logprob_milli") < 0).cast("long")).alias("neg"),
        F.count(F.lit(1)).alias("rows"),
    ).first()
    score_s = round(_since(t0), 2)
    assert int(agg["ng"]) == n * 39, agg
    assert int(agg["neg"]) == n and int(agg["rows"]) == n, agg
    _emit(
        "knlm",
        n_docs=n,
        corpus_tokens=n * 41,
        model_rows={o + 1: s for o, s in enumerate(sizes)},
        discounts=[[round(x, 4) for x in d] for d in model["discounts"]],
        train_secs=train_s,
        score_secs=score_s,
        tokens_per_sec_scored=int(n * 41 / score_s),
    )


# ----------------------------------------------------------- codec tier


@probe
def probe_jpegdecode(spark, scale) -> None:
    """Pure-Python baseline JPEG decode through media_features: ten
    256×256 4:2:0 noise images (quant=8) replicated worker-side."""
    from timeseries_data_provider_spark.operators import jpeg

    n = _size(scale, 5000)
    payloads = [
        jpeg.encode_baseline_jpeg(
            np.random.RandomState(1000 + c).randint(0, 256, (256, 256, 3), np.uint8),
            quant=8, subsample="420")
        for c in range(10)
    ]
    dt, total = _decode_throughput(spark, payloads, jpeg.register, n, (256, 256))
    _emit(
        "jpegdecode",
        n_images=n,
        image="256x256 RGB noise, quant=8, 4:2:0",
        payload_mb=round(total / 1e6, 1),
        secs=round(dt, 2),
        images_per_sec=round(n / dt, 1),
        mb_per_sec=round(total / 1e6 / dt, 2),
        decode_exact_vs_driver=True,
    )


def _emit_image_decode(probe_name, n, dims, dt, total) -> None:
    _emit(
        probe_name,
        n_images=n,
        image=f"{dims[0]}x{dims[1]}",
        payload_mb=round(total / 1e6, 1),
        secs=round(dt, 2),
        mb_per_sec=round(total / 1e6 / dt, 1),
        images_per_sec=round(n / dt, 1),
    )


def _coarse_noise(rng, shape):
    """8-level noise: textured but compressible (cache hits, LZ runs)."""
    return (rng.randint(0, 8, shape) * 32).astype(np.uint8)


@probe
def probe_vp8ldecode(spark, scale) -> None:
    """Pure-Python VP8L lossless decode: half the classes full-range
    noise (plain prefix-coded literals), half coarse noise encoded
    with the color cache and LZ77, so every symbol class runs."""
    from timeseries_data_provider_spark.operators import vp8l

    n, dims = _size(scale, 2000), (128, 128)
    payloads = []
    for c in range(10):
        rng = np.random.RandomState(3000 + c)
        if c < 5:
            payloads.append(vp8l.encode_vp8l(rng.randint(0, 256, (128, 128, 3), np.uint8)))
        else:
            payloads.append(vp8l.encode_vp8l(_coarse_noise(rng, (128, 128, 3)),
                                             use_cache=True, use_lz77=True))
    _emit_image_decode("vp8ldecode", n, dims,
                       *_decode_throughput(spark, payloads, vp8l.register, n, dims))


@probe
def probe_gifdecode(spark, scale) -> None:
    """Stdlib GIF decode: 256×256 paletted LZW rasters, half
    interlaced (the deinterlace path runs worker-side)."""
    from timeseries_data_provider_spark.operators import gif

    n, dims = _size(scale, 5000), (256, 256)
    palette = (np.arange(768, dtype=np.int64).reshape(256, 3) % 256).astype(np.uint8)
    payloads = [
        gif.encode_gif(256, 256, np.random.RandomState(4000 + c).randint(0, 256, (256, 256), np.uint8),
                       palette, interlace=(c % 2 == 1))
        for c in range(10)
    ]
    _emit_image_decode("gifdecode", n, dims,
                       *_decode_throughput(spark, payloads, gif.register, n, dims))


@probe
def probe_tiffdecode(spark, scale) -> None:
    """Baseline TIFF decode (byte order × plain/PackBits, 32-row
    strips), then a separate 'tifflzw' row for LZW + Predictor 2 over
    coarse noise: a per-code Python loop, kept out of the numpy strip
    tier's average."""
    from timeseries_data_provider_spark.operators import tiff

    dims = (256, 256)
    for name, default, seed, opts in [
        ("tiffdecode", 5000, 5000, lambda c: {"packbits": c % 4 >= 2}),
        ("tifflzw", 2000, 5100, lambda c: {"lzw": True, "predictor": 2}),
    ]:
        n = _size(scale, default)
        payloads = []
        for c in range(10):
            rng = np.random.RandomState(seed + c)
            px = (rng.randint(0, 256, (256, 256, 3), np.uint8) if name == "tiffdecode"
                  else _coarse_noise(rng, (256, 256, 3)))
            payloads.append(tiff.encode_tiff(256, 256, px, big_endian=(c % 2 == 1),
                                             rows_per_strip=32, **opts(c)))
        _emit_image_decode(name, n, dims,
                           *_decode_throughput(spark, payloads, tiff.register, n, dims))


@probe
def probe_ccittfax(spark, scale) -> None:
    """CCITT fax decode of 1728×512 bilevel pages rotating MH / G3 / G4
    over sparse text-like marks and dense noise (the run-coding worst
    case). The honest fax rate is decoded megapixels/s: the payload is
    ~1000× smaller than the raster."""
    from timeseries_data_provider_spark.operators import tiff

    n = _size(scale, 2000)
    h, w = 512, 1728
    payloads = []
    for c in range(10):
        rng = np.random.RandomState(7000 + c)
        if c % 5 < 4:
            img = np.full((h, w), 255, np.uint8)
            for _ in range(300):
                y, x0 = rng.randint(0, h), rng.randint(0, w - 60)
                img[y, x0: x0 + rng.randint(5, 60)] = 0
        else:
            img = np.where(rng.rand(h, w) < 0.5, 0, 255).astype(np.uint8)
        payloads.append(tiff.encode_tiff(w, h, img, ccitt=["mh", "g3", "g4"][c % 3],
                                         big_endian=(c % 2 == 1), rows_per_strip=128))
    dt, total = _decode_throughput(spark, payloads, tiff.register, n, (w, h))
    _emit(
        "ccittfax",
        n_pages=n,
        page=f"{w}x{h}",
        payload_mb=round(total / 1e6, 1),
        secs=round(dt, 2),
        megapixels_per_sec=round(n * w * h / 1e6 / dt, 1),
        pages_per_sec=round(n / dt, 1),
    )


def _vp8_payload(i: int) -> bytes:
    """One dense 32×32 (4-MB) lossy frame: Y2 + AC levels in every MB,
    B_PRED on half of them, the normal loop filter on."""
    from timeseries_data_provider_spark.operators import vp8

    rng = np.random.default_rng(1000 + i)
    mbs = []
    for k in range(4):
        co = rng.integers(-6, 7, (25, 16)).astype(np.int64)
        bpred = (i + k) % 2 == 0
        if bpred:
            co[0] = 0
        mb = {
            "ymode": vp8.B_PRED if bpred else int(rng.integers(0, 4)),
            "uvmode": int(rng.integers(0, 4)),
            "skip": False,
            "segment": 0,
            "coeffs": co,
        }
        if bpred:
            mb["submodes"] = [int(rng.integers(0, 10)) for _ in range(16)]
        mbs.append(mb)
    return vp8.encode_webp(vp8.encode_vp8_frame(32, 32, mbs, q_index=8,
                                                filter_level=20 + i % 40))


@probe
def probe_vp8(spark, scale) -> None:
    """Lossy VP8 WebP decode of n distinct dense frames (a far heavier
    token load than the flat q63 plant), every one checked against the
    driver-side decode."""
    n = _size(scale, 2000)
    t0 = time.perf_counter()
    payloads = [_vp8_payload(i) for i in range(n)]
    build_sec = _since(t0)
    dt, total = _decode_throughput(
        spark, payloads, multimodal.register_builtin_codecs, n, (32, 32))
    _emit(
        "vp8",
        n=n,
        sec=round(dt, 2),
        frames_per_s=round(n / dt, 1),
        kpx_per_s=round(n * 32 * 32 / dt / 1000, 1),
        build_sec=round(build_sec, 2),
        bytes_total=total,
    )


@probe
def probe_flacdecode(spark, scale) -> None:
    """FLAC decode through audio_features: class clips rotate verbatim
    / fixed / mid-side stereo subframes; per-row peak and rms must
    equal the driver-side decode."""
    from timeseries_data_provider_spark.operators import flac

    n = _size(scale, 16000)
    payloads, expects = [], []
    for c in range(10):
        s = np.random.RandomState(6000 + c).randint(-8000, 8000, 8192)
        if c % 3 == 2:
            blob = flac.encode_flac(s, channels=2, stereo_mode="mid_side", blocksize=2048)
        else:
            blob = flac.encode_flac(s, blocksize=2048,
                                    subframe="verbatim" if c % 3 == 0 else None)
        payloads.append(blob)
        fs = multimodal.feature_samples(flac.decode_flac(blob))
        energy = (1_000_000 * int((fs.astype(np.int64) ** 2).sum())) // fs.size
        expects.append((int(np.abs(fs).max()), int(np.floor(np.sqrt(energy)))))
    media = _replicated(spark, payloads, n)
    t0 = time.perf_counter()
    rows = multimodal.audio_features(media, codec_setup=flac.register).collect()
    dt = _since(t0)
    assert len(rows) == n
    bad = [r for r in rows if (r["peak_abs"], r["rms_milli"]) != expects[r["doc_id"] % 10]]
    assert not bad, bad[:3]
    total = _payload_bytes(payloads, n)
    _emit(
        "flacdecode",
        n_clips=n,
        payload_mb=round(total / 1e6, 1),
        secs=round(dt, 2),
        mb_per_sec=round(total / 1e6 / dt, 1),
        clips_per_sec=int(n / dt),
    )


def _meta_probe(spark, probe_name, payloads, features_fn, expect_fn, n) -> None:
    """Metadata-walk rate: class payloads replicated worker-side, every
    output row equal to its class's closed form."""
    blobs = _replicated(spark, payloads, n)
    t0 = time.perf_counter()
    rows = features_fn(blobs).collect()
    dt = _since(t0)
    bad = [r for r in rows if not expect_fn(r)]
    assert not bad, bad[:3]
    _emit(
        probe_name,
        n_files=n,
        payload_mb=round(_payload_bytes(payloads, n) / 1e6, 2),
        secs=round(dt, 2),
        files_per_sec=int(n / dt),
        rows=len(rows),
    )


@probe
def probe_mkvmeta(spark, scale) -> None:
    """EBML track walk over webm / matroska skeletons."""
    from timeseries_data_provider_spark.operators import mkv

    payloads = [
        mkv.encode_mkv_skeleton(
            doctype="webm" if c % 2 == 0 else "matroska",
            duration_ticks=float(1000 + c),
            tracks=[{"track_number": 1, "type_code": 1, "codec_id": "V_VP9",
                     "width": 640 + c, "height": 360}],
            unknown_segment_size=c % 2 == 0,
        )
        for c in range(10)
    ]
    _meta_probe(
        spark, "mkvmeta", payloads, mkv.track_features,
        lambda r: r["duration_ms"] == 1000 + r["doc_id"] % 10
        and r["width"] == 640 + r["doc_id"] % 10 and r["codec"] == "V_VP9",
        _size(scale, 64000),
    )


@probe
def probe_mp3meta(spark, scale) -> None:
    """MP3 frame-header walk behind ID3 tags."""
    from timeseries_data_provider_spark.operators import mp3

    payloads = [
        mp3.encode_mp3_skeleton(n_frames=20 + c, bitrate_idx=9, rate_idx=0, id3_size=100 * c)
        for c in range(10)
    ]
    _meta_probe(
        spark, "mp3meta", payloads, mp3.mp3_features,
        lambda r: r["n_frames"] == 20 + r["doc_id"] % 10
        and r["duration_ms"] == (20 + r["doc_id"] % 10) * 1152 * 1000 // 44100
        and r["bitrate_kbps"] == 128 and r["clean_eof"],
        _size(scale, 64000),
    )


@probe
def probe_exifmeta(spark, scale) -> None:
    """EXIF IFD walk (make, orientation, size, GPS) in JPEG APP1."""
    from timeseries_data_provider_spark.operators import exif, jpeg

    payloads = [
        exif.insert_app1(
            jpeg.encode_baseline_jpeg(np.full((8, 8), 16 * c, dtype=np.uint8)),
            exif.build_exif_app1(make=f"Cam{c}", orientation=1 + c % 8, width=640 + c,
                                 height=480, gps=(("N", c, 30, 0, 1), ("E", 2 * c, 0, 0, 1))),
        )
        for c in range(10)
    ]
    _meta_probe(
        spark, "exifmeta", payloads, exif.exif_features,
        lambda r: r["make"] == f"Cam{r['doc_id'] % 10}"
        and r["orientation"] == 1 + r["doc_id"] % 10 % 8
        and r["exif_width"] == 640 + r["doc_id"] % 10
        and r["gps_lat_micro"] == (r["doc_id"] % 10) * 1_000_000 + 500_000,
        _size(scale, 64000),
    )


@probe
def probe_imagededup(spark, scale) -> None:
    """dHash near-dup over unique noise images plus planted re-encode
    pairs (the same pixels as BMP and PNG, ids i and 1,000,000 + i):
    the pair set is exactly the plants, at distance 0."""
    from timeseries_data_provider_spark.operators import imagehash

    n, n_pairs = _size(scale, 64000), _size(scale, 1000)

    def make(i):
        px = np.random.RandomState(i % 1_000_000).randint(0, 256, (48, 64)).astype(np.uint8)
        return multimodal.encode_png(64, 48, px) if i >= 1_000_000 else multimodal.encode_bmp(64, 48, px)

    media = _built_per_id(
        spark.range(n).unionAll(spark.range(1_000_000, 1_000_000 + n_pairs)), make)
    t0 = time.perf_counter()
    sk = imagehash.image_dhash(media).localCheckpoint(eager=True)
    hash_s = _since(t0)
    t1 = time.perf_counter()
    pairs = imagehash.hamming_pairs(sk, max_distance=4).collect()
    pair_s = _since(t1)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs}
    want = {(i, 1_000_000 + i) for i in range(n_pairs)}
    assert got == want, (len(got), len(want), list(got - want)[:3])
    assert all(r["hamming"] == 0 for r in pairs)
    _emit(
        "imagededup",
        n_images=n + n_pairs,
        hash_secs=round(hash_s, 2),
        pair_secs=round(pair_s, 2),
        images_per_sec=int((n + n_pairs) / hash_s),
        pairs_found=len(got),
    )


@probe
def probe_phash(spark, scale) -> None:
    """DCT perceptual hash over unique images plus planted pairs whose
    second member is the first brightness-shifted by +6 (mid-range
    pixels, so only the DC coefficient moves): the pairs found at
    Hamming <= 2 are exactly the plants."""
    from timeseries_data_provider_spark.operators import imagehash

    n, n_pairs = _size(scale, 65000), _size(scale, 1000)

    def make(i):
        if i < 2 * n_pairs:
            base_id, shift = divmod(i, 2)
            rng = np.random.RandomState(900000 + base_id)
            px = (40 + rng.randint(0, 128, (48, 64)) + 6 * shift).astype(np.uint8)
        else:
            px = np.random.RandomState(i).randint(0, 256, (48, 64)).astype(np.uint8)
        return multimodal.encode_bmp(64, 48, px)

    media = _built_per_id(spark.range(n), make)
    t0 = time.perf_counter()
    sk = imagehash.image_phash(media).localCheckpoint(eager=True)
    n_hashed = sk.count()
    hash_s = round(_since(t0), 2)
    assert n_hashed == n
    t0 = time.perf_counter()
    pairs = imagehash.hamming_pairs(sk, max_distance=2).collect()
    pair_s = round(_since(t0), 2)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs}
    want = {(2 * k, 2 * k + 1) for k in range(n_pairs)}
    assert not want - got, f"{len(want - got)} planted pairs missed"
    assert not got - want, f"{len(got - want)} false pairs: {sorted(got - want)[:5]}"
    _emit(
        "phash",
        n_images=n,
        planted_pairs=n_pairs,
        hash_secs=hash_s,
        images_per_sec=int(n / hash_s),
        pair_secs=pair_s,
        found_pairs=len(got),
    )


# ---------------------------------------------------------- document tier


@probe
def probe_jpx(spark, scale) -> None:
    """JPEG 2000 lossless 5/3 (2 decomposition levels) on the scan-PDF
    chain, 64×48 gradient pages."""
    _scan_pdf_throughput(spark, "jpx", _size(scale, 1000), _gradient_page(64, 48), "jpx", 64, 48)


@probe
def probe_jpxopt(spark, scale) -> None:
    """JPEG 2000 with the coder options on (bypass, reset, per-pass
    termination, segmark, 2 quality layers); compare with the jpx row."""
    _scan_pdf_throughput(spark, "jpxopt", _size(scale, 1000), _gradient_page(64, 48),
                         "jpx-opt", 64, 48)


@probe
def probe_jpxprec(spark, scale) -> None:
    """JPEG 2000 with explicit (4,4) precincts and 2 quality layers;
    compare with the jpx row."""
    _scan_pdf_throughput(spark, "jpxprec", _size(scale, 1000), _gradient_page(64, 48),
                         "jpx-prec", 64, 48)


@probe
def probe_jbig2huff(spark, scale) -> None:
    """JBIG2 Huffman symbol dictionary + text region (custom FS/DS/DT
    tables, standard tables B.1-B.5, MMR collective bitmaps) on
    128×96 stripe pages."""
    _scan_pdf_throughput(spark, "jbig2huff", _size(scale, 2000), _stripe_page(128, 96),
                         "jbig2-text-huff", 128, 96)


@probe
def probe_jbig2ref(spark, scale) -> None:
    """JBIG2 refinement: each stripe page painted as a coarse generic
    region and restored by a refinement region with TPGRON."""
    _scan_pdf_throughput(spark, "jbig2ref", _size(scale, 2000), _stripe_page(128, 96),
                         "jbig2-ref", 128, 96)


@probe
def probe_jbig2(spark, scale) -> None:
    """T.88 generic regions (MQ template 0, MQ + TPGDON, MMR, text)
    over closed-form stripe rasters of period 1-4, built worker-side."""
    n = _size(scale, 2000)
    w, h = 128, 96

    def make(i):
        row = np.where((np.arange(w) // (i % 4 + 1)) % 2 == 0, 0, 255).astype(np.uint8)
        kind = ["jbig2", "jbig2-tpgdon", "jbig2-mmr", "jbig2-text"][i % 4]
        return pdfmod.encode_scan_pdf([(kind, np.tile(row, (h, 1)))])

    media = _built_per_id(spark.range(n), make)
    want = [
        (1000 * 255 * int(((np.arange(w) // p) % 2 == 1).sum()) * h) // (w * h)
        for p in (1, 2, 3, 4)
    ]
    t0 = time.perf_counter()
    expect = F.element_at(F.array(*map(F.lit, want)), (F.col("doc_id") % 4 + 1).cast("int"))
    agg = pdfmod.pdf_image_features(media).agg(
        F.count("*").alias("total"),
        F.sum((F.col("pixel_milli") != expect).cast("long")).alias("bad"),
    ).first()
    dt = _since(t0)
    assert agg["total"] == n and agg["bad"] == 0, agg
    _emit(
        "jbig2",
        n=n,
        sec=round(dt, 2),
        pages_per_sec=round(n / dt),
        kpx_per_sec=round(n * w * h / dt / 1000),
        mismatches=0,
    )


@probe
def probe_scandedup(spark, scale) -> None:
    """Scanned-page dedup chain on single-page CCITT-G4 scan PDFs,
    every id % 5 == 4 page an exact re-scan of the previous doc: the
    pixel_sha256 tier recovers exactly the plants, the quartered-dHash
    tier finds every plant with (almost) no false pairs."""
    from timeseries_data_provider_spark.operators import imagehash

    n = _size(scale, 20000)
    h, w = 64, 128

    def make(i):
        # a seeded raster per content key (a closed-form modulus
        # pattern repeats across keys)
        rng = np.random.default_rng(i - 1 if i % 5 == 4 else i)
        page = np.where(rng.random((h, w)) < 0.35, 0, 255).astype(np.uint8)
        return pdfmod.encode_scan_pdf([("ccitt-g4", page)])

    media = _built_per_id(spark.range(n), make)
    t0 = time.perf_counter()
    feats = pdfmod.pdf_image_features(media).localCheckpoint(eager=True)
    t_extract = _since(t0)
    planted = {(i - 1, i) for i in range(n) if i % 5 == 4}
    t0 = time.perf_counter()
    exact = (
        feats.alias("a").join(feats.alias("b"), "pixel_sha256")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("x"), F.col("b.doc_id").alias("y"))
        .collect()
    )
    t_exact = _since(t0)
    got_exact = {(r["x"], r["y"]) for r in exact}
    assert got_exact == planted, (len(got_exact - planted), len(planted - got_exact))
    t0 = time.perf_counter()
    pairs = imagehash.hamming_pairs(
        feats.select("doc_id", "q0", "q1", "q2", "q3"), max_distance=3).collect()
    t_hash = _since(t0)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs}
    assert not planted - got, f"{len(planted - got)} planted pairs missed"
    extra = got - planted
    assert len(extra) <= n // 1000, f"{len(extra)} non-planted pairs"
    _emit(
        "scandedup",
        n_pages=n,
        planted_pairs=len(planted),
        extract_secs=round(t_extract, 2),
        pages_per_sec=round(n / t_extract, 1),
        exact_secs=round(t_exact, 2),
        dhash_pair_secs=round(t_hash, 2),
        nonplanted_dhash_pairs=len(extra),
    )


_TEN_KINDS = ("docx", "xlsx", "pptx", "rtf", "eml", "ipynb", "doc", "ppt", "xls", "msg")
_POISON = b"\xff\xfe crawl damage \x00\x01" * 3


def _ten_format_corpus(spark, n: int, poison_every: int = 0):
    """n docs rotating the ten document formats (kind = _TEN_KINDS[id %
    10]) with closed-form text; with ``poison_every``, ids ≡ -1 mod
    poison_every carry undecodable bytes instead."""
    from timeseries_data_provider_spark.sources import (
        doc, eml, msg, notebook, office, ppt, rtf, xls,
    )

    encoders = [
        lambda i, p: office.encode_docx(p, title=f"T{i}"),
        lambda i, p: office.encode_xlsx([[[p[0]], [p[1]]]]),
        lambda i, p: office.encode_pptx([p]),
        lambda i, p: rtf.encode_rtf(p, title=f"T{i}"),
        lambda i, p: eml.encode_eml(f"T{i}", "\n".join(p)),
        # one markdown + one raw cell, joined by a blank line
        lambda i, p: notebook.encode_notebook([("markdown", p[0]), ("raw", p[1])]),
        lambda i, p: doc.encode_doc("\r".join(p), pieces=2, mixed=True),
        lambda i, p: ppt.encode_ppt(p),
        lambda i, p: xls.encode_xls(p),
        lambda i, p: msg.encode_msg(f"T{i}", "\r\n".join(p)),
    ]

    def make(i):
        if poison_every and i % poison_every == poison_every - 1:
            return _POISON
        return encoders[i % 10](i, [f"Document {i} line one.", f"Line two of {i} with naïve — text."])

    kinds = F.array(*map(F.lit, _TEN_KINDS))
    return _built_per_id(spark.range(n), make).withColumn(
        "kind", F.element_at(kinds, (F.col("doc_id") % 10 + 1).cast("int")))


def _ten_format_ops() -> dict:
    from timeseries_data_provider_spark.sources import (
        doc, eml, msg, notebook, office, ppt, rtf, xls,
    )

    return {
        "docx": office.office_features,
        "xlsx": office.office_features,
        "pptx": office.office_features,
        "rtf": rtf.rtf_features,
        "eml": eml.eml_features,
        "ipynb": notebook.notebook_features,
        "doc": doc.doc_features,
        "ppt": ppt.ppt_features,
        "xls": xls.xls_features,
        "msg": msg.msg_features,
    }


def _ten_format_union(media, select, **kw):
    """Every family's feature operator over its own slice, unioned."""
    parts = [
        select(op(media.where(F.col("kind") == kind), **kw), kind)
        for kind, op in _ten_format_ops().items()
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@probe
def probe_officertf(spark, scale) -> None:
    """Document-tier extraction over the ten formats (DOCX / XLSX /
    PPTX / RTF / EML / IPYNB and OLE2 .doc / .ppt / .xls / .msg): every
    text equals its closed form (notebook cells join with a blank
    line, the rest with one newline)."""
    n = _size(scale, 50000)
    media = _ten_format_corpus(spark, n)
    t0 = time.perf_counter()
    got = _ten_format_union(
        media, lambda df, kind: df.select("doc_id", F.lit(kind).alias("kind"), "text")
    ).localCheckpoint(eager=True)
    n_got = got.count()
    dt = _since(t0)
    assert n_got == n, n_got
    sep = F.when(F.col("kind") == "ipynb", F.lit("\n\n")).otherwise(F.lit("\n"))
    expect = F.concat(
        F.lit("Document "), F.col("doc_id"), F.lit(" line one."), sep,
        F.lit("Line two of "), F.col("doc_id"), F.lit(" with naïve — text."),
    )
    bad = got.where(F.col("text") != expect).count()
    assert bad == 0, f"{bad} mismatched extractions"
    _emit("officertf", n_docs=n, secs=round(dt, 2), docs_per_sec=round(n / dt, 1))


@probe
def probe_quarantine(spark, scale) -> None:
    """The tolerant extraction envelope: the ten-format corpus with one
    doc in every 1,000 poisoned; errors='quarantine' keeps the batch
    alive with exactly one side row per poisoned doc, and on a clean
    corpus costs nothing measurable next to the raise default."""
    n = _size(scale, 50000)
    # a multiple of 10, so every poisoned id is an .msg (id % 10 == 9)
    poison_every = _size(scale, 1000, step=10)

    def run_all(media, errors: str) -> tuple[float, int, int]:
        """(seconds, clean rows, quarantined rows) over one union job."""
        err = (F.col("err_class") if errors == "quarantine"
               else F.lit(None).cast("string").alias("err_class"))
        t0 = time.perf_counter()
        u = _ten_format_union(media, lambda df, kind: df.select("doc_id", err), errors=errors)
        agg = u.agg(
            F.count("*").alias("total"),
            F.count("err_class").alias("bad"),
            F.count_distinct("doc_id").alias("ids"),
        ).first()
        dt = _since(t0)
        assert agg["ids"] == agg["total"], "duplicate or lost doc ids"
        return dt, agg["total"] - agg["bad"], agg["bad"]

    media_bad = _ten_format_corpus(spark, n, poison_every)
    dt_bad, clean, bad = run_all(media_bad, "quarantine")
    want_bad = n // poison_every
    assert bad == want_bad and clean == n - want_bad, (bad, clean, want_bad)
    from timeseries_data_provider_spark.sources import msg

    classes = (
        msg.msg_features(media_bad.where(F.col("kind") == "msg"), errors="quarantine")
        .where(F.col("err_class").isNotNull())
        .select("err_class").distinct().collect()
    )
    assert [r["err_class"] for r in classes] == ["ValueError"], classes
    media_clean = _ten_format_corpus(spark, n)
    dt_raise, clean_r, _ = run_all(media_clean, "raise")
    dt_quar, clean_q, bad_q = run_all(media_clean, "quarantine")
    assert clean_r == n and clean_q == n and bad_q == 0
    _emit(
        "quarantine",
        n=n,
        poisoned=want_bad,
        quarantined=bad,
        clean=clean,
        sec_poisoned_quarantine=round(dt_bad, 2),
        docs_per_sec_poisoned=round(n / dt_bad),
        sec_clean_raise=round(dt_raise, 2),
        sec_clean_quarantine=round(dt_quar, 2),
        docs_per_sec_clean_raise=round(n / dt_raise),
        docs_per_sec_clean_quarantine=round(n / dt_quar),
    )


def _mismatches(df, *checks) -> dict:
    """total rows plus, per (name, expected-equality) check, the rows
    where it fails."""
    return df.agg(
        F.count("*").alias("total"),
        *[F.sum(F.when(ok, 0).otherwise(1)).alias(name) for name, ok in checks],
    ).first().asDict()


@probe
def probe_lzfu(spark, scale) -> None:
    """Outlook .msg containers whose body exists only as
    PR_RTF_COMPRESSED: CFB walk, LZFu decompress and RTF parse per doc;
    every text and subject equals its closed form."""
    from timeseries_data_provider_spark.sources import msg

    n = _size(scale, 20000)

    media = _built_per_id(spark.range(n), lambda i: msg.encode_msg(
        f"S{i}", f"Paragraph one of memo {i}.\r\nSecond line of {i} — naïve text.",
        rtf_body=True))
    t0 = time.perf_counter()
    agg = _mismatches(
        msg.msg_features(media),
        ("bad_text", F.col("text") == F.concat(
            F.lit("Paragraph one of memo "), F.col("doc_id"), F.lit(".\nSecond line of "),
            F.col("doc_id"), F.lit(" — naïve text."))),
        ("bad_subj", F.col("subject") == F.concat(F.lit("S"), F.col("doc_id"))),
    )
    dt = _since(t0)
    assert agg["total"] == n and agg["bad_text"] == 0 and agg["bad_subj"] == 0, agg
    _emit("lzfu", n=n, sec=round(dt, 2), docs_per_sec=round(n / dt), mismatches=0)


@probe
def probe_offcrypto(spark, scale) -> None:
    """Encrypted DOCX (half Standard SHA-1/AES-ECB at 50k spins, half
    Agile SHA-512/AES-CBC at 10k) through office_features' transparent
    decrypt: a KDF-bound rate, since per-file salts make the derivation
    uncacheable."""
    from timeseries_data_provider_spark.sources import offcrypto, office

    n = _size(scale, 2000)

    def make(i):
        plain = office.encode_docx([f"Encrypted memo {i}.", f"Line two of {i}."], title=f"T{i}")
        return offcrypto.encrypt_ooxml(plain, "" if i % 4 < 2 else "VelvetSweatshop",
                                       "standard" if i % 2 == 0 else "agile")

    media = _built_per_id(spark.range(n), make)
    t0 = time.perf_counter()
    agg = _mismatches(
        office.office_features(media),
        ("bad", F.col("text") == F.concat(
            F.lit("Encrypted memo "), F.col("doc_id"), F.lit(".\nLine two of "),
            F.col("doc_id"), F.lit("."))),
        ("bad_title", F.col("title") == F.concat(F.lit("T"), F.col("doc_id"))),
    )
    dt = _since(t0)
    assert agg["total"] == n and agg["bad"] == 0 and agg["bad_title"] == 0, agg
    _emit("offcrypto", n=n, sec=round(dt, 2), docs_per_sec=round(n / dt), mismatches=0)


@probe
def probe_pdfextract(spark, scale) -> None:
    """Two-page Flate text PDFs built and extracted; pages, title and
    text equal their closed forms on every row."""
    n = _size(scale, 64000)
    line = F.concat(F.lit("spark extracts document text at scale row "),
                    F.col("doc_id").cast("string"))
    docs = spark.range(n).select(F.col("id").alias("doc_id")).select(
        "doc_id", line.alias("text")).localCheckpoint(eager=True)
    blobs = pdfmod.synth_pdf_corpus(docs).localCheckpoint(eager=True)
    total_bytes = blobs.agg(F.sum(F.length("payload"))).first()[0]
    t0 = time.perf_counter()
    deviates = (
        (F.col("n_pages") != 2)
        | (F.col("title") != F.concat(F.lit("Doc "), F.col("doc_id").cast("string")))
        | (F.col("text") != F.concat(line, F.lit("\x0cArchive copy "),
                                     F.col("doc_id").cast("string"), F.lit(".")))
    )
    stats = pdfmod.pdf_features(blobs).agg(
        F.sum(deviates.cast("long")).alias("bad"), F.count(F.lit(1)).alias("n")).first()
    dt = _since(t0)
    assert stats["bad"] == 0 and stats["n"] == n, stats
    _emit(
        "pdfextract",
        n_docs=n,
        payload_mb=round(total_bytes / 1e6, 1),
        secs=round(dt, 2),
        mb_per_sec=round(total_bytes / 1e6 / dt, 1),
        docs_per_sec=int(n / dt),
    )


# ------------------------------------------------------------- crawl / web


_CRAWL_TEXT = "alpha beta gamma delta epsilon zeta eta theta doc "


@probe
def probe_crawl(spark, scale) -> None:
    """Per-doc WARC archives (3 gzip members, the Common Crawl layout)
    through warc_responses → html_text_features; the pages are the q64
    plant family, so title / block counts / text are closed-form on
    every row."""
    import __spark_entry__ as entry

    from timeseries_data_provider_spark.operators import htmltext
    from timeseries_data_provider_spark.sources import warc

    n = _size(scale, 64000)
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit(_CRAWL_TEXT), F.col("id").cast("string")).alias("text"),
    )
    archives = warc.synth_warc_corpus(
        docs, html_builder=entry._crawl_page, url_builder=entry._crawl_url
    ).localCheckpoint(eager=True)
    total_bytes = archives.agg(F.sum(F.length("payload"))).first()[0]
    t0 = time.perf_counter()
    pages = warc.warc_responses(archives).select(
        "doc_id", "http_status", F.col("body").cast("string").alias("html"))
    sid = F.col("doc_id").cast("string")
    deviates = (
        (F.col("title") != F.concat(F.lit("Doc "), sid, F.lit(" & friends")))
        | (F.col("n_blocks") != F.lit(4) + 2 * (F.col("doc_id") % 2 == 0).cast("int")
           + (F.col("doc_id") % 3 == 0).cast("int"))
        | (F.col("n_boiler_blocks") != F.lit(1) + (F.col("doc_id") % 3 == 0).cast("int"))
        | (~F.col("text").startswith(F.concat(F.lit("Heading "), sid)))
    )
    stats = htmltext.html_text_features(pages).agg(
        F.sum(deviates.cast("long")).alias("bad"), F.count(F.lit(1)).alias("n")).first()
    dt = _since(t0)
    assert stats["bad"] == 0, f"{stats['bad']} rows deviated"
    assert stats["n"] == n, (stats["n"], n)
    _emit(
        "crawl",
        n_archives=n,
        archive_mb=round(total_bytes / 1e6, 1),
        secs=round(dt, 2),
        mb_per_sec=round(total_bytes / 1e6 / dt, 1),
        archives_per_sec=int(n / dt),
    )


@probe
def probe_mdconvert(spark, scale) -> None:
    """HTML → Markdown over the q64 plant family: every document equals
    the closed-form Markdown (one JVM equality aggregate)."""
    import __spark_entry__ as entry

    from timeseries_data_provider_spark.operators import markdown

    n = _size(scale, 64000)
    builder = entry._crawl_page

    def synth(batches):
        for pdf in batches:
            ids = [int(i) for i in pdf["doc_id"]]
            yield pd.DataFrame({"doc_id": ids,
                                "html": [builder(i, f"{_CRAWL_TEXT}{i}") for i in ids]})

    pages = spark.range(n).select(F.col("id").alias("doc_id")).mapInPandas(
        synth, "doc_id long, html string").localCheckpoint(eager=True)
    total_bytes = pages.agg(F.sum(F.length("html"))).first()[0]
    sid = F.col("doc_id").cast("string")
    expect = F.concat(
        F.lit("# Heading "), sid, F.lit("\n\n"),
        F.lit("Alpha & beta **gamma**.\n\n"), F.lit(_CRAWL_TEXT), sid,
        F.lit("\n\n[one](/a) [two](/b)"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("\n\n- item A\n- item B")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 3 == 0,
               F.lit("\n\nshort [link text here longer](/c) tail")).otherwise(F.lit("")),
    )
    t0 = time.perf_counter()
    stats = markdown.html_markdown(pages).join(pages.select("doc_id"), "doc_id").agg(
        F.sum((F.col("markdown") != expect).cast("long")).alias("bad"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    dt = _since(t0)
    assert stats["bad"] == 0, f"{stats['bad']} rows deviated"
    assert stats["n"] == n
    _emit(
        "mdconvert",
        n_pages=n,
        html_mb=round(total_bytes / 1e6, 1),
        secs=round(dt, 2),
        pages_per_sec=int(n / dt),
        mb_per_sec=round(total_bytes / 1e6 / dt, 1),
    )


def _three_classes(id_col, forms):
    """A per-id string picked by id % 3 from three concat-part builders."""
    return (
        F.when(id_col % 3 == 0, F.concat(*forms[0]))
        .when(id_col % 3 == 1, F.concat(*forms[1]))
        .otherwise(F.concat(*forms[2]))
    )


@probe
def probe_urlnorm(spark, scale) -> None:
    """JVM URL canonicalization over three planted messy-URL classes in
    ONE projection: every normalized form equals its closed form, and
    the registered domains are exactly the 9 planted ones."""
    from timeseries_data_provider_spark.operators import urls

    n = _size(scale, 6_400_000)

    def classes(i, raw):
        m, s = (i % 7).cast("string"), i.cast("string")
        if raw:
            return [
                [F.lit("HTTP://Example"), m, F.lit(".COM:80//doc//"), s, F.lit("?b=2&a=1#frag")],
                [F.lit("https://WWW.blog"), m, F.lit(".example.CO.UK/post/"), s, F.lit("/comments")],
                [F.lit("https://cdn"), m, F.lit(".example.net:8443/img//"), s, F.lit(".png?x=1")],
            ]
        return [
            [F.lit("http://example"), m, F.lit(".com/doc/"), s, F.lit("?a=1&b=2")],
            [F.lit("https://www.blog"), m, F.lit(".example.co.uk/post/"), s, F.lit("/comments")],
            [F.lit("https://cdn"), m, F.lit(".example.net:8443/img/"), s, F.lit(".png?x=1")],
        ]

    i = F.col("id")
    raw = spark.range(n).select(
        i.alias("doc_id"), _three_classes(i, classes(i, True)).alias("url")
    ).localCheckpoint(eager=True)
    d = F.col("doc_id")
    t0 = time.perf_counter()
    out = raw.select(
        "doc_id",
        urls.url_normalize(F.col("url")).alias("norm"),
        urls.url_registered_domain(urls.url_host(F.col("url"))).alias("dom"),
        urls.url_path_depth(F.col("url")).alias("depth"),
    )
    stats = out.agg(
        F.sum((F.col("norm") != _three_classes(d, classes(d, False))).cast("long")).alias("bad"),
        F.count_distinct("dom").alias("doms"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    dt = _since(t0)
    assert stats["bad"] == 0, stats
    # example{0..6}.com + example.co.uk + example.net (the id % 3 and
    # id % 7 pattern repeats every 21 ids)
    want_doms = len({i % 7 if i % 3 == 0 else -(i % 3) for i in range(min(n, 21))})
    assert stats["doms"] == want_doms, stats
    assert stats["n"] == n
    _emit("urlnorm", n_urls=n, secs=round(dt, 2), urls_per_sec=int(n / dt))


@probe
def probe_clfscore(spark, scale) -> None:
    """Hashed-logistic scoring over 20-token docs whose tokens are
    class-determined: every exact-integer milli-logit equals its
    class's closed form under the seeded model."""
    import hashlib

    from timeseries_data_provider_spark.operators import classifier

    n, dim = _size(scale, 640000), 4096
    words = [f"tok{c}" for c in range(40)]

    def w_of(tok: str) -> int:
        return int(hashlib.md5(tok.encode()).hexdigest()[:12], 16) % dim % 201 - 100

    class_logit = [7 + sum(w_of(words[(c + j) % 40]) for j in range(20)) for c in range(10)]
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *[
            F.concat(F.lit("tok"), ((F.col("id") % 10 + j) % 40).cast("string"))
            for j in range(20)
        ]).alias("text"),
    ).localCheckpoint(eager=True)
    weights = classifier.seed_weights(spark, dim)
    t0 = time.perf_counter()
    expect = F.element_at(F.array(*map(F.lit, class_logit)),
                          (F.col("doc_id") % 10 + 1).cast("int"))
    stats = classifier.score_documents(docs, weights, dim, bias_milli=7).agg(
        F.sum((F.col("logit_milli") != expect).cast("long")).alias("bad"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    dt = _since(t0)
    assert stats["bad"] == 0 and stats["n"] == n, stats
    _emit(
        "clfscore",
        n_docs=n,
        n_tokens=n * 20,
        dim=dim,
        secs=round(dt, 2),
        docs_per_sec=int(n / dt),
        tokens_per_sec=int(n * 20 / dt),
    )


@probe
def probe_cavnar(spark, scale) -> None:
    """Cavnar-Trenkle language ID trained on a 4-language planted
    corpus and classifying it: 100% accuracy (the languages are
    genuinely distinct)."""
    from timeseries_data_provider_spark.operators import langid

    n = _size(scale, 320000)
    phrases = [
        ("en", "the quick brown fox jumps over the lazy dog again"),
        ("de", "der schnelle braune fuchs springt ueber den faulen hund"),
        ("es", "el rapido zorro marron salta sobre el perro perezoso"),
        ("fr", "le renard brun rapide saute par dessus le chien"),
    ]
    pick = (F.col("id") % 4 + 1).cast("int")
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.element_at(F.array(*[F.lit(lang) for lang, _ in phrases]), pick).alias("lang"),
        F.concat(
            F.element_at(F.array(*[F.lit(t) for _, t in phrases]), pick),
            F.lit(" marker "), (F.col("id") % 97).cast("string"),
        ).alias("text"),
    ).localCheckpoint(eager=True)
    t0 = time.perf_counter()
    prof = langid.train_langid_profiles(docs, top_k=200)
    stats = langid.langid_classify(docs, prof, top_k=200).join(
        docs.select("doc_id", "lang"), "doc_id").agg(
        F.sum((F.col("lang_pred") != F.col("lang")).cast("long")).alias("wrong"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    dt = _since(t0)
    assert stats["wrong"] == 0 and stats["n"] == n, stats
    _emit("cavnar", n_docs=n, secs=round(dt, 2), docs_per_sec=int(n / dt))


@probe
def probe_pagerank(spark, scale) -> None:
    """Exact-integer PageRank over a synthetic web (16 hash-derived
    out-links per node, node 0 a planted hub every 40th node also links
    to): node 0 ranks first, total mass <= scale, and a 3-iteration run
    over a 22-edge graph matches an independent Python replay."""
    from timeseries_data_provider_spark.operators import linkgraph

    n_nodes, fanout = _size(scale, 400_000), 16
    edges = spark.range(n_nodes).selectExpr(
        "id as src", f"explode(sequence(1, {fanout})) as j"
    ).selectExpr(
        "src",
        f"CASE WHEN src % 40 = 0 AND j = 1 THEN 0 "
        f"ELSE pmod(xxhash64(src * 31 + j), {n_nodes}) END as dst",
    ).localCheckpoint(eager=True)
    n_edges = edges.count()
    t0 = time.perf_counter()
    ranks = linkgraph.pagerank_exact(edges, iterations=5)
    top = ranks.orderBy(F.col("rank").desc()).first()
    total = ranks.agg(F.sum("rank")).first()[0]
    dt = _since(t0)
    assert top["node"] == 0, top
    assert 0 < total <= 10**12, total
    small = [(s, (s * 7 + 3) % 20) for s in range(20)] + [(5, 0), (9, 0)]
    got = {
        r["node"]: r["rank"]
        for r in linkgraph.pagerank_exact(
            spark.createDataFrame(pd.DataFrame(small, columns=["src", "dst"])),
            iterations=3).collect()
    }
    nodes = sorted({s for s, _ in small} | {t for _, t in small})
    out: dict = {}
    for s, _ in small:
        out[s] = out.get(s, 0) + 1
    unit = 10**12 // len(nodes)
    rank = {v: unit for v in nodes}
    for _ in range(3):
        dang = sum(r for v, r in rank.items() if v not in out)
        inc = {v: 0 for v in nodes}
        for s, t in small:
            inc[t] += rank[s] // out[s]
        rank = {v: (150 * unit + 850 * (inc[v] + dang // len(nodes))) // 1000 for v in nodes}
    assert got == rank
    _emit(
        "pagerank",
        n_nodes=n_nodes,
        n_edges=int(n_edges),
        iterations=5,
        secs=round(dt, 2),
        edges_x_iters_per_sec=int(n_edges * 5 / dt),
    )


@probe
def probe_zorder(spark, scale) -> None:
    """Z-order layout over 2 independent columns against a linear
    x-range-clustered control: rows decoded (executed-plan scan
    metrics) for a 0.1% slice on each column. Linear wins x outright;
    z-order must win y by 4×. Row groups scale with the data, so the
    pruning ratios do too."""
    n = _size(scale, 6_400_000)
    rg_bytes = _size(scale, 1024 * 1024)
    df = spark.range(n).select(
        F.col("id").alias("x"),
        ((F.col("id") * 48271) % n).alias("y"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    )
    os.makedirs(WORK, exist_ok=True)
    root = tempfile.mkdtemp(prefix="zorder_", dir=WORK)
    try:
        t0 = time.perf_counter()
        tables.write_zorder(df, f"{root}/z", ["x", "y"], num_files=32, bits=6,
                            row_group_bytes=rg_bytes)
        z_write = round(_since(t0), 2)
        t0 = time.perf_counter()
        tables.write_range_clustered(df, f"{root}/l", ["x"], num_files=32,
                                     row_group_bytes=rg_bytes)
        l_write = round(_since(t0), 2)
        lo = n // 2
        hi = lo + n // 1000

        def decoded(path, col):
            q = spark.read.parquet(path).filter(
                (F.col(col) >= lo) & (F.col(col) < hi)).select(col)
            assert q.count() == hi - lo
            q.collect()
            return max(s["output_rows"] for s in planstats.scan_stats(q))

        zx, zy = decoded(f"{root}/z", "x"), decoded(f"{root}/z", "y")
        lx, ly = decoded(f"{root}/l", "x"), decoded(f"{root}/l", "y")
    finally:
        shutil.rmtree(root, ignore_errors=True)
    assert lx <= n * 0.02, lx
    assert zy * 4 <= ly, (zy, ly)
    assert zx <= n * 0.5 and zy <= n * 0.5, (zx, zy)
    _emit(
        "zorder",
        n_rows=n,
        write_secs={"zorder": z_write, "linear": l_write},
        decoded_rows={"zx": zx, "zy": zy, "lx": lx, "ly": ly},
        y_prune_ratio=round(ly / max(zy, 1), 1),
    )


@probe
def probe_frontier(spark, scale) -> None:
    """Politeness-capped frontier scheduling, 64 candidates per host:
    slow hosts (5 s crawl-delay) keep 12 in a 60 s window, the rest
    60; a planted slow host's offset ladder and priority order are
    exact."""
    from timeseries_data_provider_spark.operators import frontier

    n_hosts, n_slow, per_host = _size(scale, 100_000), _size(scale, 1000), 64
    n = n_hosts * per_host
    cands = spark.range(n).select(
        F.concat(F.lit("http://h"), (F.col("id") % n_hosts).cast("string"),
                 F.lit(".com/p"), F.col("id").cast("string")).alias("url"),
        ((F.col("id") * 13) % 997).cast("double").alias("priority"),
    )
    slow = spark.range(n_slow).select(
        F.concat(F.lit("h"), F.col("id").cast("string"), F.lit(".com")).alias("host"),
        F.lit(5.0).alias("crawl_delay"),
    )
    t0 = time.perf_counter()
    sched = frontier.frontier_schedule(cands, window_seconds=60.0, delays=slow).localCheckpoint(
        eager=True)
    total = sched.count()
    dt = round(_since(t0), 2)
    assert total == n_slow * 12 + (n_hosts - n_slow) * 60, total
    h0 = sorted(
        (r["rank"], r["scheduled_offset_ms"], r["priority"])
        for r in sched.filter(F.col("host") == "h0.com").collect()
    )
    assert [r[1] for r in h0] == [5000 * k for k in range(12)], h0
    pr = [r[2] for r in h0]
    assert pr == sorted(pr, reverse=True), pr
    _emit("frontier", n_candidates=n, n_hosts=n_hosts, scheduled=total, secs=dt,
          urls_per_sec=int(n / dt))


@probe
def probe_zratio(spark, scale) -> None:
    """zlib compression ratio: half prose-like, half template-stuffed
    docs; every template doc compresses better than every prose doc,
    and 1,000 rows recompute exactly with driver-side zlib."""
    import zlib

    from timeseries_data_provider_spark.operators import text

    n = _size(scale, 320_000)
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(
            F.col("id") % 2 == 0,
            F.concat(
                F.lit("alpha beta gamma delta epsilon zeta eta "),
                ((F.col("id") * 31) % 9973).cast("string"),
                F.lit(" theta iota kappa lambda mu nu xi omicron "),
                ((F.col("id") * 17) % 9973).cast("string"),
            ),
        ).otherwise(F.lit("spam ham " * 40)).alias("text"),
    ).localCheckpoint(eager=True)
    total_bytes = docs.agg(F.sum(F.length("text"))).first()[0]
    t0 = time.perf_counter()
    got = text.compression_ratio(docs).localCheckpoint(eager=True)
    agg = got.agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.when(F.col("doc_id") % 2 == 0, F.col("compression_ratio"))).alias("prose_min"),
        F.max(F.when(F.col("doc_id") % 2 == 1, F.col("compression_ratio"))).alias("spam_max"),
    ).first()
    dt = _since(t0)
    assert agg["n"] == n
    assert agg["spam_max"] < agg["prose_min"], agg
    for r in got.join(docs, "doc_id").limit(1000).collect():
        assert r["n_zbytes"] == len(zlib.compress(r["text"].encode(), 6)), r["doc_id"]
    _emit(
        "zratio",
        n_docs=n,
        text_mb=round(total_bytes / 1e6, 1),
        secs=round(dt, 2),
        mb_per_sec=round(total_bytes / 1e6 / dt, 1),
        prose_min=agg["prose_min"],
        spam_max=agg["spam_max"],
    )


@probe
def probe_cdcchunk(spark, scale) -> None:
    """FastCDC gear chunking over 100 KB random payloads: every 4th
    (id % 4 == 1) an exact copy of its predecessor, every 8th (id % 8
    == 2) its base with a 5 KB prefix inserted. Dedup must beat the
    exact-duplicate floor by 1.3×: the shifted tails re-chunk
    identically (fixed blocks would dedup none of them)."""
    from timeseries_data_provider_spark.operators import cdc

    n = _size(scale, 6400, step=8)

    def make(i):
        base = i - (i % 4 == 1) - 2 * (i % 8 == 2)
        payload = np.random.RandomState(base).randint(0, 256, 100_000, dtype=np.uint8).tobytes()
        if i % 8 == 2:
            prefix = np.random.RandomState(10_000_000 + i).randint(0, 256, 5_000, dtype=np.uint8)
            payload = prefix.tobytes() + payload
        return payload

    media = _built_per_id(spark.range(n), make)
    total_bytes = media.agg(F.sum(F.length("payload"))).first()[0]
    t0 = time.perf_counter()
    chunks = cdc.cdc_chunks(media, min_size=2048, avg_size=8192, max_size=65536).localCheckpoint(
        eager=True)
    stats = cdc.chunk_dedup_stats(chunks).first()
    dt = _since(t0)
    assert stats["total_bytes"] == total_bytes
    assert stats["dup_bytes"] > (n // 4) * 100_000 * 1.3, stats
    _emit(
        "cdcchunk",
        n_payloads=n,
        payload_mb=round(total_bytes / 1e6, 1),
        n_chunks=int(stats["n_chunks"]),
        dedup_ratio=float(stats["dedup_ratio"]),
        secs=round(dt, 2),
        mb_per_sec=round(total_bytes / 1e6 / dt, 1),
    )


@probe
def probe_anchortext(spark, scale) -> None:
    """Anchor-text aggregation: 64 raw out-links per target from 1k
    hosts. The target count is a multiple of 4, so id % 4 is constant
    within a target: targets ≡ 0 mod 4 carry one shared label 64 times,
    the rest 64 unique labels."""
    from timeseries_data_provider_spark.operators import linkgraph

    n_targets = _size(scale, 100_000, step=4)
    n = 64 * n_targets
    tgt = (F.col("id") % n_targets).cast("string")
    links = spark.range(n).select(
        F.concat(F.lit("http://h"), (F.col("id") % 1000).cast("string"),
                 F.lit(".com/p"), F.col("id").cast("string")).alias("base_url"),
        F.concat(F.lit("http://t"), tgt, F.lit(".org/page")).alias("href"),
        F.when(F.col("id") % 4 == 0, F.concat(F.lit("Common Label "), tgt))
        .otherwise(F.concat(F.lit("unique "), F.col("id").cast("string"))).alias("anchor_text"),
    ).localCheckpoint(eager=True)
    t0 = time.perf_counter()
    prof = linkgraph.anchor_text_agg(links).localCheckpoint(eager=True)
    got_targets = prof.count()
    dt = round(_since(t0), 2)
    assert got_targets == n_targets, got_targets
    common_ok = ((F.col("top_text_n") == 64) & (F.col("n_texts") == 1)
                 & F.col("top_text").startswith("Common Label "))
    unique_ok = ((F.col("top_text_n") == 1) & (F.col("n_texts") == 64)
                 & F.col("top_text").startswith("unique "))
    agg = prof.agg(
        F.sum("n_refs").alias("refs"),
        F.sum(common_ok.cast("long")).alias("n_common"),
        F.sum(unique_ok.cast("long")).alias("n_unique"),
    ).first()
    assert int(agg["refs"]) == n
    assert int(agg["n_common"]) == n_targets // 4, agg
    assert int(agg["n_unique"]) == 3 * n_targets // 4, agg
    _emit("anchortext", n_links=n, n_targets=got_targets, secs=dt, links_per_sec=int(n / dt))


@probe
def probe_anchorsc(spark, scale) -> None:
    """Anchor profiles under the self-closing <a/> adversary: each page
    has a self-closing anchor to /x right before a labeled anchor to
    /page on the same target; /x edges carry no text and every label
    lands on /page only."""
    from timeseries_data_provider_spark.operators import htmltext, linkgraph

    n, n_targets = _size(scale, 200_000), _size(scale, 50_000)
    tgt = (F.col("id") % n_targets).cast("string")
    pages = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit('<p><a href="http://t'), tgt, F.lit('.org/x"/>filler text <a href="http://t'),
            tgt, F.lit('.org/page">Label '), tgt, F.lit("</a></p>"),
        ).alias("html"),
    ).localCheckpoint(eager=True)
    t0 = time.perf_counter()
    links = htmltext.html_links(pages).localCheckpoint(eager=True)
    dt_parse = round(_since(t0), 2)
    label = F.concat(F.lit("Label "), F.regexp_extract("href", r"t(\d+)\.org", 1))
    agg = links.agg(
        F.count(F.lit(1)).alias("edges"),
        F.sum((F.col("href").endswith("/x") & (F.col("anchor_text") != "")).cast("long")).alias("n_bad_x"),
        F.sum((F.col("href").endswith("/page") & (F.col("anchor_text") == label)).cast("long")).alias("n_page_ok"),
    ).first()
    assert int(agg["edges"]) == 2 * n, agg
    assert int(agg["n_bad_x"]) == 0, "self-closing <a/> stole a later anchor's text"
    assert int(agg["n_page_ok"]) == n, agg
    prof = linkgraph.anchor_text_agg(links.select(
        F.lit("http://src.com/").alias("base_url"), "href", "anchor_text"))
    bad_prof = prof.filter(F.col("url").endswith("/x") & F.col("top_text").startswith("Label")).count()
    assert bad_prof == 0, bad_prof
    _emit("anchorsc", n_pages=n, n_edges=2 * n, parse_secs=dt_parse,
          pages_per_sec=int(n / dt_parse))


@probe
def probe_bm25hot(spark, scale) -> None:
    """BM25 with a stop-word query term that every doc contains: the
    WindowGroupLimit partial top-k must bound the per-query exchange,
    and the top-k is exactly the 10 planted equal-length needle docs in
    tf order (the stop word's idf floors to 0 milli)."""
    from timeseries_data_provider_spark.operators import text

    n, k = _size(scale, 320_000), 10
    # doc i: 'the' + (1 + i % 5) doc-unique fillers; docs 0..9 carry
    # 'needle' with tf = 20 - i and i fillers, so their length is 21
    filler = F.concat(F.lit(" x"), F.col("id").cast("string"))
    needle = F.col("id") < k
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("the"),
            F.repeat(filler, F.when(needle, F.col("id").cast("int")).otherwise(
                (F.col("id") % 5).cast("int") + 1)),
            F.when(needle, F.repeat(F.lit(" needle"), 20 - F.col("id").cast("int"))).otherwise(F.lit("")),
        ).alias("text"),
    ).localCheckpoint(eager=True)
    out = text.bm25_topk(docs, ["the needle"], k=k, prune_dl=True)
    assert "WindowGroupLimit" in _executed_plan(out), (
        "partial top-k must bound the per-query exchange")
    t0 = time.perf_counter()
    rows = out.collect()
    dt = round(_since(t0), 2)
    got = sorted((r["rank"], r["doc_id"], r["n_terms_hit"]) for r in rows)
    assert got == [(r + 1, r, 2) for r in range(k)], got[:12]
    assert all(r["bm25_milli"] > 0 for r in rows)
    _emit("bm25hot", n_docs=n, k=k, secs=dt, docs_per_sec=int(n / dt), window_group_limit=True)


@probe
def probe_dsir(spark, scale) -> None:
    """DSIR importance resampling with a planted vocabulary shift (half
    the raw pool and all of the target carry domain tokens), hashed
    uni+bigram models over 8192 buckets: every domain doc outweighs
    every plain doc, a sample recomputes exactly on the driver, and the
    Gumbel top-k draw is reproducible and all-domain."""
    import hashlib

    from timeseries_data_provider_spark.operators import dsir

    n, n_target, k, dim = _size(scale, 320_000), _size(scale, 20_000), _size(scale, 1000), 8192
    kinds = ("dose trial cohort placebo endpoint ", "garden recipe travel football ")
    raw = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.when(F.col("id") % 2 == 0, F.lit(kinds[0])).otherwise(F.lit(kinds[1])),
                 F.lit("u"), F.col("id").cast("string")).alias("text"),
    ).localCheckpoint(eager=True)
    target = spark.range(n_target).select(
        (F.col("id") + 10_000_000).alias("doc_id"),
        F.concat(F.lit(kinds[0] + "t"), F.col("id").cast("string")).alias("text"),
    ).localCheckpoint(eager=True)
    t0 = time.perf_counter()
    lr = dsir.dsir_logratios(target, raw, dim=dim).localCheckpoint(eager=True)
    weighted = dsir.dsir_weights(raw, lr, dim=dim).localCheckpoint(eager=True)
    n_scored = weighted.count()
    dt = round(_since(t0), 2)
    assert n_scored == n
    cls = {
        r["is_dom"]: r
        for r in weighted.groupBy((F.col("doc_id") % 2 == 0).alias("is_dom")).agg(
            F.min("dsir_milli").alias("lo"), F.max("dsir_milli").alias("hi")).collect()
    }
    assert cls[True]["lo"] > cls[False]["hi"], cls
    lrmap = {r["bucket"]: r["lr_milli"] for r in lr.collect()}
    sample = weighted.filter(F.col("doc_id") % 320 == 0).collect()
    assert len(sample) == _every(n, 320)
    for r in sample:
        did = r["doc_id"]
        ws = (kinds[did % 2] + "u" + str(did)).split()
        grams = ws + [" ".join(ws[i: i + 2]) for i in range(len(ws) - 1)]
        want = sum(lrmap[int(hashlib.md5(g.encode()).hexdigest()[:12], 16) % dim] for g in grams)
        assert r["dsir_milli"] == want, did
    s1 = dsir.dsir_select(weighted, k=k).collect()
    s2 = dsir.dsir_select(weighted, k=k).collect()
    assert [r["doc_id"] for r in s1] == [r["doc_id"] for r in s2]
    assert [r["rank"] for r in s1] == list(range(1, k + 1))
    assert all(r["doc_id"] % 2 == 0 for r in s1), "the draw must be all-domain"
    _emit("dsir", n_raw=n, n_target=n_target, dim=dim, secs=dt, docs_per_sec=int(n / dt))


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(
        description="Scale-stress probes (BASELINE.md §C). Runs every "
        "probe when none is named."
    )
    ap.add_argument("probes", nargs="*", metavar="PROBE",
                    help="one of: " + " ".join(PROBES))
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiply every probe size (default 1: the §C sizes)")
    args = ap.parse_args(argv)
    unknown = [n for n in args.probes if n not in PROBES]
    if unknown:
        ap.error(f"unknown probe(s): {' '.join(unknown)}")
    if args.scale <= 0:
        ap.error("--scale must be positive")
    from timeseries_data_provider_spark.session import get_spark

    spark = get_spark("tdps-stress")
    try:
        run(spark, args.probes or list(PROBES), args.scale)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()

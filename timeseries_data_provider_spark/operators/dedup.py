"""[EXT] Deduplication operators: exact (hash group), n-gram Jaccard,
MinHash+LSH, SimHash.

Scale design:
- Exact dedup groups on sha256(text) — constant-width keys, one shuffle.
- Pairwise Jaccard runs as an inverted-index equi-join (explode
  shingles, join on the shingle, count per pair), never a theta/cross
  join: only pairs sharing ≥1 shingle materialize.
- MinHash+LSH is the 100 TB path: per-doc signature (one explode +
  grouped min), banding, candidate pairs only within equal band buckets
  (equi-join), then exact verification restricted to the candidates.
  With b bands of r rows the match probability is 1-(1-j^r)^b — b=8,
  r=2 keeps recall ≈1 for j ≥ 0.7 while discarding low-j pairs.
- SimHash gives a 64-bit per-doc sketch; near-dup candidates join on
  16-bit bands of the sketch and verify by popcount.

MinHash hashing is xxhash64 with fixed string seeds; SimHash derives
its 64 bits from md5 nibbles so the sketch is portable (any engine with
md5 — e.g. the DuckDB oracle — computes the identical sketch). Both are
deterministic across runs, partitionings, and cluster sizes.

Skew: the inverted-index self-joins fan out as sum(df^2) over shingle
document frequencies, so one boilerplate sentence shared by millions of
docs would dominate the join. ``max_df`` caps that: shingles with
df > max_df are dropped from CANDIDATE GENERATION only (verification
still scores the full shingle sets), so any pair sharing at least one
sub-cap shingle is still found — for near-dup thresholds this loses
nothing unless a pair's entire overlap is boilerplate. See
tests/test_dedup_ops.py::test_shingle_df_cap.

Physical-plan note (measured, see git history): building the shingle
*array* with higher-order functions (transform/array_distinct) and then
exploding invites CollapseProject to inline the array expression into
pushed-down filters — the text is then re-split per array element, a
>10x slowdown, and higher-order lambdas fall out of whole-stage codegen.
The explode-FIRST formulation below (Generate is a projection barrier,
shingle built per exploded index, distinct via aggregation) keeps every
expression evaluated once and stays in codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def shingles_raw(
    documents: DataFrame, n: int = 3, text_col: str = "text"
) -> DataFrame:
    """(doc_id, s): word n-gram shingles WITH in-document duplicates —
    the pre-shuffle form (no distinct, so no exchange at all). Callers
    that only need membership semantics join/filter on this and dedup
    *after* reducing the row count (see pipeline.ngram_contamination).

    Explode-first: split once, explode the shingle start indexes, build
    each shingle string from the kept words array. Docs with fewer than
    n words yield no rows (their shingle set is empty — they can never
    pair anyway).
    """
    w = F.col("__w")
    parts = [F.element_at(w, F.col("i") + k) for k in range(n)]
    return (
        documents.select("doc_id", F.split(F.col(text_col), " ").alias("__w"))
        .filter(F.size("__w") >= n)
        .select(
            "doc_id",
            "__w",
            F.explode(F.sequence(F.lit(1), F.size("__w") - (n - 1))).alias("i"),
        )
        .select("doc_id", F.concat_ws(" ", *parts).alias("s"))
    )


def shingles_exploded(
    documents: DataFrame, n: int = 3, text_col: str = "text"
) -> DataFrame:
    """(doc_id, s): DISTINCT word n-gram shingles, one row per shingle
    (distinct via group-by — partial map-side dedup, one shuffle)."""
    return shingles_raw(documents, n, text_col).distinct()


def shingle_counts(exploded: DataFrame) -> DataFrame:
    """(doc_id, cnt): distinct-shingle count per document."""
    return exploded.groupBy("doc_id").agg(F.count(F.lit(1)).alias("cnt"))


def shingles(documents: DataFrame, n: int = 2, text_col: str = "text") -> DataFrame:
    """doc_id + distinct shingle array (array form, for API/tests; the
    join operators use the exploded form — see module docstring)."""
    return shingles_exploded(documents, n, text_col).groupBy("doc_id").agg(
        F.collect_list("s").alias("sh")
    )


def exact_dedup_pick(documents: DataFrame) -> DataFrame:
    """Exact dedup via content hash: one row per distinct text with the
    kept (minimum) doc_id and the duplicate count. Grouping on the
    sha256 digest keeps shuffle keys constant-width regardless of doc
    size (SURVEY.md §2.1 [EXT])."""
    return (
        documents.select(F.sha2(F.col("text"), 256).alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n"))
    )


def _pairs_jaccard(
    common: DataFrame, counts: DataFrame, threshold: float
) -> DataFrame:
    """(doc_a, doc_b, common) + per-doc counts → thresholded Jaccard."""
    j = F.round(
        F.col("common").cast("double")
        / (F.col("cnt_a") + F.col("cnt_b") - F.col("common")),
        6,
    )
    return (
        common.join(
            counts.select(F.col("doc_id").alias("doc_a"), F.col("cnt").alias("cnt_a")),
            "doc_a",
        )
        .join(
            counts.select(F.col("doc_id").alias("doc_b"), F.col("cnt").alias("cnt_b")),
            "doc_b",
        )
        .select("doc_a", "doc_b", j.alias("j"))
        .filter(F.col("j") >= threshold)
    )


def _df_capped(ex: DataFrame, max_df: int | None) -> DataFrame:
    """Shingles restricted to document frequency <= max_df (pass-through
    when no cap). One extra hash-agg + semi-join, both on the shingle
    key — the standard hot-shingle guard for inverted-index self-joins
    (caps join fan-out at max_df^2 per shingle instead of df^2)."""
    if max_df is None:
        return ex
    keep = (
        ex.groupBy("s")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= max_df)
        .select("s")
    )
    return ex.join(keep, "s", "left_semi")


def ngram_jaccard_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.3,
    max_df: int | None = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via an inverted-index join.

    explode distinct shingles → equi-join on the shingle (only pairs
    sharing ≥1 shingle ever materialize — with a positive threshold
    that loses nothing) → count common per pair →
    ``j = common / (|A| + |B| - common)``. Every step is an equi-join /
    hash-agg: fully parallel, no per-pair array scans.

    ``max_df`` guards the known hot spot at scale — shingle-frequency
    skew (join fan-out is sum of df² over shingles): candidate pairs are
    generated only from shingles with df <= max_df, while the Jaccard
    itself is still computed over the FULL shingle sets, so results are
    unchanged for every pair that shares at least one sub-cap shingle.

    The cap IS the default (VERDICT r4 #2): the 64×-skew stress row
    (BASELINE.md §C, `tools/stress.py hotshingle`) measured the uncapped
    join 15× slower when a single boilerplate sentence is shared
    corpus-wide, with ZERO recall loss from capping at near-dup
    thresholds — a library caller at scale should not need to know
    that. ``max_df=None`` opts out (the declared oracle queries do,
    to stay bit-identical to the exact all-shingles oracle: a pair
    whose entire overlap is super-cap boilerplate is dropped by the
    capped form, which is the desired behavior at scale but not the
    oracle's).
    """
    # Materialize the exploded shingles once: the frame feeds BOTH sides
    # of the self-join plus the per-doc counts (3 consumers), and
    # ReuseExchange can't deduplicate them because the aliased
    # projections canonicalize differently. At cluster scale this is the
    # standard cut-point: shingle explode is the widest intermediate.
    ex = shingles_exploded(documents, n).localCheckpoint(eager=True)
    if max_df is None:
        # no cap: the inverted-index join IS the common-shingle count
        common = (
            ex.select(F.col("doc_id").alias("doc_a"), "s")
            .join(ex.select(F.col("doc_id").alias("doc_b"), "s"), "s")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("common"))
        )
    else:
        # capped candidate generation, then exact common-count over the
        # FULL shingle sets restricted to the candidates
        capped = _df_capped(ex, max_df)
        cand = (
            capped.select(F.col("doc_id").alias("doc_a"), "s")
            .join(capped.select(F.col("doc_id").alias("doc_b"), "s"), "s")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct()
        )
        common = (
            cand.join(ex.select(F.col("doc_id").alias("doc_a"), "s"), "doc_a")
            .join(ex.select(F.col("doc_id").alias("doc_b"), "s"), ["doc_b", "s"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("common"))
        )
    return _pairs_jaccard(common, shingle_counts(ex), threshold)


def minhash_signatures(
    documents: DataFrame,
    num_hashes: int = 16,
    n: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """Per-doc MinHash signature: sig_i = min over shingles of
    xxhash64(i || shingle). One explode + one groupBy (map-side partial
    min) — the shuffle carries num_hashes longs per doc. ``max_df``
    drops ultra-frequent shingles from the signature (they carry no
    discriminating information and concentrate band-bucket skew)."""
    ex = _df_capped(shingles_exploded(documents, n), max_df)
    # r15: each aggregate rendered as one SQL parse — the identical
    # min(xxhash64(concat(...))) expression, ~4 py4j round-trips per
    # hash column fewer at query construction
    aggs = [
        F.expr(f"min(xxhash64(concat('{i}:', s)))").alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return ex.groupBy("doc_id").agg(*aggs)


def banded_signatures(
    signatures: DataFrame, num_hashes: int = 16, bands: int = 8
) -> DataFrame:
    """Explode a MinHash signature table (doc_id, h0..h{n-1}) into LSH
    band rows (doc_id, band, bh) with bh = xxhash64 over the band's r =
    num_hashes/bands components. These rows ARE the persistent LSH
    index of a corpus: equal (band, bh) ⇒ candidate pair. Derived
    either inline (``minhash_lsh_pairs``) or from a stored signature
    table (``minhash_lsh_incremental`` — the corpus text itself is
    never needed again)."""
    r = num_hashes // bands
    # r15: the whole band array rendered as one SQL parse (same
    # struct/xxhash64 tree, a fraction of the py4j construction cost)
    band_structs = F.expr(
        "array("
        + ",".join(
            f"struct({bi} as band, xxhash64("
            + ",".join(f"h{bi * r + k}" for k in range(r))
            + ") as bh)"
            for bi in range(bands)
        )
        + ")"
    )
    return signatures.select(
        "doc_id", F.explode(band_structs).alias("b")
    ).select(
        "doc_id", F.col("b.band").alias("band"), F.col("b.bh").alias("bh")
    )


def _band_bucket_stats(banded: DataFrame) -> DataFrame:
    """Per-(band, bh) bucket population and representative (min
    doc_id) — ONE narrow hash aggregate over band rows, the price of
    admission for the hot-bucket cap below."""
    return banded.groupBy("band", "bh").agg(
        F.count(F.lit(1)).alias("__n"),
        F.min("doc_id").alias("__rep"),
    )


def _capped_self_candidates(
    banded: DataFrame, max_bucket: int
) -> DataFrame:
    """Band-bucket self-join candidates with a HOT-BUCKET CAP: a
    bucket of B docs fans out to B(B-1)/2 pairs, so one degenerate
    band value shared by a large population (many empty/near-empty
    docs whose capped shingle sets coincide — VERDICT r5 finding #2)
    turns the linear equi-join quadratic. Buckets with population
    <= ``max_bucket`` take the normal all-pairs join; HOT buckets are
    STAR-PAIRED instead — every member is paired with the bucket's
    min-doc_id representative (B-1 pairs, not B²/2).

    Recall contract: the star preserves CONNECTIVITY of each hot
    bucket, which is what the downstream near-dup clustering consumes
    — in the dominant degenerate case (a pile of identical docs, hot
    in EVERY band) all members verify against the representative at
    est/J = 1 and the cluster survives intact. What it can lose is an
    individual pair (x, y) in a MIXED hot bucket where neither
    verifies against the rep — the standard cap trade-off, same
    family as ``max_df`` (which bounds shingle df; this bounds the
    band-bucket population that max_df cannot see). ``None`` disables
    the cap (the oracle-exact declared form).
    """
    stats = _band_bucket_stats(banded)
    # Equi-join on the bucket key the candidate join shuffles on
    # anyway — co-partitioned, no extra exchange of the wide side.
    tagged = banded.join(stats, ["band", "bh"])
    cold = tagged.filter(F.col("__n") <= max_bucket).select(
        "doc_id", "band", "bh"
    )
    cold_pairs = (
        cold.select(F.col("doc_id").alias("doc_a"), "band", "bh")
        .join(
            cold.select(F.col("doc_id").alias("doc_b"), "band", "bh"),
            ["band", "bh"],
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    star_pairs = (
        tagged.filter(
            (F.col("__n") > max_bucket)
            & (F.col("doc_id") != F.col("__rep"))
        )
        # __rep = min(doc_id) over the bucket, so doc_a < doc_b holds
        # by construction — same orientation as the all-pairs join.
        .select(
            F.col("__rep").alias("doc_a"), F.col("doc_id").alias("doc_b")
        )
    )
    return cold_pairs.unionByName(star_pairs).distinct()


def minhash_lsh_incremental(
    new_docs: DataFrame,
    signatures: DataFrame,
    num_hashes: int = 16,
    bands: int = 8,
    n: int = 3,
    min_est: float = 0.3,
    max_df: int | None = None,
    max_bucket: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Incremental near-dup detection: dedup a NEW batch against an
    already-deduped corpus using only the corpus's persisted MinHash
    ``signatures`` table (doc_id, h0..h{num_hashes-1}, from
    ``minhash_signatures``) — the shape for a growing 100 TB corpus
    where re-shingling (or even re-reading) petabytes of settled text
    per arriving batch is a non-starter. Corpus-side cost is one scan
    of the signature table (num_hashes longs/doc, ~1000× smaller than
    text); batch-side cost is the normal shingle+sign pass over the
    new docs only.

    Candidates = band-bucket equi-joins (new×corpus and new×new,
    never corpus×corpus — settled pairs were handled when they were
    new). Because the old text may be archived, verification uses the
    standard unbiased MinHash estimate — the fraction of agreeing
    signature components — instead of exact Jaccard: identical docs
    agree on every component (est = 1.0) regardless of permutation,
    and E[est] = J. Doc-id spaces must be disjoint (new ids not in the
    corpus); collisions would self-pair.

    ``max_df`` (and ``num_hashes``/``n``) are part of the INDEX
    CONTRACT: the value used to BUILD the signature table must be
    passed here too — signatures computed over differently-capped
    shingle sets disagree on components wherever a capped shingle was
    the argmin, silently deflating est_jaccard for true duplicates
    (review finding: the default used to be 1000 while
    minhash_signatures defaults to None — a default-usage index and
    query were built over different shingle sets). The default now
    matches minhash_signatures; the column-count check below catches
    num_hashes drift, but max_df/n drift is undetectable from the
    table and is the caller's responsibility (store them next to the
    index, as streaming/corpus_ingest.py does by construction —
    one configured stream touches both sides).

    ``max_bucket`` bounds the combined per-(band, bh) population
    across BOTH sides — without it one degenerate band value shared by
    a large corpus population and a large batch population makes the
    new×corpus band join fan out quadratically in that bucket, a hole
    ``max_df`` cannot see (it bounds shingle df, not band-bucket
    size). Hot buckets star-pair each new member with one corpus-side
    representative (batch-side min if the bucket is all-new),
    preserving bucket connectivity. OFF by default (``None``) — like
    ``max_df``, the cap changes which pairs are emitted (mixed hot
    buckets lose pairs whose members only verify against each other,
    not the representative), so it is opt-in at the library tier;
    the streaming ingest path (``streaming/corpus_ingest.py``), where
    a quadratic blow-up is an operational outage, turns it on at 256
    (review finding — the default was briefly 256 here too, silently
    changing existing callers' results).

    Corpus-side I/O is two scans of the signature table (banding, and
    the per-candidate agreement join) — still ~1000× less than one
    read of the settled text. Returns (pairs, new_signatures): pairs =
    (doc_a, doc_b, est_jaccard, source) with source ∈
    {'corpus','batch'} and doc_b always the new doc; new_signatures
    should be APPENDED to the signature table so the next batch sees
    this one as corpus — the index maintenance step. Extends SURVEY §2's MinHash family (``minhash_lsh_pairs``)
    with the incremental-maintenance form."""
    stored = [c for c in signatures.columns if c.startswith("h")]
    want = [f"h{i}" for i in range(num_hashes)]
    if sorted(stored) != sorted(want):
        raise ValueError(
            f"minhash_lsh_incremental: signature table carries "
            f"{sorted(stored)} but num_hashes={num_hashes} expects "
            f"{want} — the stored index and the query configuration "
            "must agree (bands and the agreement estimator both read "
            "every component)"
        )
    # lazy: materializes on the first action and is then reused by
    # all three consumers (banding, the agreement join, the returned
    # maintenance frame) — eager=True ran the batch shingle+sign job
    # at mere construction (review finding).
    new_sig = minhash_signatures(
        new_docs, num_hashes, n, max_df
    ).localCheckpoint(eager=False)
    new_banded = banded_signatures(new_sig, num_hashes, bands)
    old_banded = banded_signatures(signatures, num_hashes, bands)

    if max_bucket is None:
        vs_corpus = (
            old_banded.select(F.col("doc_id").alias("doc_a"), "band", "bh")
            .join(
                new_banded.select(
                    F.col("doc_id").alias("doc_b"), "band", "bh"
                ),
                ["band", "bh"],
            )
            .select("doc_a", "doc_b", F.lit("corpus").alias("source"))
        )
        vs_batch = (
            new_banded.select(F.col("doc_id").alias("doc_a"), "band", "bh")
            .join(
                new_banded.select(
                    F.col("doc_id").alias("doc_b"), "band", "bh"
                ),
                ["band", "bh"],
            )
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b", F.lit("batch").alias("source"))
        )
        cand = vs_corpus.unionByName(vs_batch).distinct()
    else:
        # Hot-bucket cap (VERDICT r5 #2): the bucket population is
        # counted over BOTH sides — the quadratic blow-up is the
        # new×corpus product, which neither side's count alone sees.
        # Cold buckets take the normal joins; hot buckets star-pair
        # each NEW member with ONE representative (corpus-side min if
        # the bucket has corpus docs, else the batch-side min), which
        # preserves bucket connectivity — the degenerate case is a
        # pile of identical docs, where every member verifies against
        # the rep at est 1.0 — while keeping fan-out linear. The
        # corpus×corpus invariant is untouched: corpus members of hot
        # buckets never pair with each other.
        both = (
            old_banded.select(
                "doc_id", "band", "bh", F.lit(False).alias("__new")
            ).unionByName(
                new_banded.select(
                    "doc_id", "band", "bh", F.lit(True).alias("__new")
                )
            )
        )
        stats = both.groupBy("band", "bh").agg(
            F.count(F.lit(1)).alias("__n"),
            F.min(F.when(~F.col("__new"), F.col("doc_id"))).alias(
                "__corp_rep"
            ),
            F.min(F.when(F.col("__new"), F.col("doc_id"))).alias(
                "__new_rep"
            ),
        )
        tagged = both.join(stats, ["band", "bh"])
        cold = tagged.filter(F.col("__n") <= max_bucket)
        cold_old = cold.filter(~F.col("__new")).select(
            F.col("doc_id").alias("doc_a"), "band", "bh"
        )
        cold_new = cold.filter(F.col("__new")).select(
            F.col("doc_id").alias("doc_b"), "band", "bh"
        )
        vs_corpus = cold_old.join(cold_new, ["band", "bh"]).select(
            "doc_a", "doc_b", F.lit("corpus").alias("source")
        )
        vs_batch = (
            cold_new.select(F.col("doc_b").alias("doc_a"), "band", "bh")
            .join(cold_new, ["band", "bh"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b", F.lit("batch").alias("source"))
        )
        rep = F.coalesce(F.col("__corp_rep"), F.col("__new_rep"))
        star = (
            tagged.filter(
                (F.col("__n") > max_bucket)
                & F.col("__new")
                & (F.col("doc_id") != rep)
            )
            .select(
                rep.alias("doc_a"),
                F.col("doc_id").alias("doc_b"),
                F.when(
                    F.col("__corp_rep").isNotNull(), F.lit("corpus")
                )
                .otherwise(F.lit("batch"))
                .alias("source"),
            )
        )
        cand = (
            vs_corpus.unionByName(vs_batch).unionByName(star).distinct()
        )

    all_sig = signatures.unionByName(new_sig)
    sig_a = all_sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(num_hashes)],
    )
    sig_b = new_sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(num_hashes)],
    )
    agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(num_hashes)
    )
    pairs = (
        cand.join(sig_a, "doc_a")
        .join(sig_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (agree.cast("double") / F.lit(float(num_hashes))).alias(
                "est_jaccard"
            ),
            "source",
        )
        .filter(F.col("est_jaccard") >= min_est)
    )
    return pairs, new_sig


def minhash_lsh_pairs(
    documents: DataFrame,
    num_hashes: int = 16,
    bands: int = 8,
    n: int = 3,
    threshold: float = 0.3,
    max_df: int | None = None,
    signatures: DataFrame | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """MinHash + LSH near-duplicate pairs, exact-verified.

    banding: signature split into ``bands`` groups of r = num_hashes /
    bands; candidates = doc pairs sharing ANY band hash (equi-join on
    (band, band_hash) — linear, no cross product). Verification then
    computes exact Jaccard ONLY for the candidates, by restricting the
    inverted-index join to candidate pairs — so the expensive step is
    proportional to |candidates|, not |docs|². No false positives;
    false negatives bounded by the banding curve. ``max_df`` excludes
    hot shingles from the signatures only — verification still scores
    full shingle sets (module docstring, skew note).

    ``signatures``: optionally pass a precomputed
    ``minhash_signatures(documents, ...)`` frame (it must describe the
    SAME documents/num_hashes/max_df) so a caller running several
    signature consumers — e.g. the batch form next to
    ``minhash_lsh_incremental`` — shingles the corpus once, not per
    consumer.

    ``max_bucket`` bounds the per-(band, bh) bucket population the
    candidate self-join may expand quadratically (hot buckets are
    star-paired instead — ``_capped_self_candidates`` documents the
    recall contract). OFF by default like ``max_df``: the cap changes
    which pairs are emitted, so it is opt-in at the library tier;
    operational paths that cannot tolerate a quadratic bucket (the
    streaming ingest loop) turn it on explicitly (review finding).
    """
    sig = (
        signatures
        if signatures is not None
        else minhash_signatures(documents, num_hashes, n, max_df)
    )
    # Both sides of the candidate self-join read the banded signatures;
    # materialize once so the MinHash aggregation runs a single time.
    banded = banded_signatures(sig, num_hashes, bands).localCheckpoint(
        eager=True
    )

    if max_bucket is None:
        la = banded.select(F.col("doc_id").alias("doc_a"), "band", "bh")
        lb = banded.select(F.col("doc_id").alias("doc_b"), "band", "bh")
        cand = (
            la.join(lb, ["band", "bh"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct()
        )
    else:
        # Opt-in cap on per-(band, bh) bucket population (star-pairing
        # above ``max_bucket`` — see _capped_self_candidates for the
        # recall contract); the default None stays bit-identical to
        # the exact all-pairs oracle, mirroring the max_df design.
        cand = _capped_self_candidates(banded, max_bucket)

    ex = shingles_exploded(documents, n).localCheckpoint(eager=True)
    common = (
        cand.join(ex.select(F.col("doc_id").alias("doc_a"), "s"), "doc_a")
        .join(
            ex.select(F.col("doc_id").alias("doc_b"), "s"),
            ["doc_b", "s"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return _pairs_jaccard(common, shingle_counts(ex), threshold)


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph —
    ``(node, cluster_id)`` with cluster_id = min node id in the
    component. The transitive-closure step of dedup: A~B and B~C must
    collapse into one keep-group even when A~C was never directly
    measured.

    Iterative min-label propagation: every node repeatedly adopts the
    minimum label among itself and its neighbors until a fixpoint.
    Each iteration is one distributed join + aggregate; convergence
    takes O(component diameter) rounds (near-dup clusters are
    shallow). Lineage is cut per round with localCheckpoint so plans
    don't grow unboundedly — the standard Spark pattern for iterative
    algorithms outside GraphX/Pregel.

    Raises ``RuntimeError`` if the iteration cap is hit before the
    fixpoint (a chain-shaped graph with diameter > max_iterations):
    returning the unconverged labels silently would hand the caller
    WRONG cluster ids (ADVICE r1). The cap is a safety valve against
    pathological graphs, not an approximation knob.
    """
    # Materialize the edge list ONCE before iterating: `edges` is joined
    # every round, and without the checkpoint each round re-executes the
    # whole upstream pair-generation pipeline (at sf0.1 that was ~3.5 s
    # of Jaccard work × rounds — the dominant cost, measured).
    edges = (
        pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(
            pairs.select(F.col(dst).alias("a"), F.col(src).alias("b"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    changed = -1
    for _ in range(max_iterations):
        neigh = (
            edges.join(labels, edges.a == labels.node)
            .groupBy(F.col("b").alias("node2"))
            .agg(F.min("label").alias("nlabel"))
        )
        # Carry the old label through the update so convergence is a
        # filter+count on the checkpointed frame — no extra join per
        # round against the previous labels.
        new_labels = (
            labels.join(neigh, labels.node == neigh.node2, "left")
            .select(
                "node",
                F.col("label").alias("old_label"),
                F.least(
                    F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.filter(F.col("label") != F.col("old_label")).count()
        )
        labels = new_labels.select("node", "label")
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge within "
            f"{max_iterations} iterations ({changed} labels still "
            f"changing) — raise max_iterations for graphs with larger "
            f"diameter"
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def connected_components_star(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iterations: int = 30,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al. 2014, "Connected Components in MapReduce and
    Beyond") — same output contract as ``connected_components``
    ((node, cluster_id), cluster_id = min node id in the component)
    but O(log² n) rounds instead of O(diameter): min-label propagation
    moves a label one hop per round, so an adversarial chain of
    diameter d needs d rounds, while star operations re-hang whole
    subtrees under the current minimum each round (VERDICT r4 #5 — a
    diameter-50 chain converges in 7 rounds here vs 50 there, pinned
    in tests/test_dedup_ops.py).

    Edges are kept in (hi, lo) canonical form. Per round:

    - large-star: for every node u (both orientations), attach each
      STRICTLY LARGER neighbor v to m = min(N(u) ∪ {u}) — one
      symmetric explode, one min-aggregate, one equi-join.
    - small-star: for every node u, attach its smaller-or-equal
      neighbors (and u itself) to m = min of them — already in (hi,
      lo) form, one min-aggregate + one equi-join.

    Fixpoint when the edge set is unchanged — both rounds' sets are
    distinct, so equality is one cardinality compare (the previous
    round's count is carried over, not recomputed) plus ONE anti-join
    emptiness probe (new ⊆ old ∧ |new| = |old| ⇔ equal); at fixpoint
    the edges ARE the star forest (v → component-min), so labels read
    off directly.
    Like ``connected_components``, raises instead of returning wrong
    labels if the cap is hit, and every round is localCheckpoint-ed so
    plans don't grow."""
    a, b = F.col(src).cast("long"), F.col(dst).cast("long")
    edges = (
        pairs.select(
            F.greatest(a, b).alias("hi"), F.least(a, b).alias("lo")
        )
        .filter(F.col("hi") != F.col("lo"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_old = edges.count()
    converged = n_old == 0
    for _ in range(max_iterations):
        if converged:
            break
        # large-star
        sym = edges.select(
            F.col("hi").alias("u"), F.col("lo").alias("v")
        ).union(edges.select(F.col("lo").alias("u"), F.col("hi").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least(F.col("mn"), F.col("u")).alias("m"))
        )
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
            .distinct()
        )
        # small-star
        minlo = large.groupBy("hi").agg(F.min("lo").alias("m"))
        new_edges = (
            large.join(minlo, "hi")
            .filter(F.col("lo") != F.col("m"))
            .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
            .union(minlo.select("hi", F.col("m").alias("lo")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        n_new = new_edges.count()
        converged = (
            n_new == n_old and new_edges.exceptAll(edges).isEmpty()
        )
        edges, n_old = new_edges, n_new
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge within "
            f"{max_iterations} rounds — raise max_iterations"
        )
    # fixpoint edges are the star forest: hi → component min. Roots
    # and self-pair singletons label themselves via the node roll-up.
    star = edges.select(
        F.col("hi").alias("node"), F.col("lo").alias("label")
    )
    nodes = (
        pairs.select(a.alias("node"))
        .union(pairs.select(b.alias("node")))
        .distinct()
    )
    return (
        nodes.join(star, "node", "left")
        .select(
            F.col("node").alias("doc_id"),
            F.coalesce(F.col("label"), F.col("node")).alias("cluster_id"),
        )
    )


def neardup_clusters(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.3,
    max_df: int | None = 1000,
    algorithm: str = "min_label",
) -> DataFrame:
    """End-to-end near-dup clustering: exact n-gram Jaccard pairs →
    connected components → (doc_id, cluster_id). The downstream keep
    rule is then 'keep cluster_id' (the minimum doc id per cluster).
    ``max_df`` defaults to the hot-shingle candidate cap (see
    ``ngram_jaccard_pairs`` — pass ``None`` for the oracle-exact
    uncapped form).

    ``algorithm``: both closures produce identical labels; they differ
    only in round structure. ``min_label`` (default) costs one
    join+agg per round and O(diameter) rounds — the right plan for
    near-dup graphs, whose components are DENSE by construction
    (mutually-similar docs ⇒ diameter ~2-3; measured at sf0.1 it is
    ~1.6× faster end-to-end than star). ``star`` re-hangs whole
    subtrees per round (O(log²) rounds independent of diameter) at
    ~2× the per-round cost — choose it when the pair graph's shape is
    unknown or adversarially chain-like (e.g. threshold low enough
    that A~B~C chains of barely-similar docs stretch components)."""
    pairs = ngram_jaccard_pairs(documents, n, threshold, max_df=max_df)
    if algorithm == "star":
        return connected_components_star(pairs)
    if algorithm == "min_label":
        return connected_components(pairs)
    raise ValueError(
        f"neardup_clusters: unknown algorithm {algorithm!r} "
        "(expected 'min_label' or 'star')"
    )


def simhash(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit SimHash sketch per document, as four 16-bit quarters
    (q0..q3 — q0 = bits 0-15 from md5 hex chars 1-4).

    bit_j(doc) = sign of sum over words of (2*bit_j(md5(word)) - 1),
    where bit_j of a word is bit (j % 4) (LSB-first) of the nibble at
    hex position (j // 4) of md5(word). md5 nibbles instead of an
    engine-native 64-bit hash keep the sketch PORTABLE: any engine with
    md5 (the DuckDB oracle included) derives bit-identical sketches, so
    the full pipeline is hash-verifiable (VERDICT r1 item 4).
    Implemented as explode + one groupBy with 64 conditional-sum
    aggregates (all JVM-side). Hamming-close sketches ⇒ similar bags of
    words. The quarter form is what Hamming blocking joins on;
    ``hamming = sum of bit_count(qa XOR qb)``.
    """
    # r15: one shuffle-free Arrow pass replaces the 200k-row word
    # explode + 64-conditional-sum groupBy (the sketch is grouped by
    # the row itself — guide §2.4). Parity is exact by construction:
    # hashlib md5 emits the same hex as Spark's md5; Python
    # str.split(" ") matches F.split(col, " ")'s limit=-1 semantics
    # (trailing/doubled-space empties kept, "" -> [""]); the nibble
    # packing Σ int(hex[p], 16) << 4p reproduces bit j = bit (j % 4)
    # of hex position (j // 4); and the sign gate stays 2·ones - n
    # > 0. Pinned against the aggregate form in tests/test_dedup_ops.
    from timeseries_data_provider_spark.tables import widen_for_python

    def sketch(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        shifts = np.arange(64, dtype=np.uint64)
        word_cache: dict[str, int] = {}

        def word_pattern(w: str) -> int:
            pat = word_cache.get(w)
            if pat is None:
                h = hashlib.md5(w.encode("utf-8")).hexdigest()
                pat = 0
                for p in range(16):
                    pat |= int(h[p], 16) << (4 * p)
                word_cache[w] = pat
            return pat

        for pdf in batches:
            ids, q0, q1, q2, q3 = [], [], [], [], []
            for rid, t in zip(pdf["doc_id"], pdf[text_col]):
                if t is None:
                    # F.split(NULL) explodes to no rows: the doc is
                    # absent from the aggregate form's output
                    continue
                words = t.split(" ")
                pats = np.array(
                    [word_pattern(w) for w in words], np.uint64
                )
                ones = (
                    (pats[:, None] >> shifts) & np.uint64(1)
                ).sum(axis=0, dtype=np.int64)
                bits = (2 * ones - len(words)) > 0
                sk = 0
                for j in np.nonzero(bits)[0]:
                    sk |= 1 << int(j)
                ids.append(int(rid))
                q0.append(sk & 0xFFFF)
                q1.append((sk >> 16) & 0xFFFF)
                q2.append((sk >> 32) & 0xFFFF)
                q3.append((sk >> 48) & 0xFFFF)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "q0": pd.Series(q0, dtype="int64"),
                    "q1": pd.Series(q1, dtype="int64"),
                    "q2": pd.Series(q2, dtype="int64"),
                    "q3": pd.Series(q3, dtype="int64"),
                }
            )

    return widen_for_python(
        documents.select("doc_id", text_col)
    ).mapInPandas(
        sketch, "doc_id long, q0 long, q1 long, q2 long, q3 long"
    )


def simhash_hamming_pairs(
    documents: DataFrame, max_distance: int = 8
) -> DataFrame:
    """Near-dup candidate pairs by SimHash Hamming distance ≤ k.

    Candidate generation blocks on the four 16-bit quarters of the
    sketch (two sketches within distance ≤ 3 must agree on at least one
    quarter; for larger k this is a recall-bounded heuristic) —
    equi-join per quarter, then exact popcount verification.
    """
    # Materialize the sketch once — both sides of the blocked self-join
    # consume it, and the 64-aggregate sketch is the expensive half.
    sk = simhash(documents).localCheckpoint(eager=True)
    quarters = F.array(
        *[
            F.struct(F.lit(q).alias("q"), F.col(f"q{q}").alias("qh"))
            for q in range(4)
        ]
    )
    blocked = sk.select(
        "doc_id", "q0", "q1", "q2", "q3", F.explode(quarters).alias("b")
    ).select(
        "doc_id", "q0", "q1", "q2", "q3",
        F.col("b.q").alias("q"), F.col("b.qh").alias("qh"),
    )
    a = blocked.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"q{i}").alias(f"qa{i}") for i in range(4)],
        "q", "qh",
    )
    b = blocked.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"q{i}").alias(f"qb{i}") for i in range(4)],
        "q", "qh",
    )
    cand = (
        a.join(b, ["q", "qh"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b",
            *[F.col(f"qa{i}") for i in range(4)],
            *[F.col(f"qb{i}") for i in range(4)],
        )
        .distinct()
    )
    dist = sum(
        F.bit_count(F.col(f"qa{i}").bitwiseXOR(F.col(f"qb{i}")))
        for i in range(4)
    ).cast("long")
    return cand.select("doc_a", "doc_b", dist.alias("hamming")).filter(
        F.col("hamming") <= max_distance
    )


# ---------------------------------------------------------------------------
# Cross-document line/paragraph dedup (RefinedWeb / Dolma-style
# boilerplate removal)


def line_occurrences(
    documents: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, pos, line): one row per newline-separated line of each
    document, with its 0-based position. Pure per-row posexplode — no
    shuffle; positions let the reassembly step restore original order.
    Lines split on ``\\r?\\n`` (same rule as text._line_signal_cols)
    so CRLF corpora dedup identically to LF ones; reassembly joins
    with ``\\n``, normalizing line endings.
    """
    return documents.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), "\\r?\\n")).alias(
            "pos", "line"
        ),
    )


def line_df(occurrences: DataFrame) -> DataFrame:
    """(line, df): corpus-wide DOCUMENT frequency of each distinct line
    value. Two-level aggregate on the line value itself (distinct
    (doc,line) first, then count) — both stages get map-side partial
    aggregation, and the shuffle key is the line string (bounded by
    line length, not document size)."""
    return (
        occurrences.select("doc_id", "line")
        .distinct()
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("df"))
    )


def line_dedup(
    documents: DataFrame,
    min_df: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document boilerplate-line removal (the RefinedWeb/Dolma
    pattern): drop every line that appears in >= ``min_df`` distinct
    documents, keep the rest in original order, and return per-document
    (doc_id, n_lines, n_kept, clean_text).

    This is the line-level counterpart of exact_dedup_pick: instead of
    dropping whole duplicate documents, it strips the repeated
    NAV/footer/cookie-banner lines that web corpora share across
    millions of pages while preserving each page's unique content.

    Scale shape (100 TB): one hash-agg shuffle keyed by the line value
    to compute document frequency, one equi-join of occurrences
    against the KEPT-line set, one groupBy(doc_id) reassembly. The
    join's fan-out is exactly 1 per occurrence row: hot boilerplate
    lines are excluded from the kept set BEFORE the join, so the one
    line shared by a billion pages never amplifies anything — the
    skew-prone rows are precisely the dropped ones. Reassembly sorts
    the kept (pos, line) structs per document with array_sort (no
    per-group sort shuffle beyond the groupBy itself). ``n_lines`` is
    a per-row ``size(split(...))`` map on the source table — NOT a
    second explode+aggregate over the occurrences (review finding:
    the earlier form re-exploded 32M rows just to count them).

    A document whose every line is boilerplate still yields a row
    (n_kept = 0, clean_text = '') via the left join from the document
    id set.
    """
    occ = line_occurrences(documents, text_col, id_col)
    kept_lines = line_df(occ).filter(F.col("df") < min_df).select("line")
    kept = occ.join(kept_lines, "line")
    assembled = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("pos", "line"))
                ),
                lambda s: s["line"],
            ),
        ).alias("clean_text"),
    )
    totals = documents.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.split(F.col(text_col), "\\r?\\n"))
        .cast("long")
        .alias("n_lines"),
    )
    return (
        totals.join(assembled, "doc_id", "left")
        .select(
            "doc_id",
            "n_lines",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def drop_near_dups(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.3,
    max_df: int | None = 1000,
    algorithm: str = "min_label",
    labels: DataFrame | None = None,
) -> DataFrame:
    """End-to-end near-dup REMOVAL — the step after detection: cluster
    near-duplicates (``neardup_clusters``) and keep exactly one
    representative per cluster (the minimum doc id, i.e. the cluster
    label itself) plus every unclustered document. Returns the
    surviving rows of ``documents`` with their original columns.

    This closes the detect → decide → drop loop as one declarative
    plan: callers who only want the survivor set never touch pair
    lists or labels. Keep rule: a clustered doc survives iff
    ``doc_id == cluster_id`` (connected_components labels every member
    with the cluster MINIMUM, so the representative is self-labeled —
    no extra per-cluster aggregate needed); docs in no pair never
    enter the label table and survive via the left join's NULL side.

    Scale shape: the cost is the detection + closure (see
    neardup_clusters); the final step adds ONE left join keyed by
    doc_id and a null-or-equal filter. ``labels``: optionally pass a
    precomputed ``neardup_clusters`` frame (it must describe the SAME
    documents/parameters) so a caller consuming both the clusters and
    the survivor set — e.g. the declared q49 composition — runs the
    detection once, not per consumer (the same sharing contract as
    minhash_lsh_pairs' ``signatures``).
    """
    if labels is None:
        labels = neardup_clusters(
            documents, n=n, threshold=threshold, max_df=max_df,
            algorithm=algorithm,
        )
    return (
        documents.join(labels, "doc_id", "left")
        .filter(
            F.col("cluster_id").isNull()
            | (F.col("cluster_id") == F.col("doc_id"))
        )
        .drop("cluster_id")
    )


def substring_windows(
    documents: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    hashed: bool = False,
) -> DataFrame:
    """(doc_id, pos, w): every k-token window of every document with
    its 1-based start position — the positional form of
    ``shingles_raw`` (which drops positions because set semantics
    don't need them; span detection does). Same single-space split as
    the other shingle operators, so window strings are
    oracle-portable. Docs with fewer than k tokens yield no rows.

    ``hashed=True`` replaces the window string with ``xxhash64`` —
    the 100 TB shuffle-bytes lever (constant 8-byte keys instead of
    k-word strings) at the cost of engine-portability and a
    2^-64-per-pair collision false-positive risk; the scored form
    stays exact strings."""
    w = F.col("__w")
    parts = [F.element_at(w, F.col("pos") + j) for j in range(k)]
    win = F.concat_ws(" ", *parts)
    return (
        documents.select(
            F.col(id_col).alias("doc_id"),
            F.split(F.col(text_col), " ").alias("__w"),
        )
        .filter(F.size("__w") >= k)
        .select(
            "doc_id",
            "__w",
            F.explode(
                F.sequence(F.lit(1), F.size("__w") - (k - 1))
            ).alias("pos"),
        )
        .select(
            "doc_id",
            F.col("pos").cast("long").alias("pos"),
            (F.xxhash64(win) if hashed else win).alias("w"),
        )
    )


def substring_spans(
    documents: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    cross_doc_only: bool = True,
    min_count: int = 2,
    hashed: bool = False,
    min_span_tokens: int = 0,
) -> DataFrame:
    """[EXT] Substring-level exact dedup detection — the public
    ExactSubstr design (suffix-group family: Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better")
    re-expressed in the windowed-hash group-by vocabulary:
    ``line_dedup`` catches repeated LINES, but templated PARAGRAPHS
    that differ in surrounding text survive it — this finds, per
    document, every maximal token span covered by k-token windows
    that occur verbatim elsewhere.

    Pipeline (all JVM, no Python):
    1. explode every k-token window with its position
       (``substring_windows``);
    2. one hash-agg on the window value: windows in >= 2 distinct
       documents (``cross_doc_only``; else >= ``min_count`` total
       occurrences, which also catches within-doc repetition);
    3. equi-join occurrences against the duplicated-window set —
       fan-out exactly 1 per occurrence, same shape as line_dedup's
       kept-join;
    4. gaps-and-islands per document: window intervals
       [pos, pos+k-1] sorted by pos merge while the next start is
       <= previous start + k (overlap OR adjacency — COVERAGE
       semantics: a span is a maximal contiguous run of tokens every
       one of which lies in some duplicated window).

    Returns (doc_id, span_id, start_tok, end_tok, n_tokens,
    n_windows), positions 1-based inclusive. span_id is 1..n per doc
    in position order.

    Honest over-approximation (inherent to windowed methods, noted in
    the paper's suffix-array comparison): consecutive duplicated
    windows may match DIFFERENT partner documents, so a span is
    "every token here is part of SOME shared k-gram", not "this whole
    span occurs verbatim in one partner".

    Scale shape (100 TB): the window agg is the big shuffle — keys
    are k-word strings (or 8-byte hashes with ``hashed=True``), with
    map-side partial aggregation; hot boilerplate windows reduce to
    one group row each and the dup-set join fan-out stays 1; the
    islands pass is one per-doc window sort, Spark's standard
    spillable window.

    ``min_span_tokens``: drop spans shorter than this (and renumber
    span_id) — the ExactSubstr paper removes only substrings of >= 50
    tokens, so short incidental shared k-grams (names, dates) don't
    shred documents; 0 keeps every span."""
    wins = substring_windows(documents, k, text_col, id_col, hashed)
    if cross_doc_only:
        dup = (
            wins.select("w", "doc_id")
            .distinct()
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") >= 2)
            .select("w")
        )
    else:
        dup = (
            wins.groupBy("w")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") >= min_count)
            .select("w")
        )
    marked = wins.join(dup, "w").select("doc_id", "pos")
    return _coverage_spans(marked, k, min_span_tokens)


def substring_span_partners(
    documents: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_docs_per_window: int | None = None,
    min_span_tokens: int = 0,
    hashed: bool = False,
) -> DataFrame:
    """[EXT] Partner-attributed substring dedup evidence:
    (doc_id, partner_id, span_id, start_tok, end_tok, n_tokens,
    n_windows) — for every ordered document pair that shares at least
    one verbatim k-token window, the maximal token spans of ``doc_id``
    covered by windows that ALSO occur in ``partner_id``. The audit
    view a dedup pass at scale wants next to ``substring_spans``:
    not just "these tokens are duplicated somewhere" but WITH WHOM —
    and it makes the plain operator's documented over-approximation
    measurable: a ``substring_spans`` span whose consecutive windows
    match DIFFERENT partners is longer than every per-partner span at
    the same position (pinned in tests).

    Semantics: cross-document only (a window duplicated solely within
    one doc attributes nothing — ``substring_spans``'s
    cross_doc_only=True view); spans are positions in ``doc_id``'s
    token stream, so (a, b) and (b, a) rows are NOT mirror-equal.
    With no cap, every position covered by a per-partner span is
    covered by a ``substring_spans`` span and vice versa (same
    dup-window set; union property pinned in tests).

    Pipeline (all JVM): the ``substring_windows`` explode feeds (1)
    the distinct (w, doc) presence set, aggregated once per window
    for the >= 2-distinct-docs dup filter, and (2) positioned
    occurrences; occurrences of attributable windows equi-join the
    presence set on ``w`` (doc != partner), then the shared
    gaps-and-islands tail merges per (doc, partner).

    Scale shape (100 TB): the join fan-out per window is
    occurrences x distinct-docs — quadratic on boilerplate windows
    shared by thousands of documents, exactly the hot-band hole
    ``max_bucket`` closes for LSH. ``max_docs_per_window`` is the
    same opt-in cap (library callers at scale should set it; scored
    and test forms stay exact): windows present in more documents
    than the cap are EXCLUDED from attribution — their coverage
    still appears in ``substring_spans``, which reduces hot windows
    to one group row and never pairs them. ``hashed=True`` is the
    usual 8-byte shuffle-key lever."""
    wins = substring_windows(documents, k, text_col, id_col, hashed)
    presence = wins.select("w", "doc_id").distinct()
    counts = (
        presence.groupBy("w")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= 2)
    )
    if max_docs_per_window is not None:
        counts = counts.filter(F.col("__n") <= max_docs_per_window)
    dup = counts.select("w")
    occ = wins.join(dup, "w")
    partners = presence.join(dup, "w").select(
        F.col("doc_id").alias("partner_id"), "w"
    )
    pairs = (
        occ.join(partners, "w")
        .filter(F.col("doc_id") != F.col("partner_id"))
        .select("doc_id", "partner_id", "pos")
    )
    return _coverage_spans(
        pairs, k, min_span_tokens, keys=("doc_id", "partner_id")
    )


def _coverage_spans(
    marked: DataFrame,
    k: int,
    min_span_tokens: int,
    keys: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """Shared gaps-and-islands tail of the batch, incremental, and
    partner-attributed span detectors: duplicated-window (*keys, pos)
    rows -> merged coverage spans per key group, with the optional
    ExactSubstr minimum-length filter. ONE implementation so the
    adjacency condition and renumbering cannot drift between the
    forms (review finding). ``keys`` is ("doc_id",) for per-document
    spans, ("doc_id", "partner_id") for per-pair attribution."""
    from pyspark.sql import Window as W

    ordered = W.partitionBy(*keys).orderBy("pos")
    running = ordered.rowsBetween(W.unboundedPreceding, W.currentRow)
    lag = F.lag("pos").over(ordered)
    new_island = (
        F.when(lag.isNull() | (F.col("pos") > lag + k), 1).otherwise(0)
    )
    spans = (
        marked.withColumn("__new", new_island)
        .withColumn("span_id", F.sum("__new").over(running))
        .groupBy(*keys, "span_id")
        .agg(
            F.min("pos").alias("start_tok"),
            (F.max("pos") + (k - 1)).alias("end_tok"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .withColumn(
            "n_tokens", F.col("end_tok") - F.col("start_tok") + 1
        )
    )
    if min_span_tokens > k:
        spans = spans.filter(
            F.col("n_tokens") >= min_span_tokens
        ).withColumn(
            "span_id",
            F.row_number()
            .over(W.partitionBy(*keys).orderBy("start_tok"))
            .cast("long"),
        )
    return spans.select(
        *keys, "span_id", "start_tok", "end_tok", "n_tokens",
        "n_windows",
    )


def substring_dedup_clean(
    documents: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    cross_doc_only: bool = True,
    min_count: int = 2,
    spans: DataFrame | None = None,
) -> DataFrame:
    """Remove every duplicated span found by ``substring_spans`` and
    reassemble the surviving tokens in order — the removal step of
    ExactSubstr, same output contract as ``line_dedup``:
    (doc_id, n_tokens_orig, n_kept, clean_text). Documents with no
    duplicated spans pass through intact (left join from the source
    table); a document that is ENTIRELY duplicated spans yields
    n_kept = 0, clean_text = ''.

    Reassembly joins token positions against the covered-position
    set (span explode — bounded by corpus token count) with a
    LEFT ANTI join, then array_sorts per doc — no per-group sort
    shuffle beyond the groupBy. Whitespace is normalized to single
    spaces (token-level rebuild, the chunk_text contract).

    ``spans``: pass a precomputed ``substring_spans`` frame (same
    documents/parameters) so a caller consuming both runs detection
    once — the labels-sharing contract of near_dedup."""
    if spans is None:
        spans = substring_spans(
            documents, k, text_col, id_col, cross_doc_only, min_count
        )
    covered = spans.select(
        "doc_id",
        F.explode(
            F.sequence(F.col("start_tok"), F.col("end_tok"))
        ).alias("pos"),
    )
    toks = (
        documents.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(F.split(F.col(text_col), " ")).alias(
                "__p", "tok"
            ),
        )
        .select(
            "doc_id", (F.col("__p") + 1).cast("long").alias("pos"), "tok"
        )
    )
    kept = toks.join(covered, ["doc_id", "pos"], "left_anti")
    assembled = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("clean_text"),
    )
    base = documents.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.split(F.col(text_col), " "))
        .cast("long")
        .alias("n_tokens_orig"),
    )
    return (
        base.join(assembled, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens_orig",
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias(
                "clean_text"
            ),
        )
    )


def substring_window_index(
    documents: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    hashed: bool = False,
) -> DataFrame:
    """The persistable settled-corpus window index for
    ``substring_spans_incremental``: the DISTINCT k-token window set
    (column ``w``). Same size class as the MinHash signature index —
    bounded by corpus vocabulary of k-grams, no document text — and
    append-maintained the same way: union-distinct each accepted
    batch's windows in (``corpus_ingest``'s settled-data contract)."""
    return substring_windows(
        documents, k, text_col, id_col, hashed
    ).select("w").distinct()


def substring_spans_incremental(
    batch: DataFrame,
    corpus_windows: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    hashed: bool = False,
    min_span_tokens: int = 0,
    batch_windows: DataFrame | None = None,
) -> DataFrame:
    """Incremental ExactSubstr over settled data: find duplicated
    spans in a NEW batch against a corpus represented ONLY by its
    window index (``substring_window_index``) — settled text is never
    re-read, the ``minhash_lsh_incremental`` contract applied to the
    third growing structure. A batch window is duplicated when it
    occurs in the settled index (>= 1 settled doc) OR in >= 2
    distinct batch documents; spans are reported for batch docs only.

    EXACTLY equivalent to running ``substring_spans`` (cross-doc
    semantics) over corpus UNION batch and keeping the batch docs'
    rows: a window shared between one settled and one batch doc is
    cross-doc duplicated either way, and windows private to one batch
    doc are duplicated in neither (property-tested in
    tests/test_substring_dedup.py). ``hashed`` must match how the
    index was built.

    ``batch_windows``: optionally pass a precomputed
    ``substring_windows(batch, ...)`` frame (same k/text_col/hashed —
    the caller's contract) so a consumer that ALSO maintains the
    index computes the explode once — the labels/signatures sharing
    contract applied here (review finding: the streaming loop
    exploded every batch twice)."""
    wins = (
        batch_windows
        if batch_windows is not None
        else substring_windows(batch, k, text_col, id_col, hashed)
    )
    batch_dup = (
        wins.select("w", "doc_id")
        .distinct()
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("w")
    )
    dup = corpus_windows.select("w").unionByName(batch_dup).distinct()
    marked = wins.join(dup, "w").select("doc_id", "pos")
    return _coverage_spans(marked, k, min_span_tokens)

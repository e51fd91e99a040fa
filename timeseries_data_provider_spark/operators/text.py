"""[EXT] Text-analysis operators for large-scale training-data
pipelines: token counting, quality scoring, language-ID heuristic,
document fingerprinting.

Everything here is pure JVM-side column expressions (split/filter/
regexp/sha2) — no Python UDFs — so the operators stay inside
whole-stage codegen and scale linearly with no shuffle at all (they are
per-row maps; only the aggregating variants shuffle once).
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")

# Whitespace as an EXPLICIT class (space/tab/LF/VT/FF/CR): Java \s and
# RE2/DuckDB \s disagree on vertical tab, and every regex shared with a
# SQL oracle must match the identical character set on both sides.
WS_CLASS = " \\t\\n\\x0B\\f\\r"

# BPE-ish tokenizer regex: letter runs, digit runs, or single non-space
# symbols — a deterministic stand-in for a real BPE pre-tokenizer.
BPE_ISH = f"[A-Za-z]+|[0-9]+|[^A-Za-z0-9{WS_CLASS}]"


def _words(text_col: str = "text") -> Column:
    """Whitespace tokens, safe on real input: split on whitespace RUNS
    and drop empty tokens — the same contract as ``pipeline.tokens``
    (review finding: the earlier single-space split turned '' into one
    phantom token and every extra space into another, inflating
    n_tokens/ttr and letting '' surface as a vocabulary 'term'). An
    empty/whitespace-only document now has ZERO tokens, so its
    ratio-type stats (ttr, stop_ratio, score) are NULL rather than
    fabricated."""
    return F.array_remove(F.split(F.col(text_col), f"[{WS_CLASS}]+"), "")


def _normalized(text_col: str = "text") -> Column:
    """THE whitespace/case normalization behind the content
    fingerprint: collapse whitespace runs FIRST, then trim — trim()
    strips only spaces, so collapsing first guarantees edge
    tabs/newlines cannot leave a residual edge space (review finding:
    'hello' and 'hello\\n' used to hash differently). Shared by
    fingerprint and doc_profile so the composed profile cannot diverge
    from the standalone operator."""
    return F.lower(
        F.trim(F.regexp_replace(F.col(text_col), f"[{WS_CLASS}]+", " "))
    )


def _profile_cols(text_col: str = "text") -> dict:
    """THE per-document profile expressions — token counts, quality
    ratios, score, BPE-ish count, normalized fingerprint — as one
    shared dict of Columns. token_stats / quality_score / fingerprint
    / doc_profile all select from this single source (review finding:
    the four operators used to carry copy-pasted formulas, so a tweak
    to e.g. the score weights in one place would silently diverge the
    composed profile from the standalone operators — same sharing rule
    as aggregates._approx_ok)."""
    w = _words(text_col)
    n = F.size(w)
    n_uniq = F.size(F.array_distinct(w))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    # ratio stats are NULL for token-less documents (n = 0): the
    # robust tokenizer really produces zero tokens there, and ANSI
    # mode (rightly) refuses 0/0
    stop_ratio = F.when(
        n > 0,
        F.size(F.filter(w, lambda x: F.array_contains(stop_arr, x))).cast(
            "double"
        )
        / n,
    )
    ttr = F.when(n > 0, n_uniq.cast("double") / n)
    length_factor = F.least(
        F.col("n_chars").cast("double") / F.lit(500.0), F.lit(1.0)
    )
    return {
        "n_tokens": n.cast("long"),
        "n_uniq": n_uniq.cast("long"),
        "ttr": F.round(ttr, 6),
        "n_bpe": F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH), 0)
        ).cast("long"),
        "stop_ratio": F.round(stop_ratio, 6),
        "score": F.round(
            0.5 * ttr + 0.3 * (1.0 - stop_ratio) + 0.2 * length_factor, 6
        ),
        "fp": F.sha2(_normalized(text_col), 256),
    }


def token_stats(documents: DataFrame) -> DataFrame:
    """Whitespace token count, distinct count, type-token ratio, and a
    BPE-ish regex token count per document."""
    c = _profile_cols()
    return documents.select(
        "doc_id",
        c["n_tokens"].alias("n_tokens"),
        c["n_uniq"].alias("n_uniq"),
        c["ttr"].alias("ttr"),
        c["n_bpe"].alias("n_bpe"),
    )


def quality_score(documents: DataFrame) -> DataFrame:
    """Deterministic quality heuristic: lexical diversity up, stopword
    saturation down, with a length factor — the standard cheap pre-filter
    before expensive dedup/training steps."""
    c = _profile_cols()
    return documents.select(
        "doc_id",
        c["stop_ratio"].alias("stop_ratio"),
        c["ttr"].alias("ttr"),
        c["score"].alias("score"),
    )


def lang_guess(documents: DataFrame) -> DataFrame:
    """Marker-word language-ID heuristic (n-gram language ID stub).

    Real language ID would be a fastText-style model in a Pandas UDF;
    the heuristic keeps the operator deterministic and oracle-checkable
    while exercising the same plan shape (per-row classify → group
    count).
    """
    t = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    guess = (
        F.when(t.like("% der %") | t.like("% und %"), "de")
        .when(t.like("% el %") | t.like("% la %"), "es")
        .when(t.like("% the %") | t.like("% a %"), "en")
        .otherwise("unk")
    )
    return (
        documents.select(guess.alias("lang_guess"))
        .groupBy("lang_guess")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def fingerprint(documents: DataFrame) -> DataFrame:
    """Content fingerprint: sha256 over case- and whitespace-normalized
    text (``_normalized`` — collapse-then-trim). The canonical
    exact-dedup key at 100 TB scale — dedup then groups/joins on the
    64-char digest instead of multi-KB bodies."""
    return documents.select(
        "doc_id", _profile_cols()["fp"].alias("fp")
    )


def doc_profile(documents: DataFrame) -> DataFrame:
    """Full per-document text profile in ONE narrow pass: token stats
    (``token_stats``), quality heuristic (``quality_score``), and the
    normalized content fingerprint (``fingerprint``) as columns of a
    single projection — zero shuffles, one scan, all whole-stage
    codegen; every expression comes from the SAME ``_profile_cols``
    the standalone operators select from. The composed form a curation
    pipeline actually runs: computing the three profiles separately
    would scan the multi-KB text column three times."""
    c = _profile_cols()
    return documents.select(
        "doc_id",
        *[
            c[name].alias(name)
            for name in (
                "n_tokens",
                "n_uniq",
                "ttr",
                "n_bpe",
                "stop_ratio",
                "score",
                "fp",
            )
        ],
    )


def vocab_topk(documents: DataFrame, k: int = 100) -> DataFrame:
    """Corpus vocabulary heavy hitters: the k most frequent whitespace
    tokens (ties broken by term for determinism). Explode → hash-agg
    (map-side partial count, shuffle carries one row per distinct term
    per partition) → distributed top-k (TakeOrderedAndProject), so the
    driver receives exactly k rows regardless of vocabulary size."""
    return (
        documents.select(F.explode(_words()).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "term")
        .limit(k)
    )


def term_df_idf(documents: DataFrame, min_df: int = 5) -> DataFrame:
    """Document frequency + smoothed IDF per term — the corpus-level
    half of TF-IDF (idf = ln((N+1)/(df+1))). Per-doc distinct before
    the count so a term repeated in one document counts once; the
    corpus size joins in as a broadcast single-row aggregate, never a
    driver-side collect."""
    words = (
        documents.select("doc_id", F.explode(_words()).alias("term"))
        .distinct()
    )
    n_docs = documents.agg(F.count(F.lit(1)).alias("__n"))
    return (
        words.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_df)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term",
            "df",
            F.round(
                F.log((F.col("__n") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))),
                6,
            ).alias("idf"),
        )
    )


def vocab_idf(documents: DataFrame, k: int = 100) -> DataFrame:
    """Corpus vocabulary heavy hitters WITH their document frequency
    and smoothed IDF: the k most frequent tokens (``vocab_topk``
    semantics), each carrying df and idf = ln((N+1)/(df+1))
    (``term_df_idf`` semantics, no min_df cut — the top-k by total
    count is the filter).

    One explode feeds ONE hash aggregate computing both the total
    count and the per-doc-distinct count (count_distinct doc_id), then
    a distributed top-k and a broadcast of the single-row corpus size
    — no second scan, no driver collect."""
    n_docs = documents.agg(F.count(F.lit(1)).alias("__n"))
    return (
        documents.select("doc_id", F.explode(_words()).alias("term"))
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.col("doc_id")).alias("df"),
        )
        .orderBy(F.col("n").desc(), "term")
        .limit(k)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term",
            "n",
            "df",
            F.round(
                F.log(
                    (F.col("__n") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))
                ),
                6,
            ).alias("idf"),
        )
    )


def winnow_fingerprints(
    documents: DataFrame, k: int = 3, w: int = 4, text_col: str = "text"
) -> DataFrame:
    """Winnowing document fingerprints (the rolling-hash scheme of
    MOSS: k-gram hashes, keep the minimum of every w-hash window, then
    distinct) — guarantees any shared substring of length >= k+w-1
    contributes a shared fingerprint, so matching docs collide while
    the fingerprint set stays ~2/(w+1) of the k-gram count.

    Winnowing is done on md5 hex strings ordered lexicographically —
    deterministic and engine-portable (no engine-specific integer
    hash), so the result hash-matches the SQL oracle. All JVM-side:
    explode + one per-doc window min + distinct (two shuffles: window
    partition and distinct, both on compact keys).
    """
    from pyspark.sql import Window

    parts = [F.element_at(F.col("__w"), F.col("i") + j) for j in range(k)]
    grams = (
        documents.select("doc_id", F.split(F.col(text_col), " ").alias("__w"))
        .filter(F.size("__w") >= k)
        .select(
            "doc_id",
            "__w",
            F.explode(
                F.sequence(F.lit(1), F.size("__w") - (k - 1))
            ).alias("i"),
        )
        .select(
            "doc_id",
            "i",
            F.md5(F.concat_ws(" ", *parts)).alias("h"),
            (F.size("__w") - (k - 1)).alias("__cnt"),
        )
    )
    win = (
        Window.partitionBy("doc_id").orderBy("i").rowsBetween(-(w - 1), 0)
    )
    # Docs with fewer than w k-grams have no full window; standard
    # winnowing then keeps the min over the PARTIAL window (one global
    # min — review finding: the plain i >= w filter emitted ZERO
    # fingerprints for k..k+w-2-token docs, so short duplicates could
    # never collide). The last row's trailing frame covers all of a
    # short doc's k-grams, so keeping exactly that row IS the global
    # min.
    return (
        grams.select(
            "doc_id", "i", "__cnt", F.min("h").over(win).alias("fp")
        )
        .filter(
            (F.col("i") >= w)
            | ((F.col("__cnt") < w) & (F.col("i") == F.col("__cnt")))
        )
        .select("doc_id", "fp")
        .distinct()
    )


def _max_run(arr: Column) -> Column:
    """Longest run of equal consecutive elements in ``arr``, as a
    row-side fold (``F.aggregate``) — stays in codegen, zero shuffle.
    Empty array -> 0."""
    init = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
    )
    return F.aggregate(
        arr,
        init,
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1).cast("long"))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(
                    F.lit(1).cast("long")
                ),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )


@functools.cache
def _repetition_cols(text_col: str) -> tuple:
    """repetition_signals' expression columns. Memoized per text_col
    (r15): unresolved Columns are immutable handles and this tree cost
    ~0.4 s of py4j per query construction."""
    w = _words(text_col)
    n = F.size(w)
    # guard n < 2: slice(w, 1, n-1) would raise on a negative
    # length now that empty/one-token docs really have < 2 tokens
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(w, 1, n - 1),
            F.slice(w, 2, n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        n.cast("long").alias("n_tokens"),
        F.round(
            F.when(
                n > 0,
                F.lit(1.0) - F.size(F.array_distinct(w)).cast("double") / n,
            ),
            6,
        ).alias("dup_word_frac"),
        _max_run(F.array_sort(bigrams)).alias("top_bigram_n"),
        _max_run(w).alias("max_word_run"),
    )


def repetition_signals(
    documents: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021, §A1.1:
    repetitious documents are low-quality training data): per document
    the duplicate-word fraction, the fraction of tokens covered by the
    single most frequent word bigram, and the longest consecutive run
    of one word.

    Scale design: the whole operator is a narrow per-row map — the
    most-frequent-bigram count is the longest equal-run in the SORTED
    bigram array (``array_sort`` + the same fold), so no explode, no
    shuffle, no per-doc aggregation; linear at any corpus size.
    """
    return documents.select(id_col, *_repetition_cols(text_col)).withColumn(
        # capped at 1: overlapping occurrences of the same bigram share
        # tokens, so 2*count/n exceeds 1 exactly on the most
        # repetitious documents (review finding — 'a a a a' scored
        # 1.5); the cap keeps the signal a true [0, 1] coverage bound
        # for curation thresholds.
        "top_bigram_frac",
        F.round(
            F.when(
                F.col("n_tokens") > 0,
                F.least(
                    F.lit(1.0),
                    F.lit(2.0) * F.col("top_bigram_n") / F.col("n_tokens"),
                ),
            ),
            6,
        ),
    )


def line_signals(
    documents: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """C4-style LINE-level cleaning signals, one row per document —
    the rule family the C4 pipeline applies before any model-based
    scoring (doc-level stats live in doc_profile/repetition_signals):

    - ``frac_lines_terminal``: fraction of lines ending in terminal
      punctuation (., !, ?, closing quote) — C4 keeps only such lines;
    - ``frac_lines_short``: fraction of lines with < 3 words (C4 drops
      them: nav menus, footers);
    - ``frac_lines_bullet`` / ``frac_lines_ellipsis``: list/teaser
      boilerplate markers;
    - ``has_curly_brace`` / ``has_lorem_ipsum`` / ``has_javascript``:
      page-level kill rules (code, placeholder, script warnings);
    - ``kept_line_frac``: fraction of lines the C4 keep rule (terminal
      punctuation AND >= 3 words) retains — the one-number summary a
      curation gate thresholds on.

    Pure JVM higher-order array expressions over the line split — no
    shuffle, no Python; linear at 100 TB like the other row-side
    signal folds.
    """
    cols = _line_signal_cols(text_col)
    return documents.select(
        id_col, *[expr.alias(name) for name, expr in cols.items()]
    )


@functools.cache
def _line_signal_cols(text_col: str = "text") -> dict:
    """The line_signals expressions as a named dict — shared by
    ``line_signals`` (select form) and ``c4_filter`` (filter form, no
    join — review finding: joining documents against
    line_signals(documents) planned a real self-join with an exchange
    and a second scan of the text column; evaluating the same
    per-row expressions directly keeps the gate a single projection).

    Memoized per text_col (r15): unresolved Columns are immutable
    expression handles, and rebuilding this ~200-node tree through
    py4j cost ~0.4 s of driver time on every query construction.

    Lines split on ``\\r?\\n`` so CRLF documents classify identically
    to LF ones, and line edges are stripped over the FULL whitespace
    class before the terminal/bullet/ellipsis checks — plain trim()
    strips only spaces, so 'Read more...\\r' used to count as terminal
    and '.\\t' never did (review finding)."""
    lines = F.split(F.col(text_col), "\\r?\\n")
    n_lines = F.size(lines)

    def stripped(line: Column) -> Column:
        return F.regexp_replace(
            F.regexp_replace(line, f"[{WS_CLASS}]+$", ""),
            f"^[{WS_CLASS}]+",
            "",
        )

    def nwords(line: Column) -> Column:
        # whitespace RUNS (tabs included — a tab-separated line is
        # multi-word), empties dropped: same tokenizer class as
        # pipeline.tokens, scoped to the line (no trim needed — edge
        # whitespace just yields "" tokens that array_remove drops)
        return F.size(
            F.array_remove(F.split(line, "[ \\t\\x0B\\f\\r]+"), "")
        )

    # terminal punctuation, optionally followed by a closing quote /
    # bracket; an ellipsis is teaser boilerplate, NOT a terminal
    terminal = lambda l: (  # noqa: E731
        stripped(l).rlike("[.!?][\"')\\]]?$")
        & ~stripped(l).endswith("...")
    )
    short = lambda l: nwords(l) < 3  # noqa: E731
    keep = lambda l: terminal(l) & ~short(l)  # noqa: E731

    def frac(pred) -> Column:
        return F.round(
            F.size(F.filter(lines, pred)).cast("double") / n_lines, 6
        )

    low = F.lower(F.col(text_col))
    cols = {
        "n_lines": n_lines.cast("long"),
        "frac_lines_terminal": frac(terminal),
        "frac_lines_short": frac(short),
        "frac_lines_bullet": frac(lambda l: stripped(l).rlike("^[-*•]")),
        "frac_lines_ellipsis": frac(lambda l: stripped(l).endswith("...")),
        "has_curly_brace": F.col(text_col).contains("{"),
        "has_lorem_ipsum": low.contains("lorem ipsum"),
        "has_javascript": low.contains("javascript"),
        "kept_line_frac": frac(keep),
    }
    return cols


def c4_keep_expr(
    min_kept_line_frac: float = 0.5, max_short_frac: float = 0.5
) -> Column:
    """THE C4 page-level keep rule over ``line_signals`` columns:
    no curly braces / "lorem ipsum" / "javascript", the line-keep rule
    retains at least ``min_kept_line_frac`` of lines, and sub-3-word
    lines stay under ``max_short_frac``. One shared expression used by
    both ``c4_filter`` and verdict-emitting compositions (the q64
    driver row), so the filter semantics and the scored semantics
    cannot diverge — same pattern as aggregates._approx_ok."""
    return (
        ~F.col("has_curly_brace")
        & ~F.col("has_lorem_ipsum")
        & ~F.col("has_javascript")
        & (F.col("kept_line_frac") >= min_kept_line_frac)
        & (F.col("frac_lines_short") <= max_short_frac)
    )


def c4_filter(
    documents: DataFrame,
    min_kept_line_frac: float = 0.5,
    max_short_frac: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply the C4 page-level keep rule (``c4_keep_expr``): drop
    documents containing curly braces / "lorem ipsum" / "javascript",
    documents where the line-keep rule retains less than
    ``min_kept_line_frac`` of lines, and documents dominated by
    sub-3-word lines. Returns the surviving (id, text) rows; composes
    with pipeline.curate's dedup stage. The signals are evaluated as
    columns of the SAME projection (``_line_signal_cols``) and
    filtered in place — one scan, zero joins, zero shuffles (review
    finding: the earlier documents-join-line_signals form planned a
    real self-join exchange and scanned the text column twice)."""
    cols = _line_signal_cols(text_col)
    return (
        documents.select(
            id_col,
            text_col,
            *[expr.alias(name) for name, expr in cols.items()],
        )
        .filter(c4_keep_expr(min_kept_line_frac, max_short_frac))
        .select(id_col, text_col)
    )


# PII patterns: deliberately conservative, precision-first forms of the
# scrub rules corpus pipelines run before training (emails; international
# / US phone shapes with enough digits to avoid eating plain numbers;
# dotted-quad IPs; 13-16 digit card-like runs). Java regex (JVM-side).
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"(?<![\d.])(?:\+?\d{1,3}[ .-]?)?(?:\(\d{2,4}\)[ .-]?)?\d{3}[ .-]\d{3,4}(?:[ .-]\d{2,4})?(?![\d.])",
    "ip": r"(?<![\d.])(?:\d{1,3}\.){3}\d{1,3}(?![\d.])",
    "card": r"(?<![\d.])\d{4}[ -]?\d{4}[ -]?\d{4}[ -]?\d{1,4}(?![\d.])",
}


@functools.cache
def _redact_cols(text_col: str, kinds: tuple[str, ...]) -> tuple:
    """redact_pii's output columns, memoized per (text_col, kinds) like
    the other signal builders (r15): unresolved Columns are immutable
    handles."""
    out = F.col(text_col)
    counts = []
    for kind in kinds:
        pat = PII_PATTERNS[kind]
        counts.append(
            F.regexp_count(out, F.lit(pat)).cast("long").alias(f"n_{kind}")
        )
        out = F.regexp_replace(out, pat, f"<{kind.upper()}>")
    return (out.alias("text_redacted"), *counts)


def redact_pii(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    kinds: tuple[str, ...] = ("email", "card", "ip", "phone"),
) -> DataFrame:
    """Scrub PII-shaped spans before training: each matched span is
    replaced with a typed placeholder (``<EMAIL>``, ``<PHONE>``, ...)
    and per-kind match counts are emitted alongside, so the curation
    pass can both clean and THRESHOLD (documents dense in PII usually
    warrant dropping, not just scrubbing). Chained ``regexp_replace``
    + ``regexp_count`` — pure JVM row-side work, zero shuffle, linear
    at 100 TB.

    Kinds are applied in the order given and each kind counts matches
    on the RUNNING (already-redacted) text — both matter: the more
    specific pattern must run first (card before phone, or the phone
    pattern eats a 16-digit card in chunks) and progressive counting
    prevents one span being double-counted across kinds."""
    return documents.select(id_col, *_redact_cols(text_col, tuple(kinds)))


def compression_ratio(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    level: int = 6,
) -> DataFrame:
    """Per-document zlib compression ratio — the classic cheap
    redundancy signal (used by the Gopher/FineWeb quality-filter
    family: machine-generated or template-stuffed text compresses far
    better than natural prose, so a very LOW ratio flags boilerplate
    and a ratio near/above 1 flags already-compressed or random
    junk). Returns (id, n_bytes, n_zbytes, compression_ratio) with
    ratio = compressed/uncompressed rounded to 6 dp; NULL text stays
    NULL, empty text gets NULL ratio (0/0).

    Scale shape: one Arrow pass, per-row independent, zero shuffle.
    zlib itself is C-rate (~100 MB/s/core), so unlike the codec tier
    this Python pass is bandwidth-bound, not loop-bound. The ratio
    depends on the zlib LEVEL (deterministic for a fixed level and
    zlib build — pinned in tests); treat it as a monotone signal, not
    a portable constant."""
    import zlib
    from typing import Iterator as _It

    import pandas as _pd

    def run(batches: _It[_pd.DataFrame]) -> _It[_pd.DataFrame]:
        for pdf in batches:
            out = {
                id_col: [],
                "n_bytes": [],
                "n_zbytes": [],
                "compression_ratio": [],
            }
            for rid, t in zip(pdf[id_col], pdf[text_col]):
                out[id_col].append(rid)
                if t is None or (isinstance(t, float) and _pd.isna(t)):
                    out["n_bytes"].append(None)
                    out["n_zbytes"].append(None)
                    out["compression_ratio"].append(None)
                    continue
                raw = str(t).encode("utf-8")
                z = zlib.compress(raw, level)
                out["n_bytes"].append(len(raw))
                out["n_zbytes"].append(len(z))
                out["compression_ratio"].append(
                    round(len(z) / len(raw), 6) if raw else None
                )
            yield _pd.DataFrame(out)

    return documents.select(id_col, text_col).mapInPandas(
        run,
        f"{id_col} long, n_bytes long, n_zbytes long, "
        "compression_ratio double",
    )


def bm25_topk(
    documents: DataFrame,
    queries: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    prune_dl: bool = False,
) -> DataFrame:
    """Okapi BM25 top-k retrieval (Robertson et al.; the Lucene
    ``ln(1 + (N - df + 0.5)/(df + 0.5))`` non-negative idf variant) —
    the retrieval primitive a curation stack uses to pull
    eval-adjacent or topic-matched documents out of the corpus.
    Returns (query, rank, doc_id, n_terms_hit, bm25_milli): the k
    highest-scoring documents per query string, rank 1-based,
    deterministic (score DESC, doc_id ASC).

    Numeric contract (the lm.py exact-aggregation rule): each
    (term, doc) contribution is floored to integer MILLI-units BEFORE
    summing, so the per-doc score is order-independent exact integer
    math — oracle-replayable with operator-for-operator float
    ordering.

    Scale shape: the query-term frame is tiny and BROADCAST into the
    tf table (pruning the corpus to query terms before anything
    heavy), doc lengths join fan-out-1, corpus scalars (N, avgdl)
    ride a broadcast one-row cross join, and the final top-k is a
    per-query window over only the matched docs. One explode over the
    corpus feeds tf/dl/df — no second scan."""
    if not queries:
        raise ValueError("bm25_topk: need at least one query")
    spark = documents.sparkSession
    qterms = sorted(
        {(q, t) for q in queries for t in q.split() if t}
    )
    if not qterms:
        raise ValueError("bm25_topk: queries contain no terms")
    qdf = spark.createDataFrame(qterms, "query string, term string")
    # ONE explode feeds everything: tf is the only corpus-derived
    # aggregate; dl and the corpus term total derive FROM tf (same
    # values, no second scan), and df is computed only for the query
    # terms AFTER the broadcast prune (review finding: a
    # full-vocabulary df frame under F.broadcast would collect
    # web-scale vocab to the driver). tf is pinned so its two
    # consumers don't re-run the explode.
    words = documents.select(
        F.col(id_col).alias("doc_id"), F.explode(_words(text_col)).alias("term")
    )
    tf = words.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    ).localCheckpoint(eager=False)
    pruned = tf.join(
        F.broadcast(qdf.select("term").distinct()), "term"
    )
    if prune_dl:
        # dl only for MATCHED docs: a doc's length counts all its
        # terms, but only docs that hit a query term ever join — the
        # semi join keeps the dl aggregate and join matched-sized.
        # OPT-IN because it adds a distinct + semi-join consumer of
        # tf: measured at sf0.1 on corpus-common query terms (the
        # worst case — matched is corpus-sized) the full q55 union
        # went 2.0 s -> 3.6 s with it on; with SELECTIVE queries over
        # a large pool the matched-sized dl is the scale win.
        dl = (
            tf.join(
                pruned.select("doc_id").distinct(), "doc_id", "left_semi"
            )
            .groupBy("doc_id")
            .agg(F.sum("tf").alias("dl"))
        )
    else:
        dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    dfq = pruned.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = documents.agg(
        F.count(F.lit(1)).alias("__n")
    ).crossJoin(tf.agg(F.sum("tf").alias("__terms")))
    matched = (
        pruned.join(F.broadcast(qdf), "term")
        .join(F.broadcast(dfq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    avgdl = F.col("__terms") / F.col("__n")
    idf = F.log(
        F.lit(1.0)
        + (F.col("__n") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(float(k1)) * (
        F.lit(1.0 - b) + F.lit(float(b)) * (F.col("dl") / avgdl)
    )
    term_milli = F.floor(
        F.lit(1000.0)
        * idf
        * (F.col("tf") * F.lit(float(k1) + 1.0))
        / denom
    )
    scored = matched.select(
        "query", "doc_id", term_milli.alias("__milli")
    ).groupBy("query", "doc_id").agg(
        F.count(F.lit(1)).alias("n_terms_hit"),
        F.sum("__milli").alias("bm25_milli"),
    )
    w = Window.partitionBy("query").orderBy(
        F.col("bm25_milli").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query", "rank", "doc_id", "n_terms_hit", "bm25_milli")
    )

"""Streaming CRAWL ingestion: WARC files -> text corpus, deduped.

Closes the loop between the round-9 crawl front end and the settled
corpus machinery: crawl archives land in a directory (the standard
crawler hand-off — same rename-into-place producer contract as
corpus_ingest), a binaryFile stream picks them up, and every
micro-batch runs the WHOLE pipeline in place:

  gzip/WARC/HTTP parse (sources/warc.warc_responses)
    -> keep 200 text/html responses
    -> URL canonicalization (operators/urls; doc_id =
       xxhash64(canonical URL) — content-addressed, re-crawl-stable)
    -> optional robots.txt compliance (operators/robots rules frame)
    -> HTML -> boilerplate-cleaned text (operators/htmltext)
    -> the EXISTING ``process_corpus_batch``: incremental MinHash
       dedup against the persisted signature index (+ optional
       substring-window maintenance), appends under ``root``

plus a ``<root>/crawl_meta`` audit append (url_norm, status, title,
html_lang, block counts, batch_id) — the provenance record a corpus
release needs. Because the per-batch body IS the oracle-scored batch
operators, streaming semantics cannot drift from the scored path —
the corpus_ingest design rule, inherited.

At-least-once/replay posture: identical to corpus_ingest (the
crawl_meta append participates in the same batch_id discipline;
``reconcile_crawl_root`` below restores the no-crash state, swapping
each changed dataset instead of overwriting it).

Scale shape: archive-granular parallelism (CC segments, ~1 GB each);
everything between the scan and the dedup joins is per-row
independent. The HTML/gzip tier is Python-rate (§C crawl row: the
measured envelope); dedup costs are the corpus_ingest §C rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from timeseries_data_provider_spark.operators import htmltext, urls
from timeseries_data_provider_spark.sources import warc
from timeseries_data_provider_spark.streaming import corpus_ingest
from timeseries_data_provider_spark.streaming.retention import swap_dir

__all__ = [
    "crawl_batch_to_docs",
    "process_crawl_batch",
    "ingest_crawl_stream",
    "reconcile_crawl_root",
]

_BINFILE_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("modificationTime", TimestampType()),
        StructField("length", LongType()),
        StructField("content", BinaryType()),
    ]
)


def crawl_batch_to_docs(
    archives: DataFrame,
    robots_rules: DataFrame | None = None,
    max_link_density: float = 0.5,
    min_text_chars: int = 1,
    normalize_unicode: bool = False,
    with_links: bool = False,
) -> tuple[DataFrame, ...]:
    """The batch transform (module-level, directly testable — the
    process_corpus_batch rule): (archive_id, payload) -> (docs, meta).

    ``docs`` is corpus_ingest's (doc_id, text) with doc_id =
    xxhash64(canonical url) — the same page re-crawled maps to the
    same id, so the dedup tier also absorbs re-crawls; ``meta`` is
    the per-page provenance row. Non-200/non-HTML responses and
    pages whose cleaned text is shorter than ``min_text_chars`` are
    kept in META (observability) but excluded from docs.

    ``with_links=True`` additionally returns the batch's raw out-link
    frame (base_url = the page's canonical URL, href) — the frontier
    feed (r10): (docs, meta, links)."""
    pages = warc.warc_responses(archives, id_col="doc_id").select(
        F.col("doc_id").alias("archive_id"),
        "url",
        "http_status",
        "mime",
        F.col("body").cast("string").alias("html"),
    )
    pages = pages.withColumn(
        "url_norm", urls.url_normalize(F.col("url"))
    ).withColumn("doc_id", F.xxhash64("url_norm"))
    if robots_rules is not None:
        from timeseries_data_provider_spark.operators import robots

        pages = robots.robots_filter(pages, robots_rules, url_col="url")
    # extract ONLY genuinely-HTML 200s: casting arbitrary binary
    # bodies (images, truncated fetches) to string feeds invalid
    # UTF-8 into Arrow; excluded rows stay in META with NULL features
    html_pages = pages.filter(
        (F.col("http_status") == 200)
        & (F.col("mime") == "text/html")
        & F.col("url_norm").isNotNull()
    )
    feats = htmltext.html_text_features(
        html_pages.select("doc_id", "html"),
        max_link_density=max_link_density,
    )
    # same canonical URL twice in one batch (a duplicated record or a
    # changed page fetched twice): ONE deterministic winner rule for
    # BOTH the landed text and the provenance features — min over a
    # struct led by a QUALIFIES-FIRST flag then text, so a qualifying
    # fetch always beats a truncated one (review finding: a text-first
    # min let an empty/short duplicate shadow a good fetch and drop
    # the doc entirely) and the meta row still describes THE SAME
    # fetch that landed (ADVICE r9: two separate min() orderings
    # could describe different duplicates).
    rep = (
        feats.groupBy("doc_id")
        .agg(
            F.min(
                F.struct(
                    # NULL text must count as non-qualifying, not sort
                    # first (asc struct order puts NULLs first)
                    F.coalesce(
                        F.length("text") < min_text_chars, F.lit(True)
                    ).alias("__bad"),
                    "text",
                    "title",
                    "html_lang",
                    "n_blocks",
                    "n_boiler_blocks",
                    "n_text_chars",
                )
            ).alias("__f")
        )
        .select("doc_id", "__f.*")
        .drop("__bad")
    )
    meta = pages.select(
        "archive_id",
        "doc_id",
        "url_norm",
        "http_status",
        "mime",
    ).join(rep.drop("text"), "doc_id", "left")
    docs = rep.select("doc_id", "text").filter(
        F.length("text") >= min_text_chars
    )
    if normalize_unicode:
        # NFKC + mojibake repair BEFORE dedup: equivalent byte
        # sequences must land as one document (operators/normalize)
        from timeseries_data_provider_spark.operators import normalize

        docs = normalize.clean_text(docs).drop("was_changed")
    if with_links:
        links = htmltext.html_links(html_pages).join(
            html_pages.select(
                "doc_id", F.col("url_norm").alias("base_url")
            ).distinct(),
            "doc_id",
        ).select("base_url", "href")
        return docs, meta, links
    return docs, meta


def process_crawl_batch(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: int,
    root: str,
    robots_rules: DataFrame | None = None,
    normalize_unicode: bool = False,
    frontier_kw: dict | None = None,
    **corpus_kw,
) -> None:
    """Per-micro-batch body: transform archives, append the crawl_meta
    audit FIRST (meta rows are droppable duplicates on replay; losing
    them loses provenance, so they precede the doc appends in the
    crash-gap ordering), then hand the docs to the EXISTING
    ``process_corpus_batch`` (dedup + settled-structure maintenance,
    identical semantics to the scored batch path).

    ``frontier_kw`` (r10, optional): when a dict (possibly empty),
    the batch's out-links feed ``frontier.frontier_from_crawl`` —
    resolve, canonicalize, drop everything already in crawl_meta,
    schedule under politeness budgets — and the NEXT fetch batch
    lands at ``<root>/frontier_next`` (overwritten each batch: it is
    a derived, advisory artifact, so replay just recomputes it — no
    reconciliation needed). Keys pass through to frontier_from_crawl
    (window_seconds/delays/host_priorities/max_per_host/...). The
    crawl loop is closed: archives in, next batch's URL schedule
    out."""
    archives = batch.select(
        F.xxhash64("path").alias("doc_id"),
        F.col("content").alias("payload"),
    )
    with_links = frontier_kw is not None
    out = crawl_batch_to_docs(
        archives,
        robots_rules,
        normalize_unicode=normalize_unicode,
        with_links=with_links,
    )
    docs, meta = out[0], out[1]
    meta.withColumn("batch_id", F.lit(batch_id)).write.mode(
        "append"
    ).parquet(root + "/crawl_meta")
    corpus_ingest.process_corpus_batch(
        spark, docs, batch_id, root, **corpus_kw
    )
    if with_links:
        from timeseries_data_provider_spark.operators import (
            frontier as _frontier,
        )

        # crawl_meta was appended above, so "fetched" already covers
        # THIS batch's pages — a page never schedules itself
        fetched = (
            spark.read.parquet(root + "/crawl_meta")
            .select(F.col("url_norm").alias("url"))
            .filter(F.col("url").isNotNull())
        )
        nxt = _frontier.frontier_from_crawl(
            out[2], fetched, **frontier_kw
        )
        nxt.write.mode("overwrite").parquet(root + "/frontier_next")


def ingest_crawl_stream(
    spark: SparkSession,
    source_dir: str,
    root: str,
    robots_rules: DataFrame | None = None,
    checkpoint: str | None = None,
    max_files_per_trigger: int = 2,
    normalize_unicode: bool = False,
    frontier_kw: dict | None = None,
    **corpus_kw,
):
    """Start the crawl-ingestion stream over ``source_dir`` (*.warc /
    *.warc.gz, renamed into place). Returns the StreamingQuery.
    ``corpus_kw`` passes through to ``process_corpus_batch``
    (num_hashes/bands/min_est/max_df/max_bucket/drop_dups/substr_k) —
    the dedup knobs stay batch-identical by construction."""
    corpus_ingest.ensure_signature_index(
        spark, root, corpus_kw.get("num_hashes", 16)
    )
    if corpus_kw.get("substr_k") is not None:
        corpus_ingest.ensure_window_index(
            spark, root, corpus_kw["substr_k"]
        )
    if robots_rules is not None:
        # rules are model-sized; pin them so every batch reuses one
        # broadcastable copy instead of re-reading the source
        robots_rules = robots_rules.localCheckpoint(eager=True)

    def handle(batch: DataFrame, batch_id: int) -> None:
        process_crawl_batch(
            spark,
            batch,
            batch_id,
            root,
            robots_rules,
            normalize_unicode=normalize_unicode,
            frontier_kw=frontier_kw,
            **corpus_kw,
        )

    reader = (
        spark.readStream.format("binaryFile")
        .schema(_BINFILE_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(source_dir)
    )
    return (
        reader.writeStream.foreachBatch(handle)
        .option(
            "checkpointLocation", checkpoint or root + "/_crawl_checkpoint"
        )
        .start()
    )


def reconcile_crawl_root(spark: SparkSession, root: str) -> dict:
    """Replay recovery for a crawl root: the corpus reconciliation
    (which first recovers any interrupted swap under ``root``) plus
    the crawl_meta audit (duplicate (batch_id, doc_id, archive_id)
    rows collapse, rewritten through the same ``swap_dir``).
    Idempotent; run after any unclean shutdown."""
    stats = corpus_ingest.reconcile_ingest_root(spark, root)
    path = root + "/crawl_meta"
    if not corpus_ingest._bootstrap_needed(spark, path):
        meta = spark.read.parquet(path)
        clean = meta.dropDuplicates(["batch_id", "doc_id", "archive_id"])
        before = meta.count()
        after = clean.count()
        if after != before:
            swap_dir(root, "crawl_meta", clean.write.parquet)
        stats["crawl_meta"] = {"before": before, "after": after}
    return stats

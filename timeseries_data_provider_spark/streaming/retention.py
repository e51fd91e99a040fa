"""Retention: the reference's auto-remove pass
(/root/reference/index.js:268-282) — ``DELETE FROM "<name>" WHERE time
< '<cutoff>'`` with cutoff = now − age seconds, UTC, strict ``<``
(index.js:272-273; the rule itself is ``core.retention_filter``).

On plain parquet (no Delta in this container) a delete is a partition
rewrite: read ONLY the series' partition, keep survivors
(``time >= cutoff``), swap the partition directory. Writes never touch
other series — the same partition pruning that serves queries bounds
maintenance I/O. On Delta/Iceberg this whole module collapses to
``DELETE FROM metrics WHERE name = ? AND time < ?``.

Retention is also the compaction. The collector appends one parquet
file per tick per series (index.js:250-257) — at a 1-second cadence
that is ~86k files per partition per day, which kills scan planning
(file listing) and footer overhead long before data volume matters.
The rewrite leaves ONE file sorted on ``time`` (``coalesce(1)`` plus a
local sort, no shuffle), and the sort gives the parquet row-group
min/max stats their pruning power for range scans.

``swap_dir`` is the one way ``streaming/`` rewrites a dataset that
already exists: retention swaps a ``name=<s>`` partition, and the
corpus/crawl reconciliation swaps ``docs``, ``signatures``,
``crawl_meta`` and the rest. The new copy is written aside first, so a
write that fails leaves the live copy untouched (Spark's Overwrite
would delete the target before its job runs). The swap is NOT atomic:
between its two renames the dataset is briefly invisible to readers.
A crash in that window leaves the old copy aside under
``<root>/.swap/``; ``recover_swaps`` renames it back, and the
collector and both reconcile functions run it first. Restoring the
old copy is always correct because every rewrite is re-runnable.

CONCURRENCY CONTRACT (review finding): the swap is NOT safe against a
concurrent WRITER — a file appended to the dataset between the
rewrite's scan and the rename is swept aside with the old copy and
deleted. Retention must therefore run serialized with ingestion: the
collector calls it from inside its own tick (the reference's single
setInterval loop, index.js:268-282, has the same property by
construction); reconciliation runs with the stream stopped. Plain
parquet has no transaction log to detect the race; Delta/Iceberg is
the lift when maintenance must run out-of-band.
"""

from __future__ import annotations

import os
import shutil
import uuid
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from ..operators.core import retention_filter

# The metrics table: partitioned by ``name``, so a stored file holds
# only ``time`` and ``value`` (SERIES_SCHEMA). Both the collector's
# append and the retention rewrite write and read files of that schema.
METRICS_SCHEMA = StructType(
    [
        StructField("name", StringType(), False),
        StructField("time", TimestampNTZType(), False),
        StructField("value", DoubleType(), False),
    ]
)
SERIES_SCHEMA = StructType(METRICS_SCHEMA.fields[1:])

# aside copies live inside the root: partition discovery skips
# dot-prefixed directories, and recovery stays scoped to one root
SWAP_DIR = ".swap"


def series_entry(spark: SparkSession, name: str) -> str:
    """The partition directory of series ``name``, relative to the
    table root, with the value escaped exactly as Spark's partitioned
    writer escapes it (``cpu:load`` → ``name=cpu%3Aload``)."""
    utils = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    return f"name={utils.escapePathName(name)}"


def recover_swaps(root: str) -> None:
    """Rename back every old copy whose directory is missing (a swap
    interrupted between its two renames), then drop ``.swap`` with
    whatever else is left there (a new copy or an append's file that
    was never renamed in)."""
    swap_dir = os.path.join(root, SWAP_DIR)
    if not os.path.isdir(swap_dir):
        return
    for aside in os.listdir(swap_dir):
        entry, _tag, kind = aside.rsplit(".", 2)
        live = os.path.join(root, entry)
        if kind == "old" and not os.path.exists(live):
            os.rename(os.path.join(swap_dir, aside), live)
    shutil.rmtree(swap_dir)


def swap_dir(root: str, entry: str, df: DataFrame) -> None:
    """Replace the dataset at ``<root>/<entry>`` with ``df``: write the
    new copy aside, rename the old one aside, rename the new one in,
    then delete the old. ``df`` may read the live copy (the write goes
    elsewhere). Recovery runs on the way out, so a failed swap keeps
    or restores the old copy, and a finished one leaves no ``.swap``
    entries."""
    live = os.path.join(root, entry)
    aside = os.path.join(root, SWAP_DIR, f"{entry}.{uuid.uuid4().hex}")
    try:
        df.write.mode("overwrite").parquet(aside + ".new")
        os.rename(live, aside + ".old")
        os.rename(aside + ".new", live)
    finally:
        recover_swaps(root)


def retention_cutoff(age_seconds: int, now_epoch: float) -> datetime:
    """UTC cutoff = now − age (index.js:272:
    ``moment().subtract(age, "seconds").utc().format()``)."""
    return (
        datetime.fromtimestamp(now_epoch, tz=timezone.utc)
        - timedelta(seconds=age_seconds)
    ).replace(tzinfo=None)


def apply_retention(
    spark: SparkSession,
    table_path: str,
    name: str,
    age_seconds: int,
    now_epoch: float,
) -> int:
    """Delete rows of series ``name`` strictly older than the cutoff,
    leaving the survivors as one time-sorted file.

    Returns the number of surviving rows. No-op if the partition does
    not exist yet.
    """
    entry = series_entry(spark, name)
    part_dir = os.path.join(table_path, entry)
    if not os.path.isdir(part_dir):
        return 0
    cutoff = retention_cutoff(age_seconds, now_epoch)
    # the stored schema (no inference job), and the write fills the
    # survivor count: no second job re-reads the copy
    observed = Observation()
    stored = spark.read.schema(SERIES_SCHEMA).parquet(part_dir)
    survivors = (
        retention_filter(stored, cutoff, "time")
        .observe(observed, F.count(F.lit(1)).alias("n"))
        .coalesce(1)
        .sortWithinPartitions("time")
    )
    swap_dir(table_path, entry, survivors)
    return observed.get["n"]

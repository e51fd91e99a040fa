"""Retention: the reference's auto-remove pass
(/root/reference/index.js:268-282) — ``DELETE FROM "<name>" WHERE time
< '<cutoff>'`` with cutoff = now − age seconds, UTC, strict ``<``
(index.js:272-273).

On plain parquet (no Delta in this container) a delete is a partition
rewrite: read ONLY the series' partition, keep survivors
(``time >= cutoff``), swap the partition directory. Writes never touch
other series — the same partition pruning that serves queries bounds
maintenance I/O. On Delta/Iceberg this whole module collapses to
``DELETE FROM metrics WHERE name = ? AND time < ?``.

The swap (``_swap_partition``, shared with compact.py) is NOT atomic:
between its two renames the series is briefly invisible to readers. A
crash in that window leaves the old copy aside under
``<table>/.swap/``; ``recover_swaps`` renames it back, and the
collector runs it on start. Restoring the old copy is always correct
because retention and compaction are re-runnable.

CONCURRENCY CONTRACT (review finding): the swap is NOT safe against a
concurrent WRITER — a file appended to the partition between the
rewrite's scan and the rename is swept aside with the old copy and
deleted. Retention must therefore run serialized with ingestion: the
collector calls it from inside its own tick (the reference's single
setInterval loop, index.js:268-282, has the same property by
construction). Plain parquet has no transaction log to detect the
race; Delta/Iceberg is the lift when maintenance must run out-of-band.
"""

from __future__ import annotations

import os
import shutil
import uuid
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

# aside copies live inside the table root: partition discovery skips
# dot-prefixed directories, and recovery stays scoped to one table
SWAP_DIR = ".swap"


def recover_swaps(table_path: str) -> None:
    """Rename back every old copy whose partition is missing (a swap
    interrupted between its two renames), then drop ``.swap``."""
    swap_dir = os.path.join(table_path, SWAP_DIR)
    if not os.path.isdir(swap_dir):
        return
    for entry in os.listdir(swap_dir):
        part, _tag, kind = entry.rsplit(".", 2)
        part_dir = os.path.join(table_path, part)
        if kind == "old" and not os.path.exists(part_dir):
            os.rename(os.path.join(swap_dir, entry), part_dir)
    shutil.rmtree(swap_dir)


def _swap_partition(table_path: str, name: str, df: DataFrame) -> None:
    """Replace series ``name``'s partition with ``df``: write the new
    copy aside, rename the old partition aside, rename the new one in,
    then delete the old. Recovery runs on the way out, so a failed
    swap restores the old copy, and a finished one leaves no
    ``.swap`` entries."""
    entry = f"name={name}"
    part_dir = os.path.join(table_path, entry)
    aside = os.path.join(table_path, SWAP_DIR, f"{entry}.{uuid.uuid4().hex}")
    try:
        df.write.mode("overwrite").parquet(aside + ".new")
        os.rename(part_dir, aside + ".old")
        os.rename(aside + ".new", part_dir)
    finally:
        recover_swaps(table_path)


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
    """Delete rows of series ``name`` strictly older than the cutoff.

    Returns the number of surviving rows. No-op if the partition does
    not exist yet.
    """
    part_dir = os.path.join(table_path, f"name={name}")
    if not os.path.isdir(part_dir):
        return 0
    cutoff = retention_cutoff(age_seconds, now_epoch)
    # the write fills the survivor count: no second job re-reads the copy
    observed = Observation()
    survivors = (
        spark.read.parquet(part_dir)
        .filter(F.col("time") >= F.lit(cutoff).cast("timestamp_ntz"))
        .observe(observed, F.count(F.lit(1)).alias("n"))
        .coalesce(1)
    )
    _swap_partition(table_path, name, survivors)
    return observed.get["n"]

"""Small-file compaction for the streaming metrics sink.

The collector appends one parquet file per tick per series partition
(reference writes one point per tick, index.js:250-257) — at a 1-second
cadence that is ~86k files/partition/day, which kills scan planning
(file listing) and parquet footer overhead long before data volume
matters. Compaction rewrites a partition's many small files into one
time-sorted file; time-sorting also gives parquet row-group min/max
stats their pruning power for range scans.

Run cadence: the collector never calls it. ``compact_all`` is a
maintenance call the operator runs, and it must still be serialized
with ingestion — between ticks or with the collector stopped, never
beside a running one. It uses retention's partition swap, with the
same contract (see retention.py): the series is briefly invisible
between the two renames, a crash there is recovered on the next
collector start, and a file appended between the rewrite's scan and
the rename is swept away with the old directory. Never schedule it
beside a live writer on plain parquet; Delta/Iceberg (OPTIMIZE /
rewrite_data_files, transactional) is the lift when maintenance must
run out-of-band.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .retention import _swap_partition


def _parquet_files(part_dir: str) -> list[str]:
    return [
        f
        for f in os.listdir(part_dir)
        if f.endswith(".parquet") and not f.startswith(".")
    ]


def compact_partition(
    spark: SparkSession, table_path: str, name: str
) -> tuple[int, int]:
    """Rewrite series ``name``'s partition into one time-sorted file.
    Returns (files_before, files_after)."""
    part_dir = os.path.join(table_path, f"name={name}")
    if not os.path.isdir(part_dir):
        return (0, 0)
    before = len(_parquet_files(part_dir))
    if before <= 1:
        return (before, before)
    df = (
        spark.read.parquet(part_dir)
        .repartition(1)
        .sortWithinPartitions("time")
    )
    _swap_partition(table_path, name, df)
    return (before, len(_parquet_files(part_dir)))


def compact_all(
    spark: SparkSession, table_path: str
) -> dict[str, tuple[int, int]]:
    """Compact every series partition under the table."""
    out: dict[str, tuple[int, int]] = {}
    if not os.path.isdir(table_path):
        return out
    for entry in sorted(os.listdir(table_path)):
        if entry.startswith("name="):
            series = entry.split("=", 1)[1]
            out[series] = compact_partition(spark, table_path, series)
    return out

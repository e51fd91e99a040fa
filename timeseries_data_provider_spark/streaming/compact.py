"""Small-file compaction for the streaming metrics sink.

The collector appends one parquet file per tick per series partition
(reference writes one point per tick, index.js:250-257) — at a 1-second
cadence that is ~86k files/partition/day, which kills scan planning
(file listing) and parquet footer overhead long before data volume
matters. Compaction rewrites a partition's many small files into a few
time-sorted ones; time-sorting also gives parquet row-group min/max
stats their pruning power for range scans.

Run cadence: the collector never calls it. ``compact_all`` is a
maintenance call the operator runs, and it must still be serialized
with ingestion — between ticks or with the collector stopped, never
beside a running one. CONCURRENCY CONTRACT
(review finding, same as retention.py): the swap is crash-atomic but
NOT safe against a concurrent writer — a file appended between the
rewrite's scan and the rename is swept away with the old directory.
Never schedule it beside a live writer on plain parquet;
Delta/Iceberg (OPTIMIZE / rewrite_data_files, transactional) is the
lift when maintenance must run out-of-band.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import SparkSession


def compact_partition(
    spark: SparkSession,
    table_path: str,
    name: str,
    target_files: int = 1,
    time_col: str = "time",
) -> tuple[int, int]:
    """Rewrite series ``name``'s partition into ``target_files``
    time-sorted files. Returns (files_before, files_after). Atomic swap
    like retention (write aside, rename)."""
    part_dir = os.path.join(table_path, f"name={name}")
    if not os.path.isdir(part_dir):
        return (0, 0)
    before = [
        f
        for f in os.listdir(part_dir)
        if f.endswith(".parquet") and not f.startswith(".")
    ]
    if len(before) <= target_files:
        return (len(before), len(before))
    df = (
        spark.read.parquet(part_dir)
        .repartition(target_files)
        .sortWithinPartitions(time_col)
    )
    tmp_dir = os.path.join(
        os.path.dirname(table_path), f".compact-{name}-{uuid.uuid4().hex}"
    )
    df.write.mode("overwrite").parquet(tmp_dir)
    # rename-aside swap (see retention.py): old OR new visible at every
    # instant, old deleted only after the new partition is in place
    old_dir = os.path.join(
        os.path.dirname(table_path), f".retired-{name}-{uuid.uuid4().hex}"
    )
    os.rename(part_dir, old_dir)
    os.rename(tmp_dir, part_dir)
    shutil.rmtree(old_dir)
    for marker in ("_SUCCESS",):
        p = os.path.join(part_dir, marker)
        if os.path.exists(p):
            os.remove(p)
    after = [
        f
        for f in os.listdir(part_dir)
        if f.endswith(".parquet") and not f.startswith(".")
    ]
    return (len(before), len(after))


def compact_all(
    spark: SparkSession, table_path: str, target_files: int = 1
) -> dict[str, tuple[int, int]]:
    """Compact every series partition under the table."""
    out: dict[str, tuple[int, int]] = {}
    if not os.path.isdir(table_path):
        return out
    for entry in sorted(os.listdir(table_path)):
        if entry.startswith("name="):
            series = entry.split("=", 1)[1]
            out[series] = compact_partition(
                spark, table_path, series, target_files
            )
    return out

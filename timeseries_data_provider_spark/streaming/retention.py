"""Retention: the reference's auto-remove pass
(/root/reference/index.js:268-282) — ``DELETE FROM "<name>" WHERE time
< '<cutoff>'`` with cutoff = now − age seconds, UTC, strict ``<``
(index.js:272-273).

On plain parquet (no Delta in this container) a delete is a partition
rewrite: read ONLY the series' partition, keep survivors
(``time >= cutoff``), atomically swap the partition directory. Writes
never touch other series — the same partition pruning that serves
queries bounds maintenance I/O. On Delta/Iceberg this whole module
collapses to ``DELETE FROM metrics WHERE name = ? AND time < ?``.

CONCURRENCY CONTRACT (review finding): the swap is crash-ATOMIC (old
or new visible at any instant) but NOT safe against a concurrent
WRITER — a file appended to the partition between the rewrite's scan
and the rename is swept into the retired dir and deleted. Retention
must therefore run serialized with ingestion: the collector calls it
from inside its own tick (the reference's single setInterval loop,
index.js:268-282, has the same property by construction). Plain
parquet has no transaction log to detect the race; Delta/Iceberg is
the lift when maintenance must run out-of-band.
"""

from __future__ import annotations

import os
import shutil
import uuid
from datetime import datetime, timedelta, timezone

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F


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
    # the write fills the survivor count: no second job re-reads tmp_dir
    observed = Observation()
    survivors = (
        spark.read.parquet(part_dir)
        .filter(F.col("time") >= F.lit(cutoff).cast("timestamp_ntz"))
        .observe(observed, F.count(F.lit(1)).alias("n"))
        .coalesce(1)
    )
    tmp_dir = os.path.join(
        os.path.dirname(table_path), f".retention-{name}-{uuid.uuid4().hex}"
    )
    survivors.write.mode("overwrite").parquet(tmp_dir)
    n = observed.get["n"]
    # swap via rename-aside: old data is renamed out of the way, the new
    # partition renamed in, and only THEN is the old data deleted — a
    # crash at any point leaves either the old or the new data intact
    # (rmtree-then-rename had a window where the partition was gone and
    # survivors stranded in a hidden tmp dir, ADVICE r1). Both aside
    # dirs live outside table_path so partition discovery never sees
    # them.
    old_dir = os.path.join(
        os.path.dirname(table_path), f".retired-{name}-{uuid.uuid4().hex}"
    )
    os.rename(part_dir, old_dir)
    os.rename(tmp_dir, part_dir)
    shutil.rmtree(old_dir)
    # drop _SUCCESS marker files inside a partition dir — they confuse
    # partition discovery on subsequent reads of the root table
    for marker in ("_SUCCESS",):
        p = os.path.join(part_dir, marker)
        if os.path.exists(p):
            os.remove(p)
    return n

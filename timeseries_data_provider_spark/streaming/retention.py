"""Retention: the reference's auto-remove pass
(/root/reference/index.js:268-282) — ``DELETE FROM "<name>" WHERE time
< '<cutoff>'`` with cutoff = now − age seconds, UTC, strict ``<``
(index.js:272-273; the same rule as ``core.retention_filter``).

On plain parquet (no Delta in this container) a delete is a partition
rewrite: read ONLY the series' partition, keep survivors
(``time >= cutoff``), swap the partition directory. Writes never touch
other series — the same partition pruning that serves queries bounds
maintenance I/O. On Delta/Iceberg this whole module collapses to
``DELETE FROM metrics WHERE name = ? AND time < ?``.

The driver writes the metrics table and reads it for ``/query``; Spark
runs the declared queries and the corpus/crawl rewrites. One series is
small (the reference deletes from one small series per pass), so the
rewrite runs on the driver with pyarrow, like the collector's append:
no Spark job, and none of the ``chmod`` child processes Hadoop's local
file system starts for every file it creates. This module owns the
metrics file format: ``_ARROW_SCHEMA``, ``series_table`` and
``write_series_file`` serve both the append and the rewrite, and
``read_series`` serves ``/query``. Spark still rewrites the
corpus/crawl datasets, through the same ``swap_dir``.

The rewrite is also the compaction. The collector appends one parquet
file per tick per series (index.js:250-257) — at a 1-second cadence
that is ~86k files per partition per day, which kills scan planning
(file listing) and footer overhead long before data volume matters.
The rewrite leaves ONE file sorted on ``time``, and the sort gives the
parquet row-group min/max stats their pruning power for range scans.
The collector runs it with retention's cadence, and also, keeping
every row, once ``ingest.COMPACT_EVERY`` appends have landed since a
series' last rewrite, so a series gains at most that many files
between two rewrites.

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

``read_series`` and ``swap_dir`` share one in-process lock: a read
holds it shared from listing a partition through reading its files,
and a swap holds it exclusive around its two renames. So a read never
opens a file a swap has just moved aside, and never finds a series
between the renames. The append takes no lock: it renames in a whole
new file, which a read sees entirely or not at all. The lock covers
one process; a reader in another process still races the swap.

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

import functools
import os
import shutil
import threading
import uuid
from contextlib import contextmanager
from datetime import datetime, timedelta, timezone
from typing import Callable, Iterator

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark import SparkContext
from pyspark.sql import SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

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
# the NTZ time maps to a zone-less µs timestamp, which Spark reads back
# as timestamp_ntz: no session timezone touches it
_ARROW_SCHEMA = to_arrow_schema(SERIES_SCHEMA)

# aside copies live inside the root: partition discovery skips
# dot-prefixed directories, and recovery stays scoped to one root
SWAP_DIR = ".swap"


class _SharedLock:
    """Many holders in shared mode, or one in exclusive mode. A waiting
    exclusive holder keeps new shared holders out, so a stream of reads
    cannot starve a swap."""

    def __init__(self) -> None:
        self._cond = threading.Condition()
        self._shared = 0
        self._exclusive = False

    @contextmanager
    def shared(self) -> Iterator[None]:
        with self._cond:
            self._cond.wait_for(lambda: not self._exclusive)
            self._shared += 1
        try:
            yield
        finally:
            with self._cond:
                self._shared -= 1
                self._cond.notify_all()

    @contextmanager
    def exclusive(self) -> Iterator[None]:
        with self._cond:
            self._cond.wait_for(lambda: not self._exclusive)
            self._exclusive = True
            self._cond.wait_for(lambda: not self._shared)
        try:
            yield
        finally:
            with self._cond:
                self._exclusive = False
                self._cond.notify_all()


_SWAP_LOCK = _SharedLock()


@functools.lru_cache(maxsize=4096)
def series_entry(name: str) -> str:
    """The partition directory of series ``name``, relative to the
    table root, with the value escaped exactly as Spark's partitioned
    writer escapes it (``cpu:load`` → ``name=cpu%3Aload``; a ``/``
    never survives, so the entry is one path component). The escape
    depends on the name alone, so each name costs one JVM call per
    process. Needs a started Spark context."""
    catalog = SparkContext._jvm.org.apache.spark.sql.catalyst.catalog
    return f"name={catalog.ExternalCatalogUtils.escapePathName(name)}"


def series_table(times: list[datetime], values: list[float]) -> pa.Table:
    """Rows of the stored schema, from zone-less UTC times."""
    return pa.Table.from_pydict(
        {"time": times, "value": values}, schema=_ARROW_SCHEMA
    )


def write_series_file(table: pa.Table, path: str) -> None:
    """Write one metrics file (``time``, ``value``). No Arrow schema is
    embedded: Spark reads the parquet types as ``SERIES_SCHEMA``."""
    pq.write_table(table, path, store_schema=False)


def _listing(part_dir: str) -> ds.Dataset | None:
    """The files of one series partition, as listed now (dataset
    discovery skips Spark's ``_SUCCESS`` and ``.crc`` side files);
    None if the series has no directory yet."""
    try:
        return ds.dataset(part_dir, schema=_ARROW_SCHEMA, format="parquet")
    except FileNotFoundError:
        return None


def read_series(
    root: str, names: list[str], t_from: datetime, t_to: datetime
) -> list[pa.Table]:
    """The stored rows of each series in ``names``, in that order, with
    ``t_from <= time <= t_to`` (zone-less UTC, inclusive at both ends,
    as ``core.query_range``), read on the driver from the partitions as
    they are on disk when the call lists them. A series with no
    directory reads empty. Rows come in file order: sort them."""
    dirs = [os.path.join(root, series_entry(name)) for name in names]
    keep = (ds.field("time") >= t_from) & (ds.field("time") <= t_to)
    with _SWAP_LOCK.shared():
        stored = [_listing(d) for d in dirs]
        return [
            _ARROW_SCHEMA.empty_table() if s is None else s.to_table(filter=keep)
            for s in stored
        ]


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


def swap_dir(root: str, entry: str, write: Callable[[str], object]) -> None:
    """Replace the dataset at ``<root>/<entry>`` with what ``write``
    writes: ``write(path)`` fills a fresh aside path, then the old copy
    is renamed aside, the new one renamed in, and the old deleted.
    ``write`` may read the live copy (it writes elsewhere); a Spark
    rewrite passes ``df.write.parquet``. Recovery runs on the way out,
    so a failed swap keeps or restores the old copy, and a finished one
    leaves no ``.swap`` entries."""
    live = os.path.join(root, entry)
    aside = os.path.join(root, SWAP_DIR, f"{entry}.{uuid.uuid4().hex}")
    try:
        write(aside + ".new")
        with _SWAP_LOCK.exclusive():
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
    age_seconds: int | None,
    now_epoch: float,
) -> int:
    """Delete rows of series ``name`` strictly older than the cutoff,
    leaving the survivors as one time-sorted file. ``age_seconds=None``
    deletes nothing: the rewrite is then a pure compaction.

    The rewrite runs on the driver and starts no Spark job (``spark``
    is not used): it reads the partition with the stored schema, keeps
    ``time >= cutoff``, sorts on ``time`` and swaps in one file. The
    survivors of one series are held in driver memory, about 16 B per
    row and twice that while they are sorted (a 1 Hz series kept for
    30 days is 2.6M rows, about 41 MB).

    Returns the number of surviving rows. No-op if the partition does
    not exist yet.
    """
    entry = series_entry(name)
    stored = _listing(os.path.join(table_path, entry))
    if stored is None:
        return 0
    keep = None
    if age_seconds is not None:
        keep = ds.field("time") >= retention_cutoff(age_seconds, now_epoch)
    survivors = stored.to_table(filter=keep).sort_by("time")

    def write(path: str) -> None:
        os.makedirs(path)
        part = os.path.join(path, f"part-{uuid.uuid4().hex}.parquet")
        write_series_file(survivors, part)

    swap_dir(table_path, entry, write)
    return survivors.num_rows

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

``read_series`` answers from one process-wide cache of decoded rows,
which, like the lock, covers one process. A stored file is never
changed once written (appends and rewrites rename in new uuid-named
files), so a file's rows are cached under the key
``(path, size, mtime_ns)``, taken from the listing. The cached unit is
one row group, sorted on ``(time, value)`` when it is decoded, with the
footer's per-row-group ``time`` min/max kept beside it; a read decodes
only the row groups whose bounds overlap its range, and cuts each one
by binary search on its µs times. Every read replaces its partition's
entry with the files it just listed, so a swapped or trimmed partition
drops its old files at once. The decoded arrays of all partitions stay
under ``CACHE_BYTES``; past it, whole partitions are evicted, least
recently read first.

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
from collections import OrderedDict
from contextlib import contextmanager
from datetime import datetime, timedelta, timezone
from typing import Callable, Iterator

import numpy as np
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

# the most decoded bytes the /query cache holds, over all partitions
CACHE_BYTES = 256 << 20


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


# A stored file as a listing names it, which is also its cache key:
# (path, size in bytes, mtime in ns).
FileKey = tuple[str, int, int]
# A decoded row group: its µs times and values, sorted on (time, value).
Rows = tuple[np.ndarray, np.ndarray]


def _listing(part_dir: str) -> list[FileKey] | None:
    """The files of one series partition, as listed now, skipping
    Spark's ``_SUCCESS`` and ``.crc`` side files as dataset discovery
    does; None if the series has no directory yet."""
    try:
        with os.scandir(part_dir) as entries:
            return [
                (e.path, st.st_size, st.st_mtime_ns)
                for e in entries
                if not e.name.startswith(("_", ".")) and e.is_file()
                for st in (e.stat(),)
            ]
    except FileNotFoundError:
        return None


class _File:
    """What the cache holds of one stored file: each row group's
    ``(min, max)`` µs time from the footer (None when the footer has no
    statistics), and the row groups decoded so far, by index."""

    __slots__ = ("bounds", "groups")

    def __init__(self, bounds: list[tuple[int, int] | None]) -> None:
        self.bounds = bounds
        self.groups: dict[int, Rows] = {}


def _nbytes(files: dict[FileKey, _File]) -> int:
    return sum(
        t.nbytes + v.nbytes for f in files.values() for t, v in f.groups.values()
    )


def _time_bounds(meta: pq.FileMetaData) -> list[tuple[int, int] | None]:
    col = meta.schema.names.index("time")
    bounds = []
    for i in range(meta.num_row_groups):
        stats = meta.row_group(i).column(col).statistics
        if stats is None or not stats.has_min_max:
            bounds.append(None)
            continue
        lo, hi = pa.array([stats.min, stats.max], _ARROW_SCHEMA.field("time").type)
        bounds.append((lo.value, hi.value))
    return bounds


def _decode(stored: pq.ParquetFile, group: int) -> Rows:
    rows = stored.read_row_group(group, columns=["time", "value"])
    times = rows.column("time").cast(_ARROW_SCHEMA.field("time").type)
    times = times.cast(pa.int64()).to_numpy()
    values = rows.column("value").cast(pa.float64()).to_numpy()
    if len(times) > 1 and not (times[1:] > times[:-1]).all():
        order = np.lexsort((values, times))
        times, values = times[order], values[order]
    return times, values


class _RowCache:
    """Decoded row groups of stored files, per partition directory, in
    least-recently-read order. ``lock`` guards every field and every
    ``_File`` reachable from ``parts``; decodes run outside it."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.parts: OrderedDict[str, dict[FileKey, _File]] = OrderedDict()
        self.nbytes = 0

    def read(
        self, part_dir: str, listed: list[FileKey], lo: int, hi: int,
        cap: int | None,
    ) -> Rows:
        """The rows of the listed files with ``lo <= time <= hi`` (µs),
        sorted on ``(time, value)``, the first ``cap`` of them."""
        # the partition's entry becomes the listed files, most recent;
        # a partition with no files keeps no entry
        with self.lock:
            cached = self.parts.pop(part_dir, {})
            part = {key: cached.pop(key) for key in listed if key in cached}
            self.nbytes -= _nbytes(cached)
            if listed:
                self.parts[part_dir] = part
            known = {key: (f, dict(f.groups)) for key, f in part.items()}
        # footers of new files and row groups in range not yet decoded
        fresh: dict[FileKey, _File] = {}
        decoded: list[tuple[FileKey, int, Rows]] = []
        slices: list[Rows] = []
        for key in listed:
            f, groups = known.get(key, (None, {}))
            stored = None
            try:
                if f is None:
                    stored = pq.ParquetFile(key[0])
                    f = fresh[key] = _File(_time_bounds(stored.metadata))
                for i, bound in enumerate(f.bounds):
                    if bound is not None and (bound[1] < lo or bound[0] > hi):
                        continue
                    rows = groups.get(i)
                    if rows is None:
                        if stored is None:
                            stored = pq.ParquetFile(key[0])
                        rows = _decode(stored, i)
                        decoded.append((key, i, rows))
                    slices.append(_cut(rows, lo, hi, cap))
            finally:
                if stored is not None:
                    stored.close()
        # kept unless another read has replaced the entry meanwhile;
        # only the read that made an entry adds to it
        with self.lock:
            if self.parts.get(part_dir) is part:
                part.update(fresh)
                for key, i, rows in decoded:
                    part[key].groups[i] = rows
                    self.nbytes += rows[0].nbytes + rows[1].nbytes
            while self.nbytes > CACHE_BYTES:
                self.nbytes -= _nbytes(self.parts.popitem(last=False)[1])
        return _merge([s for s in slices if len(s[0])], cap)


def _cut(rows: Rows, lo: int, hi: int, cap: int | None) -> Rows:
    times, values = rows
    start = times.searchsorted(lo, "left")
    end = times.searchsorted(hi, "right")
    if cap is not None:
        end = min(end, start + cap)
    return times[start:end], values[start:end]


def _merge(slices: list[Rows], cap: int | None) -> Rows:
    if not slices:
        return np.empty(0, np.int64), np.empty(0, np.float64)
    if len(slices) == 1:
        return slices[0]
    times = np.concatenate([t for t, _ in slices])
    values = np.concatenate([v for _, v in slices])
    order = np.lexsort((values, times))[:cap]
    return times[order], values[order]


_CACHE = _RowCache()


def _micros(t: datetime) -> int:
    return (t - datetime(1970, 1, 1)) // timedelta(microseconds=1)


def read_series(
    root: str,
    names: list[str],
    t_from: datetime,
    t_to: datetime,
    max_points: int | None = None,
) -> list[pa.Table]:
    """The stored rows of each series in ``names``, in that order, with
    ``t_from <= time <= t_to`` (zone-less UTC, inclusive at both ends,
    as ``core.query_range``), sorted on ``(time, value)`` and cut to
    the first ``max_points``. They are read on the driver from the
    partitions as they are on disk when the call lists them, through
    the cache. A series with no directory reads empty."""
    dirs = [os.path.join(root, series_entry(name)) for name in names]
    lo, hi = _micros(t_from), _micros(t_to)
    out = []
    with _SWAP_LOCK.shared():
        for part_dir, listed in [(d, _listing(d)) for d in dirs]:
            times, values = _CACHE.read(part_dir, listed or [], lo, hi, max_points)
            out.append(
                pa.table(
                    [pa.array(times.view("datetime64[us]")), values],
                    schema=_ARROW_SCHEMA,
                )
            )
    return out


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
    listed = _listing(os.path.join(table_path, entry))
    if listed is None:
        return 0
    stored = ds.dataset(
        [path for path, _, _ in listed], schema=_ARROW_SCHEMA, format="parquet"
    )
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

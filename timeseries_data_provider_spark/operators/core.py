"""Core operators — the reference's own query surface on Spark.

Each function cites the reference behavior it re-expresses
(/root/reference/index.js, see SURVEY.md §2 inventory). The reference
delegated execution to InfluxDB by string-building InfluxQL; here the
same semantics are declared through the DataFrame API and Catalyst picks
the physical plan (filter/limit/column pushdown to the parquet scan,
partition pruning on the series name, broadcast for the tiny config
dimension).
"""

from __future__ import annotations

from collections.abc import Sequence
from datetime import datetime

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..tables import NS_SUFFIX

# ---------------------------------------------------------------------------
# helpers


def _ts_lit(t: str | datetime) -> Column:
    """A TIMESTAMP_NTZ literal from a 'yyyy-MM-dd HH:mm:ss' string.

    NTZ keeps the comparison wall-clock-based and independent of the
    session time zone — matching both the reference (UTC everywhere,
    index.js:272) and the DuckDB oracle's naive timestamps.
    """
    if isinstance(t, datetime):
        return F.lit(t).cast("timestamp_ntz")
    return F.to_timestamp_ntz(F.lit(t))


def _ns_lit(t: str | datetime) -> int:
    """Epoch-nanoseconds int for pushdown-friendly raw-column filters.

    Derived exactly from the timedelta's integer components —
    ``total_seconds()`` goes through a float and can truncate 1µs off
    sub-second bounds, which would make the raw-ns pushdown branch
    disagree with the ``_ts_lit`` branch exactly at an inclusive
    boundary (ADVICE r1)."""
    if isinstance(t, str):
        t = datetime.fromisoformat(t)
    delta = t - datetime(1970, 1, 1)
    us = (delta.days * 86_400 + delta.seconds) * 1_000_000 + delta.microseconds
    ns = us * 1_000
    # Clamp to the int64-ns domain (review finding): bounds past
    # 2262-04-11 (e.g. serving's open-ended default '9999-12-31')
    # exceed 2^63-1 and F.lit raised NumberFormatException — an HTTP
    # 500 on the raw-ns branch for a request the timestamp branch
    # serves fine. No stored int64-ns value can exceed the clamp, so
    # a clamped bound is semantically the same open-ended range.
    return max(-(2**63), min(ns, 2**63 - 1))


def epoch_ms(col: Column) -> Column:
    """RFC3339/timestamp → epoch milliseconds (reference index.js:121-123,
    ``Number.parseInt(moment(t).format("x"))``). Truncating (floor)
    conversion, as ``parseInt`` truncates."""
    return F.unix_millis(col.cast("timestamp")).alias("ms")


# ---------------------------------------------------------------------------
# O6 — /search: name projection


def search_series(events: DataFrame) -> DataFrame:
    """Distinct series names, the `/search` analog.

    Reference: ``config.proxy.filter(p => p.active).map(p => p.name)``
    (index.js:76-80). Over the long-format series table the equivalent
    is a distinct projection of the series-name column.
    """
    return events.select(F.col("event_type").alias("name")).distinct()


# ---------------------------------------------------------------------------
# O8 — range scan with projection (inclusive bounds on BOTH ends)


def query_range(
    events: DataFrame,
    series: str | Sequence[str],
    t_from: str | datetime,
    t_to: str | datetime,
    max_points: int | None = None,
    series_col: str = "event_type",
    time_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """The reference's core read query (index.js:106):

    ``SELECT "value","time" FROM <t> WHERE time >= from AND time <= to
    LIMIT n`` — bounds inclusive on BOTH ends, InfluxQL's implicit
    time-ASC order makes LIMIT = earliest-N.

    Scale behavior: when the frame still carries the raw int64-nanos
    column (``<time_col>__ns``, tables.py), the range predicate is
    applied to the raw int64 so parquet row-group statistics and
    predicate pushdown apply; otherwise it filters the converted
    timestamp. Multi-series requests (index.js:97-110 ran one InfluxDB
    query per target, gathered with Promise.all) collapse into ONE scan
    with ``name IN (...)`` — a single job whose tasks Catalyst
    parallelizes, with partition pruning when the table is partitioned
    by series name.
    """
    names = [series] if isinstance(series, str) else list(series)
    if len(names) == 1:
        name_pred = F.col(series_col) == names[0]
    else:
        name_pred = F.col(series_col).isin(names)

    raw = time_col + NS_SUFFIX
    if raw in events.columns:
        time_pred = (F.col(raw) >= F.lit(_ns_lit(t_from))) & (
            F.col(raw) <= F.lit(_ns_lit(t_to))
        )
    else:
        time_pred = (F.col(time_col) >= _ts_lit(t_from)) & (
            F.col(time_col) <= _ts_lit(t_to)
        )

    out = events.filter(name_pred & time_pred)
    if max_points is not None:
        # Time-ASC LIMIT (earliest-N); tie-broken on event_id when present
        # so the result set is deterministic (InfluxQL time order is only
        # total because Influx dedupes on time — we must tie-break).
        order = [time_col] + (["event_id"] if "event_id" in out.columns else [])
        out = out.orderBy(*order).limit(max_points)
    return out


# ---------------------------------------------------------------------------
# O7 — point lookup join (findProxy, index.js:28-32)


def lookup_join(
    facts: DataFrame,
    dim: DataFrame,
    on: Column | str,
    how: str = "inner",
) -> DataFrame:
    """Resolve keys against a small dimension via broadcast hash join.

    Reference ``findProxy(name) = config.proxy.find(p => p.name === ...)``
    (index.js:28-32) is a linear probe of an in-memory config array —
    the Spark-native equivalent at scale is a broadcast of the small
    side so no shuffle of the fact table occurs. Unknown/inactive
    targets are *silently dropped* by the reference (index.js:103);
    inner-join semantics reproduce that, ``how='left'`` keeps them.
    """
    return facts.join(F.broadcast(dim), on, how)


# ---------------------------------------------------------------------------
# O16 — retention: strict `<` cutoff (index.js:272-273)


def retention_filter(
    df: DataFrame, cutoff: str | datetime, time_col: str = "ts"
) -> DataFrame:
    """Rows that *survive* retention: ``NOT (time < cutoff)``.

    The reference deletes via ``DELETE FROM t WHERE time < cutoff``
    with a strict `<` bound (index.js:273); survivors are
    ``time >= cutoff``."""
    return df.filter(F.col(time_col) >= _ts_lit(cutoff))


def expired_count(
    df: DataFrame, cutoff: str | datetime, time_col: str = "ts"
) -> DataFrame:
    """COUNT of rows the retention pass would delete (strict ``<``)."""
    return df.filter(F.col(time_col) < _ts_lit(cutoff)).agg(
        F.count(F.lit(1)).alias("n")
    )


# ---------------------------------------------------------------------------
# O2 — scalar extraction from a JSON response body (config.js.dist:25-35)


def json_scalar(df: DataFrame, json_col: str, path: str, out: str = "k_val") -> DataFrame:
    """Per-source ``transformResponse`` as a declarative JSON-path
    extraction: ``get_json_object`` runs JVM-side (no Python UDF in the
    hot path). Nulls (extraction failures) mirror the reference's
    error-object / undefined-guard path (index.js:246) and can be
    dropped with ``.filter(col(out).isNotNull())``."""
    return df.withColumn(out, F.get_json_object(F.col(json_col), path).cast("double"))


# ---------------------------------------------------------------------------
# O13/O14 — Grafana result shapes (driver-side encoding in serving/, the
# distributed projections live here)


def table_shape(
    events: DataFrame,
    series_col: str = "event_type",
    time_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Grafana *table* row projection ``[name, value, time]``
    (index.js:131-135: the measurement name is prepended to each
    datapoint; column metadata at index.js:142-146)."""
    return events.select(
        F.col(series_col).alias("target"), F.col(value_col).alias("value"), F.col(time_col).alias("ts")
    )

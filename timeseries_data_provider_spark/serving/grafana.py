"""Grafana SimpleJSON-datasource contract
(/root/reference/index.js:52-187), re-expressed over the Spark engine.

Endpoints (reference routes):
- ``/``            → health ping (index.js:64-70)
- ``/search``      → active series names (index.js:72-84)
- ``/query``       → range query, timeseries/table shapes (index.js:86-157)
- ``/annotations`` ``/tag-keys`` ``/tag-values`` → ``[]`` stubs
  (index.js:159-181)

``handle_query`` and the auth validator live here; http_server.py
answers ``/search`` from the known series and the stubs itself.
- Basic Auth validator (index.js:20-26, wired :55-61)

Deliberate divergences from reference defects (SURVEY.md §4.3):
1. multiple ``table`` targets UNION their rows (the reference's
   last-writer-wins assignment at index.js:131 drops all but one);
2. query errors produce an error payload / HTTP 500 (the reference
   swallows them and responds nothing, index.js:153-155); a malformed
   body (``BadQuery``, or not JSON) gets HTTP 400, as hapi answered;
3. unknown or inactive targets are dropped *explicitly* (the reference
   reaches the same outcome by crashing into its catch handler,
   index.js:29-31 + :103).

Spark is not a low-latency point-query server. ``serve()`` holds the
metrics as a plain, uncached DataFrame over the parquet table, so each
``/query`` plans and scans the pruned ``name=<s>`` files afresh; every
response is bounded by ``maxDataPoints``, so the driver-side collect()
is capped by construction.
"""

from __future__ import annotations

import hmac
from datetime import datetime, timezone
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.core import epoch_ms, query_range

# Fixed table-shape column metadata (index.js:142-146).
TABLE_COLUMNS = [
    {"text": "Target", "type": "string"},
    {"text": "Value", "type": "number"},
    {"text": "Time", "type": "time"},
]


class BadQuery(ValueError):
    """A ``/query`` body outside the SimpleJSON request shape. Raised
    before any Spark work; the HTTP adapter answers it with 400."""


def _range_bound(raw: Any, default: str) -> str:
    """Normalize a Grafana range bound to 'yyyy-MM-dd HH:mm:ss[.ffffff]'.

    Grafana sends BOTH forms depending on panel/version: ISO-8601
    strings ('2024-01-02T00:00:00.000Z') and epoch-milliseconds
    numbers (or numeric strings). moment() in the reference accepted
    both (index.js:96-99); so do we (VERDICT r1 #9). Anything else
    raises BadQuery."""
    if raw is None:
        return default
    if isinstance(raw, bool):  # bool is an int subclass — never a time
        return default
    try:
        if isinstance(raw, (int, float)) or (
            isinstance(raw, str) and raw.strip().lstrip("-").isdigit()
        ):
            ms = int(raw)
            dt = datetime.fromtimestamp(ms / 1000.0, tz=timezone.utc)
            # exact sub-second from integer millis (avoid float rounding)
            dt = dt.replace(microsecond=(ms % 1000) * 1000)
            return dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        bound = str(raw).replace("T", " ").rstrip("Z")
        datetime.fromisoformat(bound)  # the parser _ns_lit applies
        return bound
    except (ValueError, OverflowError, OSError):
        raise BadQuery(f"unparseable range bound {raw!r}") from None


def handle_query(
    payload: dict[str, Any],
    metrics: DataFrame,
    known_series: set[str] | None = None,
) -> list[dict[str, Any]]:
    """`/query` (index.js:86-157).

    payload: ``{targets: [{target, type}], range: {from, to},
    maxDataPoints}`` — the Grafana SimpleJSON request shape.

    All requested series run as ONE Spark job (name IN (...) with
    partition pruning) instead of the reference's per-target fan-out
    (index.js:97-110); the collect() is the Promise.all barrier. With
    ``maxDataPoints`` that job is also one stage and one task: the
    pruned, filtered scan is coalesced to one partition before the
    per-series cap, so the cap's window needs no Exchange.

    Scale: after a retention pass a series is one file, which is one
    scan task already, so the coalesce only serialises the k targets
    of one panel (a handful); the output is at most
    ``k × maxDataPoints`` rows either way.

    A body of any other shape (not an object, non-list ``targets``,
    non-object targets or ``range``, an unparseable range bound, a
    ``maxDataPoints`` that is not a positive integer) raises BadQuery
    before any Spark work.
    """
    if not isinstance(payload, dict):
        raise BadQuery("/query body must be a JSON object")
    targets = payload.get("targets") or []
    rng = payload.get("range") or {}
    if not isinstance(targets, list) or not all(
        isinstance(t, dict) for t in targets
    ):
        raise BadQuery("targets must be a list of objects")
    if not isinstance(rng, dict):
        raise BadQuery("range must be an object")
    t_from = _range_bound(rng.get("from"), "1970-01-01 00:00:00")
    t_to = _range_bound(rng.get("to"), "9999-12-31 00:00:00")
    max_points = payload.get("maxDataPoints")
    if max_points is not None and (
        isinstance(max_points, bool)
        or not isinstance(max_points, int)
        or max_points < 1
    ):
        raise BadQuery("maxDataPoints must be a positive integer")

    target_types: dict[str, str] = {}
    names: list[str] = []
    for t in targets:
        name = t.get("target")
        if not name:
            continue
        if known_series is not None and name not in known_series:
            continue  # explicit unknown/inactive drop (divergence 3)
        if name in target_types:
            # a payload naming the same target twice must not emit the
            # series twice / double table rows; first type wins
            # (ADVICE r1)
            continue
        names.append(name)
        target_types[name] = t.get("type", "timeseries")
    if not names:
        return []

    # ONE scan for every requested series (the docstring's contract —
    # review finding: this used to build one query_range subtree PER
    # target and union them, N scans of the source per /query): the
    # name IN (...) predicate prunes partitions, and the per-series
    # maxDataPoints cap is a window rank over the pruned rows instead
    # of a per-target global limit. Ties beyond (time) break on the
    # value column so the capped point set is deterministic (the
    # metrics schema has no row id; full-duplicate rows are then
    # interchangeable). The coalesce sits above the pruned, pushed-down
    # scan; its single partition already satisfies the window's
    # clustering on name, so the planner adds no Exchange and the
    # row_number filter still becomes a WindowGroupLimit.
    from pyspark.sql import Window

    # METRICS_SCHEMA's series and time columns
    df = query_range(metrics, names, t_from, t_to, None, "name", "time")
    if max_points is not None:
        w = Window.partitionBy("name").orderBy("time", "value")
        df = (
            df.coalesce(1)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= max_points)
            .drop("__rn")
        )
    union = df.select("name", "value", epoch_ms(F.col("time")))

    grouped: dict[str, list[list[Any]]] = {n: [] for n in names}
    for row in union.collect():
        grouped[row["name"]].append([row["value"], row["ms"]])
    # InfluxQL results are implicitly time-ASC (the reference relied on
    # that, index.js:106); a distributed collect is not — sort here.
    for points in grouped.values():
        points.sort(key=lambda p: p[1])

    response: list[dict[str, Any]] = []
    table_rows: list[list[Any]] = []
    for name in names:
        datapoints = grouped.get(name, [])
        if target_types[name] == "table":
            # prepend series name (index.js:131-135); UNION across
            # table targets (divergence 1)
            table_rows.extend([[name, v, ms] for v, ms in datapoints])
        else:
            if datapoints:
                response.append({"target": name, "datapoints": datapoints})
    if table_rows:
        response.append(
            {"columns": TABLE_COLUMNS, "rows": table_rows, "type": "table"}
        )
    return response


def _same_secret(given: str, configured: Any) -> bool:
    """Constant-time equality on UTF-8 bytes (``compare_digest`` refuses
    non-ASCII ``str``); a missing configured value never matches."""
    if not isinstance(configured, str):
        return False
    return hmac.compare_digest(
        given.encode("utf-8"), configured.encode("utf-8")
    )


def basic_auth_validator(config: dict[str, Any]):
    """Credential check factory (index.js:20-26). ``config`` mirrors
    ``config.server.auth`` — {enabled, username, password}."""

    def validate(username: str, password: str) -> bool:
        if not config.get("enabled", False):
            return True
        # both fields are always compared, so timing does not tell
        # which one was wrong
        user_ok = _same_secret(username, config.get("username"))
        pass_ok = _same_secret(password, config.get("password"))
        return user_ok and pass_ok

    return validate

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

Spark is not a low-latency point-query server, and ``/query`` does not
use it: the driver writes the metrics table and reads it for
``/query``; Spark runs the declared queries and the corpus/crawl
rewrites. Each request lists the requested ``name=<s>`` partitions as
they are on disk when it arrives (``retention.read_series``), so it
sees every append and rewrite made before it; every response is
bounded by ``maxDataPoints`` per series. The rows come sorted and
capped from ``read_series``'s cache of decoded files, so a repeated
panel refresh decodes nothing; this module only shapes them.
"""

from __future__ import annotations

import hmac
from datetime import datetime, timedelta, timezone
from typing import Any

import pyarrow as pa

from ..streaming.retention import read_series

# Fixed table-shape column metadata (index.js:142-146).
TABLE_COLUMNS = [
    {"text": "Target", "type": "string"},
    {"text": "Value", "type": "number"},
    {"text": "Time", "type": "time"},
]


class BadQuery(ValueError):
    """A ``/query`` body outside the SimpleJSON request shape. Raised
    before any read; the HTTP adapter answers it with 400."""


_EPOCH = datetime(1970, 1, 1)
_END = datetime(9999, 12, 31)


def _range_bound(raw: Any, default: datetime) -> datetime:
    """A Grafana range bound as a zone-less UTC datetime.

    Grafana sends BOTH forms depending on panel/version: ISO-8601
    strings ('2024-01-02T00:00:00.000Z') and epoch-milliseconds
    numbers (or numeric strings). moment() in the reference accepted
    both (index.js:96-99); so do we (VERDICT r1 #9). A bound with a
    UTC offset is converted to UTC, as the reference's
    ``moment(...).utc()`` did; one without is UTC already. Anything
    else raises BadQuery."""
    if raw is None:
        return default
    if isinstance(raw, bool):  # bool is an int subclass — never a time
        return default
    try:
        if isinstance(raw, (int, float)) or (
            isinstance(raw, str) and raw.strip().lstrip("-").isdigit()
        ):
            # exact from integer millis (no float rounding)
            return _EPOCH + timedelta(milliseconds=int(raw))
        bound = datetime.fromisoformat(str(raw))
        if bound.tzinfo is not None:
            bound = bound.astimezone(timezone.utc).replace(tzinfo=None)
        return bound
    except (ValueError, OverflowError):
        raise BadQuery(f"unparseable range bound {raw!r}") from None


def _points(stored: pa.Table) -> list[list[Any]]:
    """``[value, epoch ms]`` pairs of rows as ``read_series`` returns
    them. The stored µs times floor to ms, as ``core.epoch_ms`` does,
    before 1970 too."""
    ms = stored.column("time").cast(pa.int64()).to_numpy() // 1000
    values = stored.column("value").to_numpy()
    return [[v, t] for v, t in zip(values.tolist(), ms.tolist())]


def handle_query(
    payload: dict[str, Any],
    root: str,
    known_series: set[str] | None = None,
) -> list[dict[str, Any]]:
    """`/query` (index.js:86-157) over the metrics table at ``root``.

    payload: ``{targets: [{target, type}], range: {from, to},
    maxDataPoints}`` — the Grafana SimpleJSON request shape.

    The requested series are read on the driver, each from its own
    partition directory and only the row groups the range can touch,
    decoded once and then cached; no Spark job runs. As in the
    reference's InfluxQL (index.js:106), bounds are inclusive at both
    ends and the ``maxDataPoints`` cap keeps each series' earliest
    points; ties on time break on value, so the capped point set is
    deterministic.

    A body of any other shape (not an object, non-list ``targets``,
    non-object targets or ``range``, an unparseable range bound, a
    ``maxDataPoints`` that is not a positive integer) raises BadQuery
    before any read.
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
    t_from = _range_bound(rng.get("from"), _EPOCH)
    t_to = _range_bound(rng.get("to"), _END)
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
        if not name or not isinstance(name, str):
            continue  # no series is named by anything but a string
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

    response: list[dict[str, Any]] = []
    table_rows: list[list[Any]] = []
    stored = read_series(root, names, t_from, t_to, max_points)
    for name, rows in zip(names, stored):
        datapoints = _points(rows)
        if target_types[name] == "table":
            # prepend series name (index.js:131-135); UNION across
            # table targets (divergence 1)
            table_rows.extend([name, v, ms] for v, ms in datapoints)
        elif datapoints:
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

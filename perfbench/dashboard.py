"""``dashboard``: a closed loop of Grafana panel refreshes.

One client sends ``POST /query`` over HTTP to ``serve()``, one request
at a time, each on a fresh connection. The table is static, laid out
the way ``streaming.compact.compact_all`` leaves it (one time-sorted
file per series partition), so HTTP handling, ``handle_query``
construction and Spark planning and scanning do the work: no writes,
no Python workers.
"""

from __future__ import annotations

import http.client
import json
import os
import random
from datetime import datetime, timezone

from . import harness
from .harness import Result, wall

T0 = 1_704_067_200  # 2024-01-01T00:00:00Z
STEP_S = 10
MAX_POINTS = 1000
SPANS_S = (3600, 6 * 3600, 24 * 3600)
TARGET_COUNTS = (1, 2, 4)
# A pass holds every (target count, span) pair five times, one of the
# five as a table panel, so every seed sends the same mix of work.
REPEATS_PER_SHAPE = 5
PASS_S = 11  # nominal seconds of one pass on 4 cores
SETUP_REPEATS = 3
WARMUP_REQUESTS = 8

SIZES = {
    # series, days
    "full": (50, 7),
    "tiny": (4, 1),
}


class Table:
    """The static metrics table and the closed form of its values."""

    def __init__(self, seed: int, size: str) -> None:
        self.n_series, days = SIZES[size]
        self.points = days * 86400 // STEP_S
        rng = random.Random(seed)
        self.a = rng.randrange(1, 100_003)
        self.b = rng.randrange(1, 100_003)
        self.names = [f"s{i:02d}" for i in range(self.n_series)]

    def value(self, series: int, k: int) -> float:
        return ((k * self.a + series * self.b) % 100_003) / 100.0

    def write(self, spark, path: str) -> None:
        """One range slice per series, already in time order, so each
        task writes its series' single file without a shuffle."""
        from pyspark.sql import functions as F

        i = (F.col("id") / self.points).cast("long")
        k = F.col("id") % self.points
        (
            spark.range(0, self.n_series * self.points, 1, self.n_series)
            .select(
                F.format_string("s%02d", i.cast("int")).alias("name"),
                F.timestamp_seconds(F.lit(T0) + k * STEP_S)
                .cast("timestamp_ntz")
                .alias("time"),
                (((k * self.a + i * self.b) % 100_003) / 100.0).alias("value"),
            )
            .write.partitionBy("name")
            .parquet(path)
        )

    def expected(self, series: int, t_from: int, t_to: int) -> list[list]:
        """The points ``handle_query`` must return for one target."""
        k_lo = -(-(t_from - T0) // STEP_S)
        k_hi = min(self.points - 1, (t_to - T0) // STEP_S)
        k_hi = min(k_hi, k_lo + MAX_POINTS - 1)
        return [
            [self.value(series, k), (T0 + k * STEP_S) * 1000]
            for k in range(k_lo, k_hi + 1)
        ]


def iso(epoch_s: int) -> str:
    """A range bound the way Grafana sends it."""
    return datetime.fromtimestamp(epoch_s, tz=timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%S.000Z"
    )


def make_requests(table: Table, seed: int) -> list[dict]:
    """One pass of panel refreshes: each pairing of 1, 2 or 4 targets
    with a 1 h, 6 h or 24 h span, five times, one of them as a table
    panel. The seed picks the series, the offsets and the order."""
    rng = random.Random(seed * 7919 + 1)
    horizon = table.points * STEP_S
    out = []
    for count in TARGET_COUNTS:
        for span in SPANS_S:
            span = min(span, horizon - STEP_S)
            count = min(count, table.n_series)
            for rep in range(REPEATS_PER_SHAPE):
                kind = "table" if rep == 0 else "timeseries"
                offset = rng.randrange(0, (horizon - span) // STEP_S + 1) * STEP_S
                series = rng.sample(range(table.n_series), count)
                out.append(_request(table, series, T0 + offset, span, kind))
    rng.shuffle(out)
    return out


def _request(table: Table, series: list[int], t_from: int, span: int, kind: str):
    return {
        "series": series,
        "from": t_from,
        "to": t_from + span,
        "kind": kind,
        "payload": {
            "targets": [
                {"target": table.names[s], "type": kind, "refId": str(j)}
                for j, s in enumerate(series)
            ],
            "range": {"from": iso(t_from), "to": iso(t_from + span)},
            "maxDataPoints": MAX_POINTS,
        },
    }


def check_response(table: Table, req: dict, status: int, body: bytes) -> bool:
    """Every target gets the closed-form points: count, first and last
    ``ms``, ascending time, values, and no more than maxDataPoints."""
    if status != 200:
        return False
    try:
        resp = json.loads(body)
    except ValueError:
        return False
    want = {
        table.names[s]: table.expected(s, req["from"], req["to"])
        for s in req["series"]
    }
    if req["kind"] == "table":
        rows = [
            [name, v, ms]
            for s in req["series"]
            for name in [table.names[s]]
            for v, ms in want[name]
        ]
        return (
            len(resp) == 1
            and resp[0].get("type") == "table"
            and resp[0].get("rows") == rows
        )
    got = {item.get("target"): item.get("datapoints") for item in resp}
    return len(resp) == len(want) and all(
        got.get(name) == points and len(points) <= MAX_POINTS
        for name, points in want.items()
    )


def post(port: int, payload: dict) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request(
            "POST",
            "/query",
            body=json.dumps(payload),
            headers={"Content-Type": "application/json"},
        )
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def _serve(spark, table: Table, path: str, warm: list[dict]):
    from timeseries_data_provider_spark.serving.http_server import serve
    from timeseries_data_provider_spark.streaming.ingest import read_metrics

    server, thread = serve(read_metrics(spark, path), set(table.names))
    for req in warm:
        post(server.server_address[1], req["payload"])
    return server, thread


def _stop(server, thread) -> None:
    server.shutdown()
    server.server_close()
    thread.join()


def run(spark, seed, seconds, tracer, size, result: Result, cpu, start_s):
    path = os.path.join(os.path.abspath(harness.WORK_DIR), "dashboard")
    table = Table(seed, size)
    requests = make_requests(table, seed)
    warm = make_requests(table, seed + 1)[:WARMUP_REQUESTS]

    # Set-up: write the table once, then start the server and send the
    # warm-up requests three times; the last server is kept.
    t0 = wall()
    table.write(spark, path)
    write_s = wall() - t0
    serve_times = []
    server = None
    for _ in range(SETUP_REPEATS):
        if server is not None:
            _stop(server, thread)
        t0 = wall()
        server, thread = _serve(spark, table, path, warm)
        serve_times.append(wall() - t0)
    port = server.server_address[1]

    # Traced runs alternate traced and untraced requests over two
    # passes, so each request is timed both ways.
    passes = harness.passes(seconds, PASS_S, 2 if tracer else 1)
    by_pass: list[list[float | None]] = []
    traced_lat: list[float] = []
    pass_times: list[float] = []
    layers = tracer.layers if tracer else None
    cpu0 = cpu.sample()
    n_ops = 0
    try:
        for p in range(passes):
            latencies: list[float | None] = [None] * len(requests)
            by_pass.append(latencies)
            t_pass = wall()
            for i, req in enumerate(requests):
                traced = tracer is not None and (i + p) % 2 == 1
                if traced:
                    tracer.enabled = True
                    c0 = cpu.sample()
                t0 = wall()
                status, body = post(port, req["payload"])
                dt = wall() - t0
                n_ops += 1
                if traced:
                    tracer.enabled = False
                    _trace_request(tracer, layers, dt, body, cpu.sample() - c0)
                    traced_lat.append(dt)
                else:
                    latencies[i] = dt
                result.check(
                    check_response(table, req, status, body),
                    f"dashboard request {n_ops}: HTTP {status}",
                )
            pass_times.append(wall() - t_pass)
    finally:
        used = cpu.sample() - cpu0
        _stop(server, thread)

    setup_s = start_s + write_s + harness.median(serve_times)
    result.put("setup_s", setup_s, "s")
    harness.put_latency(result, by_pass, pass_times)
    result.put("cpu_ms_per_op", used.total_ms / n_ops, "ms")
    result.info.update(requests=n_ops, passes=passes)
    if tracer is not None:
        untraced = [dt for lat in by_pass for dt in lat if dt is not None]
        overhead = harness.median(traced_lat) - harness.median(untraced)
        layers.add("trace.overhead_ms", overhead * 1000)


def _trace_request(tracer, layers, dt: float, body: bytes, cpu) -> None:
    rec = tracer.last_query
    tracer.last_query = None
    layers.add("http.response_bytes", len(body))
    layers.add("driver.cpu_ms", cpu.driver_ms)
    layers.add("jvm.cpu_ms", cpu.jvm_ms)
    layers.add("python.cpu_ms", cpu.python_ms)
    if rec is None:
        return
    layers.add("http.self_ms", dt * 1000 - rec.ms)
    layers.add("grafana.query_ms", rec.ms)
    if rec.collects:
        layers.add("grafana.build_ms", (rec.collects[0][0] - rec.start) * 1000)
        layers.add("grafana.shape_ms", (rec.end - rec.collects[-1][1]) * 1000)
    layers.add("spark.plan_ms", rec.plan_ms)
    layers.add_all(tracer.spark_stats(rec.group))

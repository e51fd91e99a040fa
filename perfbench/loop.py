"""``loop``: the reference's own collector loop, with live read-backs.

A ``MetricsCollector`` polls 20 sources through the real
``default_fetcher``. A stdlib HTTP server in this process serves them
after a fixed 5 ms delay, and on planted ticks answers with a non-JSON
body or an HTTP error, so the failure-isolation path runs. Source
intervals are 1, 2, 5 and 10 s, so the due pattern repeats every 10
ticks; a pass is one such cycle. Every source has retention: three run
it every 5 s, so three rewrites land on two ticks of every ten; the
rest keep it hourly and it never comes due in a run. Retention ticks
are then alike, and the 90th percentile falls among them rather than
between two kinds of tick.
Time is simulated: ``tick(t)`` is called back to back at 1 s steps.

After each tick one ``/query`` goes to the server started during
set-up, asking for a point that tick just wrote. At the seed that
server never sees it: ``serve()`` holds a DataFrame whose file list was
fixed when it started, and retention's rename-and-rmtree deletes files
in that list, so a read-back is stale or fails with HTTP 500. Both are
counted as failed operations of a known defect.
"""

from __future__ import annotations

import json
import os
import random
import threading
import time
from datetime import datetime, timezone
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from . import harness
from .dashboard import iso, post
from .harness import Result, wall

BASE = 1_704_067_200  # epoch of tick 0
CYCLE = 10  # ticks after which the due pattern repeats
PASS_S = 18  # nominal seconds of one pass on 4 cores
INTERVALS = (1, 2, 5, 10)
FETCH_DELAY_S = 0.005
FAIL_RATE = 0.1
SETUP_REPEATS = 3
SIZES = {"full": 20, "tiny": 4}


def retention_of(i: int) -> tuple[int, int]:
    """(remove_interval, remove_age) of source ``i``."""
    if i < 3:
        return 5, 30
    return 3600, 3600


class Plan:
    """The closed form of what each source answers on each tick."""

    def __init__(self, seed: int, n_sources: int) -> None:
        self.seed = seed
        self.n = n_sources
        self.names = [f"src{i:02d}" for i in range(n_sources)]

    def due(self, k: int) -> list[int]:
        return [i for i in range(self.n) if k % INTERVALS[i % 4] == 0]

    def outcome(self, k: int, i: int) -> str:
        rng = random.Random(self.seed * 1_000_003 + k * 101 + i)
        r = rng.random()
        if r < FAIL_RATE / 2:
            return "nonjson"
        if r < FAIL_RATE:
            return "error"
        return "ok"

    def value(self, k: int, i: int) -> float:
        return float((k * 31 + i * 97 + self.seed) % 10_007)

    def written(self, k: int) -> list[int]:
        return [i for i in self.due(k) if self.outcome(k, i) == "ok"]


class Sources:
    """The HTTP endpoints the collector polls."""

    def __init__(self, plan: Plan) -> None:
        self.plan = plan
        self.tick = 0
        sources = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args) -> None:
                pass

            def do_GET(self) -> None:
                time.sleep(FETCH_DELAY_S)
                i = int(self.path.rsplit("/", 1)[1])
                k = sources.tick
                kind = sources.plan.outcome(k, i)
                if kind == "error":
                    self.send_response(503)
                    self.send_header("Content-Length", "0")
                    self.end_headers()
                    return
                if kind == "nonjson":
                    body = b"<html>upstream unavailable</html>"
                else:
                    body = json.dumps({"count": sources.plan.value(k, i)}).encode()
                self.send_response(200)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

        self.server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.thread.start()

    def configs(self):
        from timeseries_data_provider_spark.streaming.config import SourceConfig

        port = self.server.server_address[1]
        out = []
        for i, name in enumerate(self.plan.names):
            remove_interval, remove_age = retention_of(i)
            out.append(
                SourceConfig(
                    name=name,
                    interval=INTERVALS[i % 4],
                    remove_interval=remove_interval,
                    remove_age=remove_age,
                    url=f"http://127.0.0.1:{port}/src/{i}",
                )
            )
        return out

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self.thread.join()


class Loop:
    """One collector on its own table, with a server over that table."""

    def __init__(self, spark, plan: Plan, sources: Sources, path: str, fetcher):
        from timeseries_data_provider_spark.streaming.ingest import MetricsCollector

        self.spark = spark
        self.plan = plan
        self.sources = sources
        self.path = path
        self.collector = MetricsCollector(
            spark, sources.configs(), path, fetcher=fetcher
        )
        self.server = None
        self.k = 0

    def tick(self) -> tuple[int, int]:
        """Run tick ``k``; returns (samples written, samples expected)."""
        self.sources.tick = self.k
        n = self.collector.tick(float(BASE + self.k))
        return n, len(self.plan.written(self.k))

    def serve(self) -> None:
        from timeseries_data_provider_spark.serving.http_server import serve
        from timeseries_data_provider_spark.streaming.ingest import read_metrics

        self.server, self.thread = serve(
            read_metrics(self.spark, self.path), set(self.plan.names)
        )

    def read_back(self, rng: random.Random) -> str | None:
        """Ask for a point tick ``k`` wrote: 'fresh', 'stale' (HTTP 200
        without it), 'error' (any other status) or 'wrong' (HTTP 200
        with that time but another value); None if the tick wrote
        nothing."""
        written = self.plan.written(self.k)
        if not written:
            return None
        i = rng.choice(written)
        t = BASE + self.k
        status, body = post(
            self.server.server_address[1],
            {
                "targets": [{"target": self.plan.names[i], "type": "timeseries"}],
                "range": {"from": iso(t), "to": iso(t)},
                "maxDataPoints": 10,
            },
        )
        if status != 200:
            return "error"
        points = [p for item in json.loads(body) for p in item["datapoints"]]
        at_t = [p for p in points if p[1] == t * 1000]
        if not at_t:
            return "stale"
        return "fresh" if at_t == [[self.plan.value(self.k, i), t * 1000]] else "wrong"

    def close(self) -> None:
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
            self.thread.join()


def run(spark, seed, seconds, tracer, size, result: Result, cpu, start_s):
    from timeseries_data_provider_spark.streaming.ingest import default_fetcher

    root = os.path.join(os.path.abspath(harness.WORK_DIR), "loop")
    plan = Plan(seed, SIZES[size])
    sources = Sources(plan)
    fetcher = default_fetcher
    if tracer is not None:
        configs = {c.name: c for c in sources.configs()}
        fetcher = tracer.fetcher(
            default_fetcher,
            lambda src, body: configs[src.name].extract(body) is not None,
        )
    rng = random.Random(seed)

    # Set-up: a fresh collector and table, tick 0 (every source due),
    # then the server and one read-back. Repeated; the last one is kept.
    setup_times = []
    loop = None
    try:
        for rep in range(SETUP_REPEATS):
            if loop is not None:
                loop.close()
            t0 = wall()
            loop = Loop(spark, plan, sources, os.path.join(root, f"t{rep}"), fetcher)
            loop.tick()
            loop.serve()
            loop.read_back(rng)
            setup_times.append(wall() - t0)

        by_pass: list[list[float | None]] = []
        traced_lat: list[float] = []
        pass_times: list[float] = []
        tick_cpu = harness.CpuSample(0.0, 0.0, 0.0)
        outcomes: dict[str | None, int] = {}
        # Traced runs trace every other tick, shifted by one each cycle,
        # so each tick of the pattern is timed both ways.
        for _ in range(harness.passes(seconds, PASS_S)):
            tick_lat: list[float | None] = []
            by_pass.append(tick_lat)
            t_pass = wall()
            for _ in range(CYCLE):
                loop.k += 1
                traced = tracer is not None and (loop.k + loop.k // CYCLE) % 2 == 1
                if traced:
                    tracer.enabled = True
                c0 = cpu.sample()
                t0 = wall()
                n, want = loop.tick()
                dt = wall() - t0
                used = cpu.sample() - c0
                tick_cpu = tick_cpu + used
                tick_lat.append(None if traced else dt)
                if traced:
                    traced_lat.append(dt)
                result.check(n == want, f"tick {loop.k}: wrote {n}, expected {want}")
                outcome = loop.read_back(rng)
                if traced:
                    tracer.enabled = False
                    _trace_tick(tracer, plan, loop.k, used, result)
                outcomes[outcome] = outcomes.get(outcome, 0) + 1
                if outcome is not None:
                    result.check(
                        outcome == "fresh",
                        f"read-back after tick {loop.k}: {outcome}",
                        known_defect=outcome in ("stale", "error"),
                    )
            pass_times.append(wall() - t_pass)
        if tracer is not None:
            _trace_table(tracer, spark, loop.path)
    finally:
        if loop is not None:
            loop.close()
        sources.close()

    result.put("setup_s", start_s + harness.median(setup_times), "s")
    harness.put_latency(result, by_pass, pass_times)
    untraced = [dt for lat in by_pass for dt in lat if dt is not None]
    n_ticks = len(untraced) + len(traced_lat)
    result.put("cpu_ms_per_op", tick_cpu.total_ms / n_ticks, "ms")
    reads = sum(n for o, n in outcomes.items() if o is not None)
    fresh_share = outcomes.get("fresh", 0) / max(reads, 1)
    result.info.update(
        ticks=n_ticks,
        passes=len(pass_times),
        fresh_share=fresh_share,
        readback_stale=outcomes.get("stale", 0),
        readback_errors=outcomes.get("error", 0),
    )
    if tracer is not None:
        layers = tracer.layers
        layers.add("readback.stale", outcomes.get("stale", 0))
        layers.add("readback.errors", outcomes.get("error", 0))
        layers.add("readback.fresh_share", fresh_share)
        overhead = harness.median(traced_lat) - harness.median(untraced)
        layers.add("trace.overhead_ms", overhead * 1000)


def _trace_tick(tracer, plan: Plan, k: int, cpu, result: Result) -> None:
    layers = tracer.layers
    rec, tracer.last_tick = tracer.last_tick, None
    fetch = rec.children.get("fetch", 0.0)
    retention = rec.children.get("retention", 0.0)
    layers.add("ingest.tick_ms", rec.ms)
    layers.add("ingest.fetch_ms", fetch)
    layers.add("ingest.append_ms", rec.ms - fetch - retention)
    layers.add("ingest.fetches", rec.counts.get("fetches", 0))
    failures = rec.counts.get("fetch_failures", 0)
    layers.add("ingest.fetch_failures", failures)
    planted = len(plan.due(k)) - len(plan.written(k))
    result.check(
        failures == planted,
        f"tick {k}: {failures} fetch failures, {planted} planted",
    )
    layers.add("spark.plan_ms", rec.plan_ms)
    layers.add_all(tracer.spark_stats(rec.group))
    layers.add("driver.cpu_ms", cpu.driver_ms)
    layers.add("jvm.cpu_ms", cpu.jvm_ms)
    layers.add("python.cpu_ms", cpu.python_ms)
    q, tracer.last_query = tracer.last_query, None
    if q is not None:
        layers.add("grafana.query_ms", q.ms)
    for ms, nbytes in tracer.retention_calls:
        layers.add("retention.ms", ms)
        layers.add("retention.bytes_rewritten", nbytes)
    tracer.retention_calls.clear()


def _trace_table(tracer, spark, path: str) -> None:
    """Files per series partition and parquet bytes per stored sample
    of the table as the run leaves it."""
    from timeseries_data_provider_spark.streaming.ingest import read_metrics

    files = []
    total = 0
    for entry in os.listdir(path):
        if not entry.startswith("name="):
            continue
        part = os.path.join(path, entry)
        names = [f for f in os.listdir(part) if f.endswith(".parquet")]
        files.append(len(names))
        total += sum(os.path.getsize(os.path.join(part, f)) for f in names)
    rows = read_metrics(spark, path).count()
    tracer.layers.add("ingest.files_per_series", sum(files) / max(len(files), 1))
    tracer.layers.add("ingest.bytes_per_sample", total / max(rows, 1))

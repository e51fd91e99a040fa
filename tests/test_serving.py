"""Grafana wire-contract tests (SURVEY.md §5 item 4): golden shapes for
/search, timeseries and table responses, epoch-ms ints, stubs, auth,
unknown-target drop, multi-table union (divergence from reference defect
index.js:131), end-to-end over real HTTP, bounded request bodies, and
the per-request read: fresh after a tick, whole while swaps race it."""

from __future__ import annotations

import base64
import json
import logging
import os
import socket
import urllib.request
from datetime import datetime, timedelta

import pytest

from timeseries_data_provider_spark.serving import grafana
from timeseries_data_provider_spark.serving.http_server import (
    MAX_BODY_BYTES,
    STUB_ROUTES,
    serve,
)
from timeseries_data_provider_spark.streaming.config import SourceConfig


@pytest.fixture(scope="module")
def root(spark, tmp_path_factory):
    """A parquet table partitioned by name, several files per series —
    the layout the collector writes: ``cpu`` and ``mem`` at 1 Hz, four
    ``tie`` rows, two tied on time, and one ``old`` point half a
    millisecond before the epoch."""
    from timeseries_data_provider_spark.streaming.ingest import METRICS_SCHEMA

    rows = (
        [("cpu", datetime(2024, 1, 1, 0, 0, s), float(s)) for s in range(10)]
        + [("mem", datetime(2024, 1, 1, 0, 0, s), 100.0 + s) for s in range(10)]
        + [
            ("tie", datetime(2024, 1, 1, 0, 0, 2), 3.0),
            ("tie", datetime(2024, 1, 1, 0, 0, 3), 9.0),
            ("tie", datetime(2024, 1, 1, 0, 0, 3), 7.0),
            ("tie", datetime(2024, 1, 1, 0, 0, 4), 1.0),
            ("old", datetime(1969, 12, 31, 23, 59, 59, 999500), 1.0),
        ]
    )
    path = str(tmp_path_factory.mktemp("served") / "metrics")
    frame = spark.createDataFrame(rows, METRICS_SCHEMA).repartition(3)
    frame.write.partitionBy("name").parquet(path)
    return path


@pytest.fixture(scope="module")
def metrics(spark, root):
    from timeseries_data_provider_spark.streaming.ingest import read_metrics

    return read_metrics(spark, root)


PAYLOAD = {
    "targets": [{"target": "cpu", "type": "timeseries"}],
    "range": {"from": "2024-01-01 00:00:02", "to": "2024-01-01 00:00:05"},
    "maxDataPoints": 100,
}


def test_timeseries_shape(root):
    out = grafana.handle_query(PAYLOAD, root, known_series={"cpu", "mem"})
    assert out == [
        {
            "target": "cpu",
            "datapoints": [
                # inclusive bounds both ends (index.js:106); epoch-ms ints
                [2.0, 1704067202000],
                [3.0, 1704067203000],
                [4.0, 1704067204000],
                [5.0, 1704067205000],
            ],
        }
    ]
    assert all(
        isinstance(ms, int) for _, ms in out[0]["datapoints"]
    )


def test_max_points_time_asc(root):
    p = dict(PAYLOAD, maxDataPoints=2)
    out = grafana.handle_query(p, root, known_series={"cpu"})
    # LIMIT keeps the EARLIEST n (time-ASC order, index.js:106)
    assert out[0]["datapoints"] == [[2.0, 1704067202000], [3.0, 1704067203000]]

    # the cap is per series: two targets over it each keep their own
    # earliest n; rows tied on time are ranked by value, so the cut
    # through a tie keeps the smaller value; a known series with no
    # rows is omitted from the timeseries response
    names = ["cpu", "mem", "tie", "idle"]
    p = dict(p, targets=[{"target": n, "type": "timeseries"} for n in names])
    out = grafana.handle_query(p, root, known_series=set(names))
    t2, t3 = 1704067202000, 1704067203000
    assert out == [
        {"target": "cpu", "datapoints": [[2.0, t2], [3.0, t3]]},
        {"target": "mem", "datapoints": [[102.0, t2], [103.0, t3]]},
        {"target": "tie", "datapoints": [[3.0, t2], [7.0, t3]]},
    ]


def test_capped_query_runs_no_spark_job(spark, root):
    # the points are read on the driver: a capped /query starts no job
    p = dict(
        PAYLOAD,
        targets=[{"target": "cpu"}, {"target": "mem"}],
        maxDataPoints=3,
    )
    sc = spark.sparkContext
    group = "test-capped-query"
    sc.setJobGroup(group, "capped /query")
    try:
        out = grafana.handle_query(p, root, {"cpu", "mem"})
    finally:
        for key in (
            "spark.jobGroup.id",
            "spark.job.description",
            "spark.job.interruptOnCancel",
        ):
            sc.setLocalProperty(key, None)
    assert [len(s["datapoints"]) for s in out] == [3, 3]
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_table_shape_and_union(root):
    p = {
        "targets": [
            {"target": "cpu", "type": "table"},
            {"target": "mem", "type": "table"},
        ],
        "range": {"from": "2024-01-01 00:00:00", "to": "2024-01-01 00:00:01"},
    }
    out = grafana.handle_query(p, root, known_series={"cpu", "mem"})
    assert len(out) == 1
    table = out[0]
    assert table["type"] == "table"
    assert table["columns"] == grafana.TABLE_COLUMNS
    # rows from BOTH table targets (reference clobbered all but the last)
    assert [r for r in table["rows"] if r[0] == "cpu"] == [
        ["cpu", 0.0, 1704067200000],
        ["cpu", 1.0, 1704067201000],
    ]
    assert [r for r in table["rows"] if r[0] == "mem"] == [
        ["mem", 100.0, 1704067200000],
        ["mem", 101.0, 1704067201000],
    ]


def test_unknown_target_dropped(root):
    p = {
        "targets": [{"target": "nope", "type": "timeseries"}],
        "range": PAYLOAD["range"],
    }
    assert grafana.handle_query(p, root, known_series={"cpu"}) == []


def test_duplicate_target_emitted_once(root):
    # same target twice in one payload → one series, not doubled rows
    # (ADVICE r1: names list used to grow per occurrence)
    p = dict(
        PAYLOAD,
        targets=[
            {"target": "cpu", "type": "timeseries"},
            {"target": "cpu", "type": "table"},
        ],
    )
    out = grafana.handle_query(p, root, known_series={"cpu"})
    assert len(out) == 1
    assert out[0]["target"] == "cpu"  # first occurrence's type wins
    assert out[0]["datapoints"] == [
        [2.0, 1704067202000],
        [3.0, 1704067203000],
        [4.0, 1704067204000],
        [5.0, 1704067205000],
    ]


def test_epoch_ms_range_bounds(root):
    # Grafana also sends epoch-ms range values (numbers or numeric
    # strings) — must behave exactly like the ISO form (VERDICT r1 #9)
    iso = grafana.handle_query(PAYLOAD, root, known_series={"cpu"})
    for form in (
        {"from": 1704067202000, "to": 1704067205000},
        {"from": "1704067202000", "to": "1704067205000"},
    ):
        p = dict(PAYLOAD, range=form)
        assert grafana.handle_query(p, root, known_series={"cpu"}) == iso


@pytest.mark.parametrize(
    "bound, utc",
    [
        ("2024-W01-1", "2024-01-01T00:00:00Z"),
        ("20240101T000002", "2024-01-01T00:00:02Z"),
        ("2024-01-01T05:00:02+05:00", "2024-01-01T00:00:02Z"),
        ("2023-12-31T19:00:04-05:00", "2024-01-01T00:00:04Z"),
    ],
    ids=["iso-week", "basic-format", "plus-offset", "minus-offset"],
)
def test_range_bound_forms_answer_as_utc(root, bound, utc):
    # every form fromisoformat accepts is read as the instant it names:
    # an offset converts to UTC, as the reference's moment().utc() did
    def query(t_from):
        p = dict(PAYLOAD, range={"from": t_from, "to": "2024-01-01T00:00:05Z"})
        return grafana.handle_query(p, root, known_series={"cpu"})

    want = query(utc)
    assert want and query(bound) == want


def test_pre_epoch_time_floors_to_ms(root):
    # 1969-12-31 23:59:59.9995 is -0.5 ms: it floors to -1, as
    # core.epoch_ms (unix_millis) does, not truncates to 0
    p = {
        "targets": [{"target": "old"}],
        "range": {"from": "1969-12-31T23:59:59Z", "to": "1970-01-01T00:00:00Z"},
    }
    out = grafana.handle_query(p, root, known_series={"old"})
    assert out == [{"target": "old", "datapoints": [[1.0, -1]]}]


def test_hostile_target_names_read_inside_the_root(root):
    # with no known series to check against, a name still resolves to
    # one escaped directory under the root: "cpu/../../outside" joined
    # unescaped would read the table planted beside the root
    from timeseries_data_provider_spark.streaming.retention import (
        series_table,
        write_series_file,
    )

    outside = os.path.join(os.path.dirname(root), "outside")
    os.makedirs(outside, exist_ok=True)
    write_series_file(
        series_table([datetime(2024, 1, 1, 0, 0, 3)], [-1.0]),
        os.path.join(outside, "part-0.parquet"),
    )
    for name in ("../x", "a/b", "name=cpu", "cpu/../../outside"):
        p = dict(PAYLOAD, targets=[{"target": name}])
        assert grafana.handle_query(p, root) == [], name


def test_auth_validator():
    v = grafana.basic_auth_validator(
        {"enabled": True, "username": "u", "password": "p"}
    )
    assert v("u", "p") and not v("u", "x") and not v("x", "p")
    assert grafana.basic_auth_validator({"enabled": False})("any", "thing")
    # same-length wrong password
    v = grafana.basic_auth_validator(
        {"enabled": True, "username": "admin", "password": "hunter2"}
    )
    assert v("admin", "hunter2") and not v("admin", "hunter3")
    # non-ASCII secrets are compared as UTF-8 bytes, never as str
    v = grafana.basic_auth_validator(
        {"enabled": True, "username": "zoë", "password": "pässwörd"}
    )
    assert v("zoë", "pässwörd")
    assert not v("zoë", "passwörd") and not v("zoe", "pässwörd")
    # a missing configured credential matches nothing, not even None/""
    v = grafana.basic_auth_validator({"enabled": True, "username": "u"})
    assert not v("u", "") and not v("u", "None")


def _post(port, path, payload, auth=None):
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}",
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    if auth:
        req.add_header(
            "Authorization",
            "Basic " + base64.b64encode(auth.encode()).decode(),
        )
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


@pytest.fixture(scope="module")
def auth_port(metrics):
    server, _ = serve(
        metrics,
        {"cpu", "mem"},
        auth_config={"enabled": True, "username": "u", "password": "p"},
    )
    yield server.server_address[1]
    server.shutdown()
    server.server_close()


def test_http_end_to_end(auth_port):
    code, _ = _post(auth_port, "/query", PAYLOAD)
    assert code == 401  # no credentials
    code, body = _post(auth_port, "/search", {}, auth="u:p")
    assert (code, body) == (200, ["cpu", "mem"])
    code, body = _post(auth_port, "/query", PAYLOAD, auth="u:p")
    assert code == 200
    assert body[0]["target"] == "cpu"
    assert body[0]["datapoints"][0] == [2.0, 1704067202000]
    for stub in ("/annotations", "/tag-keys", "/tag-values"):
        assert _post(auth_port, stub, {}, auth="u:p") == (200, [])
    # malformed body → 400 with an error message (as hapi answered)
    req = urllib.request.Request(
        f"http://127.0.0.1:{auth_port}/query",
        data=b"{not json",
        method="POST",
    )
    req.add_header(
        "Authorization", "Basic " + base64.b64encode(b"u:p").decode()
    )
    try:
        urllib.request.urlopen(req)
        raised = False
    except urllib.error.HTTPError as e:
        raised = e.code == 400 and "error" in json.loads(e.read())
    assert raised


def test_stubs(metrics):
    # the stub routes answer [] whatever the body, without Spark work
    server, _ = serve(metrics, {"cpu"})
    port = server.server_address[1]
    try:
        for stub in STUB_ROUTES:
            assert _post(port, stub, {}) == (200, [])
            assert _post(port, stub, {"key": "host"}) == (200, [])
    finally:
        server.shutdown()
        server.server_close()


def _raw_status(port, content_length):
    """POST /query with a hand-written Content-Length and no body;
    returns the status code the server answers with."""
    with socket.create_connection(("127.0.0.1", port), timeout=10) as sock:
        sock.sendall(
            b"POST /query HTTP/1.1\r\nHost: x\r\n"
            b"Content-Length: " + content_length.encode() + b"\r\n\r\n"
        )
        status_line = sock.makefile("rb").readline()
    return int(status_line.split()[1])


def test_content_length_bounded(metrics):
    server, _ = serve(metrics, {"cpu"})
    port = server.server_address[1]
    try:
        # refused before any read: rfile.read(-1) would block until the
        # client hangs up
        assert _raw_status(port, "-1") == 400
        assert _raw_status(port, "abc") == 400
        assert _raw_status(port, str(MAX_BODY_BYTES + 1)) == 413
    finally:
        server.shutdown()
        server.server_close()


@pytest.fixture(scope="module")
def port(metrics):
    server, _ = serve(metrics, {"cpu", "mem"})
    yield server.server_address[1]
    server.shutdown()
    server.server_close()


@pytest.mark.parametrize(
    "body, code",
    [
        (b"{not json", 400),
        (json.dumps([PAYLOAD]), 400),
        (json.dumps(dict(PAYLOAD, targets="cpu")), 400),
        (json.dumps(dict(PAYLOAD, targets=["cpu"])), 400),
        (json.dumps(dict(PAYLOAD, range="today")), 400),
        (json.dumps(dict(PAYLOAD, range={"from": "garbage"})), 400),
        (json.dumps(dict(PAYLOAD, range={"to": [1]})), 400),
        (json.dumps(dict(PAYLOAD, maxDataPoints="abc")), 400),
        (json.dumps(dict(PAYLOAD, maxDataPoints=True)), 400),
        (json.dumps(dict(PAYLOAD, maxDataPoints=0)), 400),
        (json.dumps(dict(PAYLOAD, maxDataPoints=2.5)), 400),
        (json.dumps(PAYLOAD), 200),
    ],
    ids=[
        "not-json", "list-body", "string-targets", "string-target-item",
        "string-range", "garbage-from", "list-to", "string-max",
        "bool-max", "zero-max", "float-max", "valid",
    ],
)
def test_hostile_query_body_400(port, body, code):
    # hostile bodies are refused before any Spark job; a valid one
    # still answers exactly as before
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/query",
        data=body if isinstance(body, bytes) else body.encode(),
        method="POST",
    )
    try:
        with urllib.request.urlopen(req) as resp:
            got = resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        got = e.code, json.loads(e.read())
    assert got[0] == code, got
    if code == 400:
        assert "error" in got[1]
    else:
        assert got[1] == [
            {
                "target": "cpu",
                "datapoints": [
                    [2.0, 1704067202000],
                    [3.0, 1704067203000],
                    [4.0, 1704067204000],
                    [5.0, 1704067205000],
                ],
            }
        ]


@pytest.mark.parametrize(
    "payload",
    [
        dict(PAYLOAD, range={"from": "2024-01-01 00:00:05",
                             "to": "2024-01-01 00:00:02"}),
        dict(PAYLOAD, targets=[{"target": "disk", "type": "timeseries"}]),
    ],
    ids=["from-after-to", "unknown-target"],
)
def test_hostile_query_answers_empty(port, payload):
    # well-formed but empty: an inverted range selects nothing, and a
    # target outside known_series is dropped before any Spark work
    assert _post(port, "/query", payload) == (200, [])


@pytest.mark.parametrize(
    "credentials",
    [
        "%%%not-base64",
        base64.b64encode(b"up").decode(),
        base64.b64encode(b"u\xff:p\xfe").decode(),
    ],
    ids=["bad-base64", "no-colon", "non-utf8"],
)
def test_malformed_basic_auth_401(auth_port, credentials):
    req = urllib.request.Request(
        f"http://127.0.0.1:{auth_port}/search",
        data=b"{}",
        headers={"Authorization": "Basic " + credentials},
        method="POST",
    )
    with pytest.raises(urllib.error.HTTPError) as err:
        urllib.request.urlopen(req)
    assert err.value.code == 401
    assert json.loads(err.value.read()) == {"error": "unauthorized"}


def test_query_times_are_utc_under_any_session_zone(spark, metrics):
    # /query renders stored NTZ times through the session zone; serve()
    # must pin it, whatever zone the caller's session was left in
    key = "spark.sql.session.timeZone"
    prior = spark.conf.get(key)
    spark.conf.set(key, "America/New_York")
    try:
        server, _ = serve(metrics, {"cpu"})
        try:
            got = _post(server.server_address[1], "/query", PAYLOAD)
        finally:
            server.shutdown()
            server.server_close()
    finally:
        spark.conf.set(key, prior)
    assert got[0] == 200
    assert got[1][0]["datapoints"][0] == [2.0, 1704067202000]


def test_serve_needs_one_stored_table(spark, metrics):
    # serve() keeps only the root directory of the stored table
    with pytest.raises(ValueError):
        serve(spark.createDataFrame([(1,)], "x int"), {"cpu"})
    with pytest.raises(ValueError):
        serve(metrics.union(metrics), {"cpu"})


def test_query_500_is_short_and_logged(spark, tmp_path, caplog):
    # a corrupt file in a served partition: the client gets the class
    # and first line of the error, with no stack and no table path; the
    # full exception is logged once, with the request's targets
    from timeseries_data_provider_spark.streaming.ingest import read_metrics
    from timeseries_data_provider_spark.streaming.retention import (
        series_table,
        write_series_file,
    )

    path = str(tmp_path / "metrics")
    os.makedirs(os.path.join(path, "name=cpu"))
    write_series_file(
        series_table([datetime(2024, 1, 1, 0, 0, 2)], [2.0]),
        os.path.join(path, "name=cpu", "part-0.parquet"),
    )
    with open(os.path.join(path, "name=cpu", "part-1.parquet"), "wb") as f:
        f.write(b"not parquet at all")
    server, _ = serve(read_metrics(spark, path), {"cpu"})
    logger = "timeseries_data_provider_spark.serving.http_server"
    try:
        with caplog.at_level(logging.WARNING, logger=logger):
            req = urllib.request.Request(
                f"http://127.0.0.1:{server.server_address[1]}/query",
                data=json.dumps(PAYLOAD).encode(),
                method="POST",
            )
            with pytest.raises(urllib.error.HTTPError) as err:
                urllib.request.urlopen(req)
    finally:
        server.shutdown()
        server.server_close()
    body = err.value.read()
    assert err.value.code == 500
    assert len(body) < 1024
    assert b"\tat " not in body and path.encode() not in body
    assert json.loads(body)["error"].startswith("ArrowInvalid: ")
    records = [
        r for r in caplog.records if r.name == logger and r.levelno == logging.WARNING
    ]
    assert len(records) == 1
    assert "cpu" in records[0].getMessage() and records[0].exc_info


def test_query_sees_what_is_on_disk_now(spark, tmp_path):
    # a series with no directory yet answers []; a tick made after
    # serve() is visible to the next /query
    from timeseries_data_provider_spark.streaming.ingest import (
        MetricsCollector,
        read_metrics,
    )

    bodies = {"a": '{"count": 1}', "b": "{}"}  # b yields no sample yet
    path = str(tmp_path / "metrics")
    collector = MetricsCollector(
        spark,
        [SourceConfig(name="a", interval=1), SourceConfig(name="b", interval=1)],
        path,
        fetcher=lambda src: bodies[src.name],
    )
    collector.tick(1_704_067_200.0)
    server, _ = serve(read_metrics(spark, path), {"a", "b"})
    port = server.server_address[1]
    every = {"from": "2024-01-01T00:00:00Z", "to": "2024-01-01T00:01:00Z"}
    try:
        only_b = {"targets": [{"target": "b"}], "range": every}
        assert _post(port, "/query", only_b) == (200, [])
        bodies.update(a='{"count": 2}', b='{"count": 3}')
        collector.tick(1_704_067_201.0)
        both = {"targets": [{"target": "a"}, {"target": "b"}], "range": every}
        got = _post(port, "/query", both)
    finally:
        server.shutdown()
        server.server_close()
    assert got == (
        200,
        [
            {
                "target": "a",
                "datapoints": [[1.0, 1704067200000], [2.0, 1704067201000]],
            },
            {"target": "b", "datapoints": [[3.0, 1704067201000]]},
        ],
    )


def test_swaps_racing_queries_lose_no_series(spark, tmp_path, monkeypatch):
    # 50 concurrent /query reads against compaction swaps of the same
    # series; a delay between listing a partition and reading it makes
    # every read overlap a swap, so only the swap lock keeps each
    # listing readable and each series visible. The reads call
    # handle_query directly: an exception there is what the HTTP
    # handler answers with 500.
    import concurrent.futures
    import threading
    import time

    from timeseries_data_provider_spark.streaming import retention
    from timeseries_data_provider_spark.streaming.ingest import MetricsCollector

    names = ["s0", "s1", "s2"]
    path = str(tmp_path / "metrics")
    collector = MetricsCollector(
        spark,
        [SourceConfig(name=n, interval=1) for n in names],
        path,
        fetcher=lambda src: '{"count": 1}',
    )
    for t in range(3):
        collector.tick(1_704_067_200.0 + t)
    listing = retention._listing

    def slow_listing(part_dir):
        stored = listing(part_dir)
        time.sleep(0.05)
        return stored

    monkeypatch.setattr(retention, "_listing", slow_listing)
    payload = {
        "targets": [{"target": n} for n in names],
        "range": {"from": "2024-01-01T00:00:00Z", "to": "2024-01-01T00:01:00Z"},
    }
    done = threading.Event()
    swaps = []

    def swap_until_done():
        while not done.is_set():
            for n in names:
                retention.apply_retention(spark, path, n, None, 0.0)
                swaps.append(n)

    swapper = threading.Thread(target=swap_until_done)
    swapper.start()
    try:
        with concurrent.futures.ThreadPoolExecutor(50) as pool:
            answers = list(
                pool.map(
                    lambda _: grafana.handle_query(payload, path, set(names)),
                    range(50),
                )
            )
    finally:
        done.set()
        swapper.join(timeout=60)
    assert not swapper.is_alive() and len(swaps) >= len(names)
    points = [[1.0, 1704067200000 + 1000 * t] for t in range(3)]
    assert answers == [[{"target": n, "datapoints": points} for n in names]] * 50


def test_burst_of_50_connections_all_answered(metrics):
    # 50 panel refreshes connect at once: each must get its answer, not
    # a connection reset from an overflowing listen backlog
    import concurrent.futures
    import threading

    server, _ = serve(metrics, {"cpu"})
    start = threading.Barrier(50)

    def refresh(_):
        start.wait(timeout=30)
        return _post(server.server_address[1], "/query", PAYLOAD)

    try:
        with concurrent.futures.ThreadPoolExecutor(50) as pool:
            answers = list(pool.map(refresh, range(50)))
    finally:
        server.shutdown()
        server.server_close()
    points = [[float(s), 1704067200000 + 1000 * s] for s in range(2, 6)]
    assert answers == [(200, [{"target": "cpu", "datapoints": points}])] * 50


def test_each_request_logs_one_line(metrics, caplog):
    # the stdlib request line, one INFO record per answer: client,
    # request line, status and body size
    server, _ = serve(metrics, {"cpu"})
    port = server.server_address[1]
    logger = "timeseries_data_provider_spark.serving.http_server"
    try:
        with caplog.at_level(logging.INFO, logger=logger):
            _post(port, "/query", PAYLOAD)
            _post(port, "/search", {})
            _post(port, "/nowhere", {})
    finally:
        server.shutdown()
        server.server_close()
    lines = [r.getMessage() for r in caplog.records if r.name == logger]
    assert len(lines) == 3
    for line, path, status in zip(
        lines, ["/query", "/search", "/nowhere"], [200, 200, 404]
    ):
        assert line.startswith("127.0.0.1 ")
        assert f'"POST {path} HTTP/1.1" {status} ' in line


# The /query cache: each test starts from an empty cache of its own.


@pytest.fixture
def cache(monkeypatch):
    from timeseries_data_provider_spark.streaming import retention

    fresh = retention._RowCache()
    monkeypatch.setattr(retention, "_CACHE", fresh)
    return fresh


def _write(path, seconds, values, **kwargs):
    """One series file at ``path``: points at 2024-01-01 + ``seconds``."""
    import pyarrow.parquet as pq

    from timeseries_data_provider_spark.streaming.retention import (
        series_table,
    )

    os.makedirs(os.path.dirname(path), exist_ok=True)
    times = [datetime(2024, 1, 1) + timedelta(seconds=s) for s in seconds]
    pq.write_table(
        series_table(times, values), path, store_schema=False, **kwargs
    )


def _uncached(part_dir, t_from, t_to, cap):
    """The reference answer: a filtered scan of the whole partition,
    sorted on (time, value), capped."""
    import pyarrow.dataset as ds

    from timeseries_data_provider_spark.streaming.retention import (
        _ARROW_SCHEMA,
    )

    if not os.path.isdir(part_dir):
        return []
    keep = (ds.field("time") >= t_from) & (ds.field("time") <= t_to)
    rows = (
        ds.dataset(part_dir, schema=_ARROW_SCHEMA, format="parquet")
        .to_table(filter=keep)
        .sort_by([("time", "ascending"), ("value", "ascending")])
        .slice(0, cap)
    )
    return [
        [v, (t - datetime(1970, 1, 1)) // timedelta(milliseconds=1)]
        for t, v in zip(
            rows.column("time").to_pylist(), rows.column("value").to_pylist()
        )
    ]


def _cached_paths(cache):
    return {key[0] for part in cache.parts.values() for key in part}


def test_swapped_and_trimmed_series_never_read_old_files(spark, tmp_path, cache):
    # appends, then a compaction swap, then a retention trim: each
    # /query returns exactly the rows on disk, and the cache keeps only
    # the files of the current listing
    from timeseries_data_provider_spark.streaming import retention
    from timeseries_data_provider_spark.streaming.ingest import MetricsCollector

    path = str(tmp_path / "metrics")
    count = iter(range(1, 100))
    collector = MetricsCollector(
        spark,
        [SourceConfig(name="a", interval=1)],
        path,
        fetcher=lambda src: json.dumps({"count": next(count)}),
    )
    t0 = 1_704_067_200
    for t in range(5):
        collector.tick(t0 + t)
    payload = {
        "targets": [{"target": "a"}],
        "range": {"from": "2024-01-01T00:00:00Z", "to": "2024-01-01T00:01:00Z"},
    }
    part = os.path.join(path, retention.series_entry("a"))

    def answer():
        got = grafana.handle_query(payload, path, {"a"})
        assert _cached_paths(cache) <= {
            os.path.join(part, f) for f in os.listdir(part)
        }
        return got[0]["datapoints"] if got else []

    every = [[float(t + 1), (t0 + t) * 1000] for t in range(5)]
    assert answer() == every and len(_cached_paths(cache)) == 5
    retention.apply_retention(spark, path, "a", None, 0.0)
    assert answer() == every and len(_cached_paths(cache)) == 1
    retention.apply_retention(spark, path, "a", 2, t0 + 4.0)
    assert answer() == every[2:] and len(_cached_paths(cache)) == 1
    retention.apply_retention(spark, path, "a", 0, t0 + 60.0)
    assert answer() == [] and len(_cached_paths(cache)) == 1


def test_file_rewritten_in_place_is_read_again(spark, tmp_path, cache):
    from timeseries_data_provider_spark.streaming.retention import series_entry

    root = str(tmp_path / "metrics")
    part = os.path.join(root, series_entry("cpu"))
    # a series with no directory answers [] and leaves no cache entry
    assert grafana.handle_query(PAYLOAD, root) == [] and not cache.parts
    _write(os.path.join(part, "part-0.parquet"), [2, 3], [2.0, 3.0])
    t = [1704067200000 + 1000 * s for s in range(7)]
    assert grafana.handle_query(PAYLOAD, root) == [
        {"target": "cpu", "datapoints": [[2.0, t[2]], [3.0, t[3]]]}
    ]
    _write(os.path.join(part, "part-0.parquet"), [4, 5, 6], [40.0, 50.0, 60.0])
    assert grafana.handle_query(PAYLOAD, root) == [
        {"target": "cpu", "datapoints": [[40.0, t[4]], [50.0, t[5]]]}
    ]


def test_cache_stays_within_its_budget(spark, tmp_path, cache, monkeypatch):
    # more threads than cores, a short switch interval, and a budget of
    # a few row groups: after every answer the byte total is within the
    # budget and equals the bytes the cache holds, and every answer is
    # the uncached one
    import concurrent.futures
    import random
    import sys

    from timeseries_data_provider_spark.streaming import retention

    monkeypatch.setattr(retention, "CACHE_BYTES", 10_000)
    root = str(tmp_path / "metrics")
    names = [f"s{i}" for i in range(6)]
    for i, name in enumerate(names):
        part = os.path.join(root, retention.series_entry(name))
        seconds = list(range(0, 2000, 2))
        values = [float((s * 7 + i) % 11) for s in seconds]
        _write(os.path.join(part, "part-0.parquet"), seconds, values,
               row_group_size=250)
        # an append tied on time with the compacted file
        _write(os.path.join(part, "part-1.parquet"), [10, 11], [-1.0, 5.0])
    rng = random.Random(7)
    requests = []
    for _ in range(160):
        lo = rng.randrange(0, 2000)
        hi = lo + rng.choice([0, 30, 400, 1500])
        cap = rng.choice([None, 1, 7, 300])
        picked = rng.sample(names, rng.randint(1, 3))
        requests.append((picked, lo, hi, cap))

    def run(request):
        picked, lo, hi, cap = request
        t_from = datetime(2024, 1, 1) + timedelta(seconds=lo)
        t_to = datetime(2024, 1, 1) + timedelta(seconds=hi)
        payload = {
            "targets": [{"target": n} for n in picked],
            "range": {"from": t_from.isoformat(), "to": t_to.isoformat()},
            "maxDataPoints": cap,
        }
        got = grafana.handle_query(payload, root, set(names))
        with cache.lock:
            held = retention._nbytes(
                {k: f for part in cache.parts.values() for k, f in part.items()}
            )
            totals = (cache.nbytes, held)
        want = []
        for n in picked:
            part = os.path.join(root, retention.series_entry(n))
            points = _uncached(part, t_from, t_to, cap)
            if points:
                want.append({"target": n, "datapoints": points})
        return got == want, totals

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with concurrent.futures.ThreadPoolExecutor(16) as pool:
            results = list(pool.map(run, requests))
    finally:
        sys.setswitchinterval(interval)
    assert all(same for same, _ in results)
    assert all(n == held <= 10_000 for _, (n, held) in results)
    assert max(n for _, (n, _) in results) > 0


def test_cap_through_a_tie_across_files_keeps_smaller_values(spark, tmp_path, cache):
    # a compacted file and two appends, all at 00:00:03: the cap cuts
    # through the tie and keeps the smaller values, as the uncached
    # sort does
    from timeseries_data_provider_spark.streaming import retention

    root = str(tmp_path / "metrics")
    part = os.path.join(root, retention.series_entry("cpu"))
    _write(os.path.join(part, "part-c.parquet"), [2, 3, 3, 4], [5.0, 9.0, 6.0, 1.0])
    _write(os.path.join(part, "part-a1.parquet"), [3], [8.0])
    _write(os.path.join(part, "part-a2.parquet"), [3], [7.0])
    t2, t3 = 1704067202000, 1704067203000
    for cap, want in [
        (2, [[5.0, t2], [6.0, t3]]),
        (4, [[5.0, t2], [6.0, t3], [7.0, t3], [8.0, t3]]),
    ]:
        got = grafana.handle_query(dict(PAYLOAD, maxDataPoints=cap), root)
        assert got == [{"target": "cpu", "datapoints": want}]
        assert want == _uncached(
            part, datetime(2024, 1, 1, 0, 0, 2), datetime(2024, 1, 1, 0, 0, 5), cap
        )


def test_query_decodes_only_overlapping_row_groups(spark, tmp_path, cache):
    # ten row groups of 1000 points; a range inside the fourth decodes
    # that one row group alone: 1000 times and values of 8 bytes each
    from timeseries_data_provider_spark.streaming import retention

    root = str(tmp_path / "metrics")
    part = os.path.join(root, retention.series_entry("cpu"))
    _write(os.path.join(part, "part-0.parquet"), range(10_000),
           [float(s) for s in range(10_000)], row_group_size=1000)
    payload = dict(
        PAYLOAD,
        range={"from": "2024-01-01T00:50:10Z", "to": "2024-01-01T00:50:12Z"},
    )
    points = [[float(s), 1704067200000 + 1000 * s] for s in (3010, 3011, 3012)]
    assert grafana.handle_query(payload, root) == [
        {"target": "cpu", "datapoints": points}
    ]
    assert cache.nbytes == 1000 * 16

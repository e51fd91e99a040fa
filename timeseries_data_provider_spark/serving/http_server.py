"""Thin stdlib HTTP adapter exposing the Grafana JSON-datasource routes
(the reference's hapi server, index.js:51-187). It runs no Spark job:
the driver writes the metrics table and reads it for ``/query``; Spark
runs the declared queries and the corpus/crawl rewrites. ``serve()``
takes the table's root directory from the frame it is given, once, and
each ``/query`` reads the requested series from there as they are on
disk at that moment.

A request that fails unexpectedly gets HTTP 500 with the exception's
class and first line, the table root masked; the full exception goes
to this module's logger at WARNING, with the request's targets. Every
answer is logged there at INFO as the stdlib request line: client,
request line, status and body size.
"""

from __future__ import annotations

import base64
import json
import logging
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame

from . import grafana

log = logging.getLogger(__name__)

# the reference's stub routes (index.js:159-181) always answer []
STUB_ROUTES = ("/annotations", "/tag-keys", "/tag-values")
# largest request body read; a longer one is refused unread
MAX_BODY_BYTES = 1 << 20


def table_root(metrics: DataFrame) -> str:
    """The local root directory of the stored parquet table that
    ``metrics`` reads, as ``read_metrics`` returns it. Any other frame
    raises ValueError."""
    leaves = metrics._jdf.queryExecution().analyzed().collectLeaves()
    try:
        relation = leaves.head().relation()
        paths = relation.location().rootPaths()
        parquet = relation.fileFormat().toString() == "Parquet"
    except Py4JError:
        parquet = False
    if not parquet or leaves.size() != 1 or paths.size() != 1:
        raise ValueError("serve() needs a frame over one stored parquet table")
    uri = paths.head().toUri()
    if uri.getScheme() != "file":
        raise ValueError(f"serve() reads local tables only, not {uri}")
    return uri.getPath()


def make_handler(
    root: str,
    known_series: set[str],
    auth_config: dict[str, Any] | None = None,
):
    validate = grafana.basic_auth_validator(auth_config or {"enabled": False})

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, format: str, *args: Any) -> None:
            log.info("%s " + format, self.address_string(), *args)

        def log_request(self, code: Any = "-", size: Any = "-") -> None:
            pass  # _send logs each answer, with its size

        def _authorized(self) -> bool:
            if not (auth_config or {}).get("enabled", False):
                return True
            header = self.headers.get("Authorization", "")
            if not header.startswith("Basic "):
                return False
            try:
                user, _, pw = (
                    base64.b64decode(header[6:]).decode().partition(":")
                )
            except Exception:
                return False
            return validate(user, pw)

        def _send(self, code: int, body: Any) -> None:
            data = json.dumps(body).encode()
            super().log_request(code, len(data))
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def do_GET(self) -> None:
            if not self._authorized():
                return self._send(401, {"error": "unauthorized"})
            if self.path == "/":
                return self._send(200, {"status": "ok"})  # index.js:64-70
            self._send(404, {"error": "not found"})

        def do_POST(self) -> None:
            if not self._authorized():
                return self._send(401, {"error": "unauthorized"})
            try:
                n = int(self.headers.get("Content-Length", 0) or 0)
            except ValueError:
                n = -1
            if n < 0:
                return self._send(400, {"error": "invalid Content-Length"})
            if n > MAX_BODY_BYTES:
                return self._send(413, {"error": "request body too large"})
            payload = None
            try:
                raw = self.rfile.read(n) if n else b""
                try:
                    payload = json.loads(raw or b"{}")
                except ValueError:  # not JSON, or not UTF-8/16/32
                    return self._send(400, {"error": "body is not JSON"})
                if self.path == "/search":
                    return self._send(200, sorted(known_series))
                if self.path == "/query":
                    return self._send(
                        200,
                        grafana.handle_query(payload, root, known_series),
                    )
                if self.path in STUB_ROUTES:
                    return self._send(200, [])
                self._send(404, {"error": "not found"})
            except grafana.BadQuery as exc:
                self._send(400, {"error": str(exc)})
            except Exception as exc:
                # divergence 2: real error response, not a swallowed
                # exception (reference index.js:153-155)
                targets = (
                    payload.get("targets") if isinstance(payload, dict) else None
                )
                log.warning(
                    "%s failed, targets %r", self.path, targets, exc_info=True
                )
                first = str(exc).partition("\n")[0].replace(root, "<table>")
                self._send(500, {"error": f"{type(exc).__name__}: {first}"})

    return Handler


class _Server(ThreadingHTTPServer):
    # socketserver's listen backlog of 5 resets the connections of a
    # burst of panel refreshes before any handler runs
    request_queue_size = 128


def serve(
    metrics: DataFrame,
    known_series: set[str],
    port: int = 0,
    auth_config: dict[str, Any] | None = None,
) -> tuple[ThreadingHTTPServer, threading.Thread]:
    """Start the server on a background thread; returns (server,
    thread). ``server.server_address[1]`` is the bound port.
    ``metrics`` is the stored table as ``read_metrics`` returns it; only
    its root directory is kept (``table_root``)."""
    handler = make_handler(table_root(metrics), known_series, auth_config)
    server = _Server(("127.0.0.1", port), handler)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    return server, thread

"""Thin stdlib HTTP adapter exposing the Grafana JSON-datasource routes
(reference hapi server, /root/reference/index.js:51-187). Non-Spark by
design (SURVEY.md §7 step 5) — it calls the serving functions, which own
the Spark work.
"""

from __future__ import annotations

import base64
import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any

from pyspark.sql import DataFrame

from ..session import ensure_runtime_confs
from . import grafana

# the reference's stub routes (index.js:159-181) always answer []
STUB_ROUTES = ("/annotations", "/tag-keys", "/tag-values")
# largest request body read; a longer one is refused unread
MAX_BODY_BYTES = 1 << 20


def make_handler(
    metrics: DataFrame,
    known_series: set[str],
    auth_config: dict[str, Any] | None = None,
):
    validate = grafana.basic_auth_validator(auth_config or {"enabled": False})

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args) -> None:  # quiet
            pass

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
                        grafana.handle_query(payload, metrics, known_series),
                    )
                if self.path in STUB_ROUTES:
                    return self._send(200, [])
                self._send(404, {"error": "not found"})
            except grafana.BadQuery as exc:
                self._send(400, {"error": str(exc)})
            except Exception as exc:
                # divergence 2: real error response, not a swallowed
                # exception (reference index.js:153-155)
                self._send(500, {"error": str(exc)})

    return Handler


def serve(
    metrics: DataFrame,
    known_series: set[str],
    port: int = 0,
    auth_config: dict[str, Any] | None = None,
) -> tuple[ThreadingHTTPServer, threading.Thread]:
    """Start the server on a background thread; returns (server,
    thread). ``server.server_address[1]`` is the bound port. The
    served frame's session gets the engine's runtime confs first:
    ``/query`` renders stored NTZ times through the session zone."""
    ensure_runtime_confs(metrics.sparkSession)
    handler = make_handler(metrics, known_series, auth_config)
    server = ThreadingHTTPServer(("127.0.0.1", port), handler)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    return server, thread

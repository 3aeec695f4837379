"""Stdlib HTTP daemon — the reference's network surface, servable.

POST /write/:space?  /read/:space?  /series/:space?
     /select_distinct/:space?  /delete
(/root/reference/lib/orestes.js:66-230, README.md:28-250.)

No web framework ships in this container, and none is needed:
``http.server.ThreadingHTTPServer`` provides routing + threading, and
the Spark driver is the real concurrency governor (jobs from all
handler threads funnel into Spark's scheduler — the same role Express
played in front of Cassandra/ES for the reference). Concurrent
``/write``s to one space are group-committed by the engine: requests
that arrive while a commit runs join the next one and are acknowledged
when it lands, so handler threads never race the writer lock. A group
whose every time is an int epoch-ms is committed from the driver with
pyarrow and runs no Spark job; a group with ISO-string times goes
through the Spark sinks. Other writers of the space (another process,
a compaction) still fail loudly with the lock's 500.

/read responses stream with chunked transfer-encoding: the 200 status
commits before Spark runs, each series is flushed as its fetcher
drains, and a mid-stream failure terminates the already-delivered
partial results with the ``"error"`` key instead of discarding them —
the reference's exact wire contract
(/root/reference/lib/orestes.js:88-97, 159-163).
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from orestes_spark.api import (
    ApiError,
    error_response,
    handle_request,
    stream_read_response,
    validate_read_aggregations,
)
from orestes_spark.engine import OrestesEngine


class _Handler(BaseHTTPRequestHandler):
    engine: OrestesEngine  # bound per-server in serve()
    protocol_version = "HTTP/1.1"

    def log_message(self, *args: object) -> None:  # quiet the test output
        pass

    def do_POST(self) -> None:  # noqa: N802 — http.server contract
        try:
            n = int(self.headers.get("Content-Length") or 0)
            raw = self.rfile.read(n) if n else b""
            body = json.loads(raw) if raw else {}
        except ValueError:
            self._send(400, {"code": "BAD_REQUEST", "message": "invalid JSON body", "info": {}})
            return
        parts = [p for p in self.path.split("?", 1)[0].split("/") if p]
        if not parts:
            self._send(404, {"code": "NOT_FOUND", "message": "unknown endpoint", "info": {}})
            return
        endpoint, space = parts[0], (parts[1] if len(parts) > 1 else "default")
        if endpoint == "read":
            self._stream_read(body, space)
            return
        try:
            payload = handle_request(self.engine, endpoint, body, space)
            self._send(200, payload)
        except ApiError as e:
            self._send(e.status, e.to_json())
        except Exception as e:  # noqa: BLE001 — boundary: everything becomes JSON
            status, payload = error_response(e)
            self._send(status, payload)

    def _stream_read(self, body: dict, space: str) -> None:
        # Request-SHAPE validation fails with a real 400 before the
        # response commits (reference: lib/orestes.js:143-150 rejects
        # bad aggregations at parse time). Execution failures after
        # that point use the in-body '], "error": ...}' terminator —
        # stream_read_response handles those itself.
        try:
            if not isinstance(body, dict):
                # A JSON array/scalar body is a shape violation like
                # any other: reject before the 200 commits — coercing
                # it past validation only to die mid-stream via the
                # in-body error terminator is the wrong failure mode.
                raise ApiError(
                    400, "/read body must be a JSON object", "BAD_REQUEST"
                )
            validate_read_aggregations(body)
        except ApiError as e:
            self._send(e.status, e.to_json())
            return
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Transfer-Encoding", "chunked")
        self.end_headers()
        for chunk in stream_read_response(self.engine, body, space):
            data = chunk.encode()
            self.wfile.write(f"{len(data):x}\r\n".encode() + data + b"\r\n")
        self.wfile.write(b"0\r\n\r\n")

    def _send(self, status: int, payload: object) -> None:
        data = json.dumps(payload, separators=(",", ":")).encode()
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)


def serve(engine: OrestesEngine, host: str = "127.0.0.1", port: int = 0) -> ThreadingHTTPServer:
    """Start the daemon on ``host:port`` (port 0 = ephemeral); returns
    the listening server — ``.server_address`` has the bound port,
    ``.shutdown()`` stops it. The serving thread is a daemon so a
    crashed driver process never hangs on it."""
    handler = type("_BoundHandler", (_Handler,), {"engine": engine})
    srv = ThreadingHTTPServer((host, port), handler)
    thread = threading.Thread(target=srv.serve_forever, name="orestes-http", daemon=True)
    thread.start()
    return srv

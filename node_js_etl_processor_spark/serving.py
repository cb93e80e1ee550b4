"""Read-side serving façade mirroring the reference's REST surface.

The reference (server.js:169-261) exposes a tiny Express app over the
STAGED files — never over the engine: the ETL writes
``data/universities.{json,csv}`` and the endpoints serve those
artifacts back. This module reproduces that contract with the stdlib
``http.server`` (no web-framework dependency), same catalog, same
envelopes:

- ``GET /`` — index with the endpoint catalog (server.js:169-178);
- ``GET /api/universities/csv`` — raw CSV byte passthrough, text/csv +
  attachment headers (S6, server.js:181-197); 404 ``{error,
  suggestion}`` envelope when not yet staged;
- ``GET /api/universities/json`` — the A2 read envelope ``{count,
  data, last_updated}`` over the staged JSON array
  (server.js:200-219);
- ``POST /api/refresh`` — on-demand pipeline rerun (O5,
  server.js:222-239) returning ``{message, recordCount, timestamp}``
  or a 500 ``{error, details, timestamp}``;
- unknown path — 404 ``{error, availableEndpoints}`` catalog envelope
  (O8, server.js:251-261); handler exceptions — 500 ``{error,
  timestamp}`` (server.js:242-248).

Serving reads ONLY driver-local staged artifacts, so no Spark job runs
on the read path; the engine is touched exclusively by POST /refresh.
Both GET endpoints share one small render cache per server: each read
opens the staged file, ``fstat``s that descriptor and reuses the stored
response bytes while ``(st_ino, st_mtime_ns, st_size)`` is unchanged.
The sinks publish by atomic replace, so a refresh changes the key
(a new inode) and the next read renders the new file once; a JSON read
otherwise costs a ``stat`` plus a byte write, like the CSV passthrough.
"""

from __future__ import annotations

import json
import os
import threading
from datetime import datetime, timezone
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any, Callable

AVAILABLE_ENDPOINTS = [
    "GET /",
    "GET /api/universities/csv",
    "GET /api/universities/json",
    "POST /api/refresh",
]

INDEX_BODY = {
    "message": "University ETL API",
    "endpoints": {
        "/api/universities/csv": "Download universities data as CSV",
        "/api/universities/json": "Get universities data as JSON",
        "/api/refresh": "Manually trigger data refresh",
    },
}


def _now_iso() -> str:
    return datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"


def json_envelope(rows: list[dict[str, Any]]) -> dict[str, Any]:
    """A2: the reference's read envelope (server.js:205-209) —
    ``{count, data, last_updated}`` with last_updated taken from the
    first record (the run-constant stamp every row shares)."""
    return {
        "count": len(rows),
        "data": rows,
        "last_updated": (rows[0].get("last_updated") if rows else None),
    }


def _render_json(raw: bytes) -> bytes:
    """A2 response bytes for a staged JSON array (raises on bad JSON)."""
    return json.dumps(json_envelope(json.loads(raw.decode("utf-8")))).encode()


def _render_csv(raw: bytes) -> bytes:
    """S6: the staged CSV is served verbatim (server.js:181-197)."""
    return raw


class _Handler(BaseHTTPRequestHandler):
    server_version = "UniversityETL/1.0"

    # injected by serve(): paths + refresh callable
    json_path: str = "data/universities.json"
    csv_path: str = "data/universities.csv"
    refresh_fn: Callable[[], dict[str, Any]] | None = None
    # path -> ((st_ino, st_mtime_ns, st_size), response bytes); serve()
    # gives every server its own dict. Handler threads share it without a
    # lock: a race at worst renders a file twice or stores an entry whose
    # key the next read sees as stale.
    rendered: dict[str, tuple[tuple[int, int, int], bytes]] = {}

    def log_message(self, fmt: str, *args: Any) -> None:  # quiet tests
        pass

    def _send(self, status: int, body: dict[str, Any] | bytes,
              content_type: str = "application/json",
              extra_headers: dict[str, str] | None = None) -> None:
        payload = body if isinstance(body, bytes) else json.dumps(body).encode()
        self.send_response(status)
        self.send_header("Content-Type", content_type)
        self.send_header("Content-Length", str(len(payload)))
        for k, v in (extra_headers or {}).items():
            self.send_header(k, v)
        self.end_headers()
        self.wfile.write(payload)

    def _staged(self, path: str, render: Callable[[bytes], bytes]) -> bytes:
        """Response bytes for the staged file at ``path``, re-rendered
        only when the file's stat key changes. Raises FileNotFoundError
        like the reference's fs.access gate."""
        with open(path, "rb") as fh:
            st = os.fstat(fh.fileno())
            key = (st.st_ino, st.st_mtime_ns, st.st_size)
            hit = self.rendered.get(path)
            if hit is not None and hit[0] == key:
                return hit[1]
            body = render(fh.read())
        self.rendered[path] = (key, body)
        return body

    def _not_found_catalog(self) -> None:
        self._send(404, {"error": "Endpoint not found",
                         "availableEndpoints": AVAILABLE_ENDPOINTS})

    def do_GET(self) -> None:  # noqa: N802 (stdlib contract)
        try:
            if self.path == "/":
                self._send(200, INDEX_BODY)
            elif self.path == "/api/universities/csv":
                try:
                    data = self._staged(self.csv_path, _render_csv)
                except FileNotFoundError:
                    self._send(404, {
                        "error": "CSV file not found. Please run the ETL process first.",
                        "suggestion": "Try calling /api/refresh to generate the data",
                    })
                    return
                self._send(200, data, content_type="text/csv", extra_headers={
                    "Content-Disposition": "attachment; filename=universities.csv"
                })
            elif self.path == "/api/universities/json":
                try:
                    body = self._staged(self.json_path, _render_json)
                # the reference catches JSON.parse failures in the same
                # try/catch as fs.access (server.js:200-219): an
                # unparseable staged file gets the 404 envelope too
                except (FileNotFoundError, json.JSONDecodeError):
                    self._send(404, {
                        "error": "Data file not found. Please run the ETL process first.",
                        "suggestion": "Try calling /api/refresh to generate the data",
                    })
                    return
                self._send(200, body)
            else:
                self._not_found_catalog()
        except Exception:  # O8 error middleware (server.js:242-248)
            self._send(500, {"error": "Internal server error",
                             "timestamp": _now_iso()})

    def do_POST(self) -> None:  # noqa: N802
        try:
            if self.path == "/api/refresh" and self.refresh_fn is not None:
                result = self.refresh_fn()
                if result.get("success"):
                    self._send(200, {
                        "message": "Data refresh completed successfully",
                        "recordCount": result.get("recordCount", 0),
                        "timestamp": _now_iso(),
                    })
                else:
                    self._send(500, {
                        "error": "Data refresh failed",
                        "details": result.get("error"),
                        "timestamp": _now_iso(),
                    })
            else:
                self._not_found_catalog()
        except Exception:
            self._send(500, {"error": "Internal server error",
                             "timestamp": _now_iso()})


def serve(
    json_path: str = "data/universities.json",
    csv_path: str = "data/universities.csv",
    refresh_fn: Callable[[], dict[str, Any]] | None = None,
    port: int = 0,
) -> tuple[ThreadingHTTPServer, int]:
    """Start the façade on ``port`` (0 = ephemeral) in a daemon thread;
    returns (server, bound_port). Call ``server.shutdown()`` to stop —
    tests drive the full request/response cycle through a real socket.
    """
    handler = type("Handler", (_Handler,), {
        "json_path": json_path,
        "csv_path": csv_path,
        "refresh_fn": staticmethod(refresh_fn) if refresh_fn else None,
        "rendered": {},
    })
    httpd = ThreadingHTTPServer(("127.0.0.1", port), handler)
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    return httpd, httpd.server_address[1]

"""HTTP facade — wire-level parity with the reference's API
(reference http/src/service.rs:111-148):

- ``GET /ping`` → ``pong`` (service.rs:114)
- ``POST /db/execute`` → body ``{"request": {"transaction": bool,
  "statements": [{"sql": str, "parameters": [...]}]}}`` (the
  ExecuteRequest envelope, service.rs:130 + command crate) →
  200 with the JSON responses array; 400 on malformed JSON or engine
  error; 500 with the message on any other failure; 404 for any other
  route (service.rs:117).
- ``POST /db/query`` → same envelope → list of Rows. The reference's
  router never wired this route (SURVEY.md §0 maturity note) although
  its store trait has ``query`` — we complete the intended surface.

Single-writer discipline: all requests funnel through one lock around
the engine session, mirroring the reference's global store mutex
(service.rs:140) — HTTP workers parallelize I/O only.
"""

from __future__ import annotations

import json
import logging
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from dust_spark.model import Request, Statement, responses_to_json, rows_to_json
from dust_spark.session import DustError, DustSession

_log = logging.getLogger(__name__)


def _parse_request(body: bytes) -> Request:
    doc = json.loads(body)
    req = doc.get("request", doc)  # accept both the envelope and the bare Request
    statements = [
        Statement(sql=s.get("sql", ""), parameters=list(s.get("parameters", []) or []))
        for s in req.get("statements", [])
    ]
    return Request(transaction=bool(req.get("transaction", False)), statements=statements)


class DustHttpService:
    """In-process HTTP server over a DustSession (test/dev harness shape
    mirrors the reference's Service::new(threads, addr, store))."""

    def __init__(self, session: DustSession, host: str = "127.0.0.1", port: int = 0):
        self.session = session
        self._lock = threading.Lock()  # the reference's global store mutex
        svc = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):  # silent
                pass

            def do_GET(self):
                if self.path == "/ping":
                    self._reply(200, b"pong")
                else:
                    self._reply(404, b"")

            def do_POST(self):
                if self.path not in ("/db/execute", "/db/query"):
                    self._reply(404, b"")
                    return
                try:
                    length = int(self.headers.get("Content-Length", "0"))
                    req = _parse_request(self.rfile.read(length))
                except (json.JSONDecodeError, AttributeError, TypeError, ValueError) as e:
                    self._reply(400, str(e).encode())
                    return
                try:
                    with svc._lock:
                        if self.path == "/db/execute":
                            out = responses_to_json(svc.session.execute(req))
                        else:
                            out = rows_to_json(svc.session.query(req))
                    self._reply(200, out.encode())
                except DustError as e:
                    self._reply(400, str(e).encode())
                except Exception as e:
                    # anything else is an engine fault: answer it rather
                    # than dropping the connection without a reply
                    _log.exception("request to %s failed", self.path)
                    self._reply(500, str(e).encode())

            def _reply(self, code: int, body: bytes):
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

        self._server = ThreadingHTTPServer((host, port), Handler)
        self._thread: threading.Thread | None = None

    def start(self) -> None:
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()

    @property
    def listening_addr(self) -> tuple[str, int]:
        return self._server.server_address[:2]

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()
        if self._thread:
            self._thread.join(timeout=10)

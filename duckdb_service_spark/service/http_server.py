"""HTTP layer — mirrors the reference service contract byte-for-byte where
it matters (http/service.go):

  POST /db/execute  {"sql": ...} → {"result": {"rows_affected": n}, "took": s}
  POST|GET /db/query {"sql": ...} → {"result": {"columns","types","values"}, "took": s}
  GET  /status                   → node + store stats (service.go:144-193)
  POST /join                     → 501 (no consensus layer; SURVEY §2.1 S4)
  ?pretty                        → indented JSON (service.go:296-337)

Error behavior matches: empty SQL → 400 (service.go:223-227); execution
errors → {"error": str} in the envelope (service.go:236-237).
"""

from __future__ import annotations

import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from .executor import Engine
from .serializer import duck_error_text, execute_result, query_result


# the error class of a scan whose files another engine's commit deleted
_STALE_FILES = "FAILED_READ_FILE.FILE_NOT_EXIST"


def _result(engine: Engine, sql: str, execute: bool) -> dict:
    """The envelope's result for one statement. /db/execute runs a write
    as a write; a query, and anything sent to /db/query, goes through
    run_statement."""
    if execute and not engine.is_query(sql):
        out = engine.execute(sql)
    else:
        kind, out = engine.run_statement(sql)
        if kind == "query":
            return query_result(out)
    if out.returning is not None:
        return query_result(out.returning)
    return execute_result(out.rows_affected)


class EngineHTTPServer:
    def __init__(self, engine: Engine, host: str = "127.0.0.1", port: int = 0):
        self.engine = engine
        self.start_time = time.time()
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet
                pass

            def _send(self, code: int, payload: dict, pretty: bool = False) -> None:
                body = json.dumps(payload, indent=4 if pretty else None).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _pretty(self) -> bool:
                return "pretty" in parse_qs(urlparse(self.path).query)

            def _read_sql(self):
                length = int(self.headers.get("Content-Length", 0))
                try:
                    req = json.loads(self.rfile.read(length) or b"{}")
                except json.JSONDecodeError:
                    self._send(400, {"error": "invalid json"})
                    return None
                sql = (req.get("sql") or "").strip()
                if not sql:
                    # empty-SQL check ≅ http/service.go:223-227
                    self._send(400, {"error": "no sql statement"})
                    return None
                return sql

            def do_POST(self) -> None:
                path = urlparse(self.path).path
                if path == "/db/execute":
                    self._handle(execute=True)
                elif path == "/db/query":
                    self._handle(execute=False)
                elif path == "/join":
                    self._send(501, {"error": "no consensus layer: single-engine deployment"})
                else:
                    self._send(404, {"error": "not found"})

            def _handle(self, execute: bool) -> None:
                sql = self._read_sql()
                if sql is None:
                    return
                t0 = time.time()
                try:
                    with outer.lock:
                        try:
                            result = _result(outer.engine, sql, execute)
                        except Exception as ex:  # noqa: BLE001 — re-raised unless stale
                            if (execute or _STALE_FILES not in str(ex)
                                    or not outer.engine.is_query(sql)):
                                raise
                            # a replica's scan names files the writer's
                            # last commit swept: catch up and read again
                            outer.engine.refresh()
                            result = _result(outer.engine, sql, execute)
                    self._send(
                        200,
                        # milliseconds, matching http/service.go:241
                        {"result": result, "took": (time.time() - t0) * 1000},
                        self._pretty(),
                    )
                except Exception as ex:  # noqa: BLE001 — errors go in the envelope
                    self._send(
                        200,
                        {"error": duck_error_text(ex), "took": (time.time() - t0) * 1000},
                        self._pretty(),
                    )

            def do_GET(self) -> None:
                path = urlparse(self.path).path
                if path == "/db/query":
                    # the reference accepts GET with a JSON body for reads
                    # (http/service.go:249) — mirror it
                    self._handle(execute=False)
                    return
                if path != "/status":
                    self._send(404, {"error": "not found"})
                    return
                status = {
                    "engine": outer.engine.catalog.status(),
                    "uptime_s": time.time() - outer.start_time,
                    "addr": f"{outer.host}:{outer.port}",
                }
                self._send(200, status, self._pretty())

        self.lock = threading.Lock()
        self.httpd = ThreadingHTTPServer((host, port), Handler)
        self.host, self.port = self.httpd.server_address
        self._thread: threading.Thread | None = None

    def start(self) -> "EngineHTTPServer":
        self._thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()

"""Traced launcher for the SQL service.

Starts the same engine and HTTP server as `python -m
duckdb_service_spark.service`, after wrapping the package's public entry
points with span recorders (see tracer.py). Each HTTP request is one traced
request; its Spark jobs run under a job group named after it. On SIGTERM
the server stops and the spans, per-request stage statistics and the live
cache count are written to --spans as JSON.

Usage: python3 perfbench/traced_server.py --spans OUT.json
       [--addr HOST:PORT] [--warehouse DIR]
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import tracer as tr  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description="traced duckdb-service-spark server")
    ap.add_argument("--addr", default="127.0.0.1:4001")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--spans", required=True)
    args = ap.parse_args()
    host, _, port = args.addr.partition(":")

    stop = threading.Event()
    signal.signal(signal.SIGTERM, lambda *_: stop.set())

    from duckdb_service_spark.service.executor import Engine
    from duckdb_service_spark.service.http_server import EngineHTTPServer
    from duckdb_service_spark.session import get_spark

    tracer = tr.Tracer()
    tr.install_service(tracer)

    spark = get_spark("duckdb-service-spark")
    engine = Engine(spark, args.warehouse)
    srv = EngineHTTPServer(engine, host=host, port=int(port or 0))
    srv.lock = tr.TimedLock(tracer)
    handler = srv.httpd.RequestHandlerClass
    handle, read_sql, send = handler._handle, handler._read_sql, handler._send

    def traced_handle(self, execute: bool) -> None:
        rid = tracer.begin(execute=execute)
        spark.sparkContext.setJobGroup(f"req{rid}", "traced request", False)
        try:
            handle(self, execute)
        finally:
            tracer.end(rid)

    def traced_read_sql(self):
        sql = read_sql(self)
        tracer.note(sql=sql, body_start=time.perf_counter_ns())
        return sql

    def traced_send(self, code, payload, pretty=False):
        tracer.note(took_ms=payload.get("took"), error="error" in payload,
                    body_end=time.perf_counter_ns())
        return send(self, code, payload, pretty)

    handler._handle, handler._read_sql, handler._send = traced_handle, traced_read_sql, traced_send

    srv.start()
    print(f"listening on http://{srv.host}:{srv.port} warehouse={args.warehouse}", flush=True)
    while not stop.wait(0.2):
        pass
    srv.stop()
    out = tracer.dump()
    out["stages"] = {rid: tr.stage_stats(spark, f"req{rid}") for rid in out["requests"]}
    out["live_caches"] = tr.live_caches(spark)
    tmp = args.spans + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, args.spans)
    spark.stop()


if __name__ == "__main__":
    main()

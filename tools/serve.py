#!/usr/bin/env python
"""Query interfaces — Interface.scala parity: HTTP POST (:91-128), raw
socket (:48-88), and REPL (:128-134), all on the same engine.

    python tools/serve.py --segments /path/to/segments.parquet            # http
    curl -d "SELECT sid, AVG_S(#) AS avg_s FROM Segment GROUP BY sid" :9999

    python tools/serve.py --segments ... --interface socket
    # then: one query per line over TCP; a line containing SELECT (and not
    # starting with --) executes and returns one JSON line; any other
    # non-empty line closes the connection; an empty line answers
    # "only SELECT is supported" — the reference's exact line protocol.

    python tools/serve.py --segments ... --interface repl
    # interactive: <table>> prompt, one query per line, JSON per line.

The engine applies the reference's '#'/UDAF rewrites (COUNT_S/MIN_S/MAX_S/
SUM_S/AVG_S) before handing the query to Spark SQL.
"""

from __future__ import annotations

import argparse
import json
import os
import socketserver
import sys
import time
from http.server import BaseHTTPRequestHandler, HTTPServer

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _execute(engine, query: str) -> tuple[dict, bool]:
    """(JSON body, ok) for one query — shared by all three interfaces and
    both engines (ModelarEngine returns a Spark DataFrame, EmbeddedEngine
    an Arrow table)."""
    t0 = time.time()
    try:
        res = engine.sql(query)
        if hasattr(res, "collect"):
            rows = [r.asDict(recursive=True) for r in res.collect()]
        else:
            rows = res.to_pylist()
        return {
            "time_ms": round((time.time() - t0) * 1000, 1),
            "rows": rows,
        }, True
    except Exception as e:  # surface analysis errors to the client
        return {"error": str(e).split("\n")[0]}, False


def _serve_http(engine, host: str, port: int) -> None:
    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):  # noqa: N802 (stdlib naming)
            length = int(self.headers.get("Content-Length", 0))
            query = self.rfile.read(length).decode()
            body, ok = _execute(engine, query)
            payload = json.dumps(body, default=str).encode()
            self.send_response(200 if ok else 400)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def log_message(self, *a):  # quiet
            pass

    # bind before announcing: a client may connect as soon as it reads this
    server = HTTPServer((host, port), Handler)
    print(f"listening on {host}:{port}", flush=True)
    server.serve_forever()


def _serve_socket(engine, host: str, port: int) -> None:
    """The reference's raw-socket line protocol (Interface.scala:48-88):
    newline-delimited queries; `--` comments and non-SELECT lines end the
    connection; an empty line gets "only SELECT is supported"."""

    class Handler(socketserver.StreamRequestHandler):
        def handle(self):
            while True:
                raw = self.rfile.readline()
                if not raw:
                    return  # client closed mid-read (the NPE catch)
                query = raw.decode().strip()
                if not query.startswith("--") and "SELECT" in query:
                    body, _ = _execute(engine, query)
                    self.wfile.write(
                        (json.dumps(body, default=str) + "\n").encode()
                    )
                elif query:
                    return  # any other non-empty line closes the connection
                else:
                    self.wfile.write(b"only SELECT is supported\n")

    class Server(socketserver.ThreadingTCPServer):
        allow_reuse_address = True
        daemon_threads = True

    server = Server((host, port), Handler)
    print(f"listening on {host}:{port}", flush=True)
    server.serve_forever()


def _run_query_file(engine, path: str) -> None:
    """The reference's query-file batch mode (Interface.scala:169-185):
    one query per line, `--` comment lines and blanks skipped, one JSON
    line per query to stdout (wall-time included, same `_execute` as the
    other three surfaces; errors surface as {"error": ...} rows rather
    than aborting the batch)."""
    with open(path) as f:
        for line in f:
            q = line.strip()
            if not q or q.startswith("--"):
                continue
            body, _ = _execute(engine, q)
            print(json.dumps(body, default=str), flush=True)


def _serve_repl(engine, table: str) -> None:
    prompt = f"{table}> "
    while True:
        try:
            line = input(prompt)
        except EOFError:
            return
        if not line.strip():
            continue
        body, _ = _execute(engine, line)
        print(json.dumps(body, default=str), flush=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--segments", required=True, help="segment table parquet path")
    ap.add_argument("--port", type=int, default=9999)
    ap.add_argument(
        "--host",
        default="127.0.0.1",
        help="bind address; the endpoint executes Spark SQL, so expose "
        "beyond localhost (e.g. 0.0.0.0) only deliberately",
    )
    ap.add_argument(
        "--interface",
        choices=("http", "socket", "repl", "file"),
        default="http",
        help="Interface.scala's four query surfaces",
    )
    ap.add_argument(
        "--query-file",
        default=None,
        help="with --interface file: path of newline-delimited queries "
        "(`--` comments skipped), one JSON result line per query",
    )
    ap.add_argument("--error-bound", type=float, default=10.0)
    ap.add_argument("--sampling-interval-ms", type=int, default=60_000)
    ap.add_argument(
        "--engine",
        choices=("spark", "embedded"),
        default="spark",
        help="spark = cluster engine; embedded = driver-local DuckDB twin "
        "(the reference's Spark-vs-H2 dual-engine choice) — no JVM, same "
        "segment files, same answers",
    )
    args = ap.parse_args()

    if args.engine == "embedded":
        from modelardb_dynamic_spark.embedded import EmbeddedEngine

        engine = EmbeddedEngine(args.segments)
    else:
        from modelardb_dynamic_spark.config import EngineConfig
        from modelardb_dynamic_spark.engine import ModelarEngine
        from modelardb_dynamic_spark.session import build_session

        spark = build_session("modelardb_dynamic_spark-serve")
        engine = ModelarEngine(
            spark,
            spark.read.parquet(args.segments),
            EngineConfig(
                error_bound=args.error_bound,
                sampling_interval_ms=args.sampling_interval_ms,
            ),
        )
        engine.register_views()

    if args.interface == "http":
        _serve_http(engine, args.host, args.port)
    elif args.interface == "socket":
        _serve_socket(engine, args.host, args.port)
    elif args.interface == "file":
        if not args.query_file:
            ap.error("--interface file requires --query-file")
        _run_query_file(engine, args.query_file)
    else:
        _serve_repl(engine, os.path.basename(args.segments.rstrip("/")))


if __name__ == "__main__":
    main()

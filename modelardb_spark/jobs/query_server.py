"""Query endpoint: the reference's QueryInterface entry points at
library scale (remote/QueryInterface.scala:35-106 dispatches on
`modelardb.interface` to a SOCKET server, a query FILE, or a stdin
REPL; results stream back as JSON — QueryInterface.scala:59-63).

Modes (mutually exclusive, REPL is the default):

    # one-shot
    python -m modelardb_spark.jobs.query_server \
        --events /root/testdata/sf0.001/events.parquet \
        --sql "SELECT MIN_S(#) FROM segments"

    # reference file mode: ;-separated statements
    ... --file queries.sql

    # reference socket mode: one SQL statement per line, JSON rows back
    ... --socket-port 9999

Reference-style SQL runs verbatim: the session carries the `segments`
and `data_points` views (operators/views.py), the COUNT_S..AVG_S
aggregates, START/END/START_END restrictions, and the `#` argument
sugar (operators/sqlfunctions.py). Segments come from a prior ingest
run (--segments-dir, reading the stored table) or are fitted on the
fly from an events parquet (--events).
"""

from __future__ import annotations

import argparse
import json
import socketserver
import sys

from pyspark.sql import DataFrame, SparkSession

from modelardb_spark.config import EngineConfig
from modelardb_spark.operators.sqlfunctions import (
    register_sql_functions,
    segment_sql,
)
from modelardb_spark.operators.views import register_views


def prepare_session(
    spark: SparkSession,
    events: str | None = None,
    segments_dir: str | None = None,
    error_bound: float = 0.0,
    cfg: EngineConfig | None = None,
    fmt: str = "parquet",
    catalog_kind: str = "dir",
) -> DataFrame:
    """Register the query surface (views + SQL functions) over segments
    fitted from `events` or read from a stored ingest output; returns
    the segments frame. `cfg` carries the full engine knob set (a
    declarative config passes it; `error_bound` alone is the CLI
    shortcut); `fmt` must match the stored table's format ("parquet"
    or "orc" — an ORC ingest output is queried with fmt="orc");
    `catalog_kind` selects the table layout ("dir", "snapshot" for the
    ACID manifest catalog, "jdbc" for the RDBMS backend)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    cfg = cfg if cfg is not None else EngineConfig(error_bound=error_bound)
    if segments_dir is not None:
        if catalog_kind == "dir":
            seg = spark.read.format(fmt).load(f"{segments_dir}/segments")
        else:
            from modelardb_spark.io.snapshots import make_catalog

            seg = make_catalog(segments_dir, fmt, catalog_kind).read(
                spark, "segments"
            )
    elif events is not None:
        from modelardb_spark.jobs.ingest import fit_turns
        from modelardb_spark.operators.transcripts import transcripts_from_events

        import os

        sf_dir = os.path.dirname(os.path.abspath(events))
        seg = fit_turns(transcripts_from_events(spark, sf_dir), cfg)
    else:
        raise ValueError("one of --events / --segments-dir is required")
    register_views(spark, seg)
    register_sql_functions(spark)
    return seg


def execute(spark: SparkSession, sql: str) -> DataFrame:
    """Run one reference-style statement (expands the `#` sugar)."""
    return segment_sql(spark, sql)


def rows_json(df: DataFrame, limit: int = 1000) -> list[str]:
    """Result rows as JSON lines (QueryInterface.scala:59-63 streams
    JSON back on every interface)."""
    return [
        json.dumps(r.asDict(recursive=True), default=str)
        for r in df.limit(limit).collect()
    ]


def make_socket_server(
    spark: SparkSession, host: str = "127.0.0.1", port: int = 0, limit: int = 1000
) -> socketserver.ThreadingTCPServer:
    """Line protocol: one SQL statement in, JSON rows out, terminated
    by `-- ok <n>` or `-- error <msg>` (the reference's socket
    interface shape). Returns the (not yet serving) server so callers
    own the lifecycle; `server.server_address[1]` is the bound port."""

    class Handler(socketserver.StreamRequestHandler):
        def handle(self) -> None:
            for raw in self.rfile:
                q = raw.decode("utf-8", errors="replace").strip().rstrip(";")
                if not q:
                    continue
                try:
                    out = rows_json(execute(spark, q), limit)
                    for line in out:
                        self.wfile.write(line.encode() + b"\n")
                    self.wfile.write(f"-- ok {len(out)}\n".encode())
                except Exception as e:  # surface, never kill the server
                    msg = str(e).replace("\n", " ")[:500]
                    self.wfile.write(f"-- error {msg}\n".encode())
                self.wfile.flush()

    srv = socketserver.ThreadingTCPServer((host, port), Handler)
    srv.daemon_threads = True
    return srv


def make_http_server(
    spark: SparkSession, host: str = "127.0.0.1", port: int = 0, limit: int = 1000
):
    """HTTP mode (the reference's `modelardb.interface http`,
    QueryInterface.scala:35-106): POST the SQL as the request body (or
    GET /?q=...), receive JSON lines. Returns the (not yet serving)
    server; `server.server_address[1]` is the bound port."""
    import http.server
    import urllib.parse

    class Handler(http.server.BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet
            pass

        def _run(self, q: str) -> None:
            try:
                body = "\n".join(rows_json(execute(spark, q), limit)) + "\n"
                code = 200
            except Exception as e:
                body = json.dumps({"error": str(e)[:500]}) + "\n"
                code = 400
            data = body.encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def do_GET(self) -> None:
            qs = urllib.parse.urlparse(self.path).query
            q = urllib.parse.parse_qs(qs).get("q", [""])[0]
            self._run(q)

        def do_POST(self) -> None:
            n = int(self.headers.get("Content-Length", "0"))
            self._run(self.rfile.read(n).decode("utf-8", errors="replace"))

    return http.server.ThreadingHTTPServer((host, port), Handler)


def run_statements(spark: SparkSession, text: str, limit: int) -> None:
    for stmt in text.split(";"):
        if stmt.strip():
            for line in rows_json(execute(spark, stmt), limit):
                print(line)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--config", help="TOML config (modelardb_spark."
                    "config_file): [engine]+[query_server]+[derived] drive"
                    " the session and interface mode")
    ap.add_argument("--events", help="events parquet to fit on the fly")
    ap.add_argument("--segments-dir", help="ingest output root with segments/")
    ap.add_argument("--catalog", default="dir",
                    choices=["dir", "snapshot", "jdbc", "cql"],
                    help="segments-dir table layout")
    ap.add_argument("--format", default="parquet", choices=["parquet", "orc"],
                    help="stored segments format (must match the ingest"
                    " --format that wrote --segments-dir)")
    ap.add_argument("--error-bound", type=float, default=0.0)
    ap.add_argument("--sql", help="one-shot statement(s), ;-separated")
    ap.add_argument("--file", help="query file, ;-separated statements")
    ap.add_argument("--socket-port", type=int, help="serve a TCP line protocol")
    ap.add_argument("--http-port", type=int, help="serve HTTP (POST SQL / GET ?q=)")
    ap.add_argument("--flight-port", type=int,
                    help="serve Arrow Flight (the reference's DEFAULT "
                    "interface, `modelardb.interface arrow`): do_get "
                    "with a SQL ticket streams the result as Arrow "
                    "record batches; do_put receives segment tables")
    ap.add_argument(
        "--host",
        default="127.0.0.1",
        help="bind address for --socket-port/--http-port; the server "
        "executes arbitrary Spark SQL unauthenticated, so it binds "
        "loopback unless you deliberately expose it (e.g. 0.0.0.0)",
    )
    ap.add_argument("--limit", type=int, default=1000, help="max rows per result")
    args = ap.parse_args(argv)

    from modelardb_spark.session import get_spark

    spark = get_spark(app_name="modelardb-query-server")
    if args.config:
        from modelardb_spark.config_file import load_config, prepare_query_session

        conf = load_config(args.config)
        prepare_query_session(spark, conf)
        qs = conf.get("query_server", {})
        mode = qs.get("mode", "repl")
        args.limit = int(qs.get("limit", args.limit))
        args.host = qs.get("host", args.host)
        if mode == "sql":
            args.sql = qs["sql"]
        elif mode == "file":
            args.file = qs["file"]
        elif mode == "socket":
            args.socket_port = int(qs.get("port", 0))
        elif mode == "http":
            args.http_port = int(qs.get("port", 0))
        elif mode == "flight":
            args.flight_port = int(qs.get("port", 0))
    else:
        prepare_session(spark, args.events, args.segments_dir,
                        error_bound=args.error_bound, fmt=args.format,
                        catalog_kind=args.catalog)

    if args.sql:
        run_statements(spark, args.sql, args.limit)
    elif args.file:
        with open(args.file) as f:
            run_statements(spark, f.read(), args.limit)
    elif args.socket_port is not None:
        srv = make_socket_server(spark, args.host, args.socket_port, args.limit)
        print(f"-- serving on {srv.server_address[0]}:{srv.server_address[1]}")
        srv.serve_forever()
    elif args.http_port is not None:
        srv = make_http_server(spark, args.host, args.http_port, args.limit)
        print(f"-- http on {srv.server_address[0]}:{srv.server_address[1]}")
        srv.serve_forever()
    elif args.flight_port is not None:
        import tempfile

        from modelardb_spark.remote.flight import SegmentFlightServer

        srv = SegmentFlightServer(
            tempfile.mkdtemp(prefix="mdb-flight-recv-"),
            host=args.host, port=args.flight_port, spark=spark,
        )
        print(f"-- flight on grpc://{args.host}:{srv.port}")
        srv.serve()
    else:  # REPL
        print("-- modelardb_spark SQL (reference-style, # sugar); Ctrl-D exits")
        for raw in sys.stdin:
            q = raw.strip().rstrip(";")
            if not q:
                continue
            try:
                for line in rows_json(execute(spark, q), args.limit):
                    print(line)
            except Exception as e:
                print(f"-- error {e}")


if __name__ == "__main__":
    main()

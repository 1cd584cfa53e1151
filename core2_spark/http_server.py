"""Minimal HTTP query boundary (reference README.adoc:14 context —
upstream core2 ships an HTTP server module alongside pgwire/Flight;
SURVEY.md §3 client boundary).

A protocol codec over ``service``: one JSON body parser, one error
path and one result encoder serve every route, and every query takes
the one path build → guard (``df_to_arrow`` executes it once).

- ``POST /query`` with ``{"sql": "...", "basis": token?}`` → the
  result, at the snapshot the optional basis token names;
- ``POST /xtql`` with ``{"query": [<pipeline ops>], "basis": token?}``
  → the result of an XTQL pipeline (the xtql.py dict representation);
- ``POST /tx`` with ``{"statements": ["...", ...], "tx_time": ...?}``
  → the statements run as ONE engine transaction via
  ``Engine.sql_dml_many``; the response carries the committed
  transaction time;
- ``GET /tables`` → the table catalog;
- ``GET /basis`` → the current log head as a portable basis token, so
  a client can pin one snapshot across requests — the reference's
  pass-a-basis contract over HTTP;
- ``GET /changes?table=t&since=...[&until=...]`` → the CDC feed
  (``Snapshot.changes``) for that window — an HTTP consumer can tail
  the transaction log with a cursor over its last-seen system time.

Results are an Arrow IPC stream when the request's ``Accept`` names
``application/vnd.apache.arrow.stream``, else JSON ``{"columns": [...],
"rows": [[...], ...]}``.  Every route but ``/query`` needs an attached
engine.  Failures are 400s with ``{"error": message, "sqlstate": code}``
(``service.error``), and the ``max_result_rows`` guard refuses to
materialize unreduced scans on the driver.
"""

from __future__ import annotations

import json
import threading
from collections.abc import Callable
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

import pyarrow as pa
from pyspark.sql import DataFrame

from core2_spark import service
from core2_spark.service import Statements, df_to_arrow

ARROW_MIME = "application/vnd.apache.arrow.stream"


def _table_to_ipc(table: pa.Table) -> bytes:
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as writer:
        writer.write_table(table)
    return sink.getvalue().to_pybytes()


def _table_to_json(table: pa.Table) -> bytes:
    cols = table.column_names
    rows = [
        [None if v is None else (v if isinstance(v, (int, float, str, bool)) else str(v)) for v in rec]
        for rec in zip(*[table.column(c).to_pylist() for c in cols])
    ]
    return json.dumps({"columns": cols, "rows": rows}).encode()


class SqlHttpServer:
    """Serve ``executor(sql) -> DataFrame`` over HTTP on a background
    thread.  ``port=0`` picks a free port (exposed as ``.port``)."""

    def __init__(
        self,
        executor: Callable[[str], DataFrame],
        port: int = 0,
        max_result_rows: int = 1_000_000,
        engine=None,
    ):
        statements = Statements(executor, engine)

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, fmt, *args):  # quiet test output
                pass

            def _send(self, code: int, body: bytes, ctype: str) -> None:
                self.send_response(code)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _send_json(self, code: int, obj) -> None:
                self._send(code, json.dumps(obj).encode(), "application/json")

            def _send_result(self, df: DataFrame) -> None:
                table = df_to_arrow(df, max_result_rows)
                if ARROW_MIME in self.headers.get("Accept", ""):
                    self._send(200, _table_to_ipc(table), ARROW_MIME)
                else:
                    self._send(200, _table_to_json(table), "application/json")

            def _body(self, key: str, kind: type = str) -> dict:
                """The JSON request body; ``key`` must hold a non-empty
                ``kind``."""
                try:
                    n = int(self.headers.get("Content-Length", "0"))
                    spec = json.loads(self.rfile.read(n).decode())
                    value = spec[key]
                except (ValueError, KeyError, TypeError) as exc:
                    raise ValueError(f"bad request body: {exc!r}") from exc
                if not isinstance(value, kind) or not value:
                    raise ValueError(f"bad request body: {key!r} must be a non-empty {kind.__name__}")
                return spec

            def _route(self, routes: dict) -> None:
                url = urlparse(self.path)
                handle = routes.get(url.path)
                if handle is None:
                    return self._send_json(404, {"error": f"no route {self.path}"})
                try:
                    handle(self, parse_qs(url.query))
                except Exception as exc:
                    sqlstate, message = service.error(exc)
                    self._send_json(400, {"error": message, "sqlstate": sqlstate})

            def do_GET(self):
                self._route(GET)

            def do_POST(self):
                self._route(POST)

            def query(self, _params):
                spec = self._body("sql")
                self._send_result(statements.build(spec["sql"], spec.get("basis")))

            def xtql(self, _params):
                spec = self._body("query", list)
                snap = statements.snapshot(spec.get("basis"))
                self._send_result(snap.xtql(spec["query"]))

            def tx(self, _params):
                spec = self._body("statements", list)
                basis = statements.engine.sql_dml_many(
                    spec["statements"], tx_time=spec.get("tx_time")
                )
                self._send_json(200, {"tx_time": basis.current_time.isoformat()})

            def changes(self, params):
                if "table" not in params or "since" not in params:
                    raise ValueError("required query params: table, since (until optional)")
                feed = statements.engine.db().changes(
                    params["table"][0],
                    since=params["since"][0],
                    until=params.get("until", [None])[0],
                )
                self._send_result(feed)

            def basis(self, _params):
                self._send_json(200, {"basis": statements.head_token()})

            def tables(self, _params):
                self._send_json(200, {"tables": sorted(statements.engine._all_tables())})

        GET = {"/changes": Handler.changes, "/basis": Handler.basis, "/tables": Handler.tables}
        POST = {"/query": Handler.query, "/xtql": Handler.xtql, "/tx": Handler.tx}

        self._httpd = ThreadingHTTPServer(("127.0.0.1", port), Handler)
        self.port = self._httpd.server_address[1]
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()

    def shutdown(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()


def http_query(port: int, sql: str, arrow: bool = False):
    """Client helper: POST a query; returns a pyarrow Table (arrow=True)
    or the decoded JSON payload."""
    import urllib.request

    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/query",
        data=json.dumps({"sql": sql}).encode(),
        headers={
            "Content-Type": "application/json",
            "Accept": ARROW_MIME if arrow else "application/json",
        },
    )
    with urllib.request.urlopen(req) as resp:
        body = resp.read()
    if arrow:
        return pa.ipc.open_stream(body).read_all()
    return json.loads(body)

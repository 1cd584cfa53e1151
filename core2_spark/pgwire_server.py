"""Minimal PostgreSQL wire-protocol (v3) query server (reference
README.adoc:14 context — upstream core2 ships a `pgwire.clj` module;
SURVEY.md §3 client boundary).

A protocol codec over ``service``: every statement takes the one path
classify → bind → build → guard.  Queries execute once
(``df_to_arrow``); DML and maintenance statements run through
``Engine.sql_dml`` and answer with a CommandComplete tag (row counts
unreported — DML compiles against the pre-tx snapshot, counting would
double-execute it — matching the FlightSQL boundary's -1).

The simple-query subset of the public protocol:

- SSLRequest → refused with 'N' (plaintext only, in-container use);
- StartupMessage (protocol 3.0) → AuthenticationOk, ParameterStatus
  (server_version / client_encoding), ReadyForQuery;
- Query ('Q') → RowDescription / DataRow* / CommandComplete /
  ReadyForQuery, all values in text format with proper type OIDs for
  the common Spark types;
- errors → ErrorResponse carrying the statement's SQLSTATE
  (``service.error``) + ReadyForQuery (the session survives);
- Terminate ('X') → close.

Extended query protocol: Parse ('P') / Bind ('B') / Describe ('D') /
Execute ('E') / Close ('C') / Flush ('H') / Sync ('S') — the flow real
drivers (psycopg, JDBC) send even for plain SELECTs.  Named and
unnamed statements/portals, text-format results, text-format
parameters bound to ``$1``..``$n`` at Bind time (``service.bind``;
a binary-format parameter is refused with SQLSTATE 0A000),
NoData/EmptyQueryResponse where the spec requires.  Describe on a
statement answers from the analyzed schema; Describe and Execute on a
portal share one execution.  After an error in extended mode the
session skips messages until Sync (per the spec).  Execute's max-row
count is not honored (all rows stream, no PortalSuspended) — stock
drivers send 0 (= no limit).

COPY and auth methods beyond trust are not implemented — the same
"preliminary driver support" tier as the Flight SQL boundary.
"""

from __future__ import annotations

import socketserver
import struct
import threading
from collections.abc import Callable

from pyspark.sql import DataFrame

from core2_spark import service
from core2_spark.service import Statements, bind, classify, df_to_arrow

# PostgreSQL type OIDs for the text-format encoding of Spark types —
# keyed by BOTH Spark simpleString names (bigint, double) and Arrow
# type names (int64, float64, bool), since row descriptions are built
# from whichever schema is at hand.
_OID = {
    "boolean": 16,
    "bool": 16,
    "bigint": 20,
    "int64": 20,
    "smallint": 21,
    "int16": 21,
    "int": 23,
    "integer": 23,
    "int32": 23,
    "double": 701,
    "float64": 701,
    "float": 700,
    "float32": 700,
    "date": 1082,
    "date32": 1082,
    "timestamp": 1114,
    "timestamp_ntz": 1114,
    "string": 25,
}
_TEXT_OID = 25


def _spark_type_oid(simple: str) -> int:
    base = simple.split("(")[0].split("[")[0]
    return _OID.get(base, _TEXT_OID)


def _msg(tag: bytes, payload: bytes) -> bytes:
    return tag + struct.pack("!I", len(payload) + 4) + payload


class _Unsupported(ValueError):
    """A protocol feature this server refuses (SQLSTATE 0A000,
    feature_not_supported)."""

    def getSqlState(self) -> str:
        return "0A000"


def _cstr(s: str) -> bytes:
    return s.encode() + b"\x00"


class PgWireServer:
    """Serve ``executor(sql) -> DataFrame`` over the pg simple-query
    protocol on a background thread; ``port=0`` picks a free port."""

    def __init__(
        self,
        executor: Callable[[str], DataFrame],
        port: int = 0,
        max_result_rows: int = 1_000_000,
        engine=None,
    ):
        statements = Statements(executor, engine)

        class Handler(socketserver.BaseRequestHandler):
            def _send(self, data: bytes) -> None:
                self.request.sendall(data)

            def _recv_exact(self, n: int) -> bytes:
                buf = b""
                while len(buf) < n:
                    chunk = self.request.recv(n - len(buf))
                    if not chunk:
                        raise ConnectionError("client closed")
                    buf += chunk
                return buf

            def _ready(self) -> None:
                self._send(_msg(b"Z", b"I"))

            def _error(self, exc: Exception) -> None:
                sqlstate, message = service.error(exc)
                payload = (
                    b"S" + _cstr("ERROR")
                    + b"C" + _cstr(sqlstate)
                    + b"M" + _cstr(message)
                    + b"\x00"
                )
                self._send(_msg(b"E", payload))

            def _startup(self) -> bool:
                while True:
                    (length,) = struct.unpack("!I", self._recv_exact(4))
                    body = self._recv_exact(length - 4)
                    (code,) = struct.unpack("!I", body[:4])
                    if code == 80877103:  # SSLRequest
                        self._send(b"N")
                        continue
                    if code == 80877102:  # CancelRequest — ignore
                        return False
                    if code >> 16 == 3:  # protocol 3.x startup
                        self._send(_msg(b"R", struct.pack("!I", 0)))  # AuthOk
                        for k, v in (
                            ("server_version", "16.0 (core2-spark)"),
                            ("client_encoding", "UTF8"),
                            ("DateStyle", "ISO"),
                        ):
                            self._send(_msg(b"S", _cstr(k) + _cstr(v)))
                        self._ready()
                        return True
                    self._error(ValueError(f"unsupported protocol code {code}"))
                    return False

            def _row_description_raw(self, names_types) -> bytes:
                fields = b"".join(
                    _cstr(name)
                    + struct.pack(
                        "!IhIhih",
                        0,  # table oid
                        0,  # attnum
                        _spark_type_oid(type_str),
                        -1,  # typlen (varlena)
                        -1,  # typmod
                        0,  # text format
                    )
                    for name, type_str in names_types
                )
                return _msg(
                    b"T", struct.pack("!h", len(names_types)) + fields
                )

            def _row_description(self, table) -> bytes:
                return self._row_description_raw(
                    [
                        (name, str(table.schema.field(name).type))
                        for name in table.column_names
                    ]
                )

            def _send_data_rows(self, table) -> None:
                cols = [table.column(c).to_pylist() for c in table.column_names]
                for rec in zip(*cols) if cols else []:
                    row = struct.pack("!h", len(rec))
                    for v in rec:
                        if v is None:
                            row += struct.pack("!i", -1)
                        else:
                            if isinstance(v, bool):
                                b = b"t" if v else b"f"
                            else:
                                b = str(v).encode()
                            row += struct.pack("!i", len(b)) + b
                    self._send(_msg(b"D", row))

            def _run(self, sql: str, portal: dict | None = None) -> None:
                """Run one statement: a write answers with its tag, a
                query streams its rows (a portal's rows were fetched
                by Describe already, if it came first)."""
                if not sql:
                    self._send(_msg(b"I", b""))  # EmptyQueryResponse
                    return
                tag = classify(sql)
                if tag is not None:
                    statements.engine.sql_dml(sql)
                    self._send(_msg(b"C", _cstr(tag)))
                    return
                if portal is None:
                    table = df_to_arrow(statements.build(sql), max_result_rows)
                    self._send(self._row_description(table))
                else:
                    table = self._portal_table(portal)
                self._send_data_rows(table)
                self._send(_msg(b"C", _cstr(f"SELECT {table.num_rows}")))

            # -- extended query protocol --------------------------------
            @staticmethod
            def _read_cstr(body: bytes, i: int) -> tuple[str, int]:
                j = body.index(b"\x00", i)
                return body[i:j].decode(), j + 1

            def _portal_table(self, portal: dict):
                """Execute the portal's query once, lazily: Describe
                and Execute share the result (drivers Describe right
                before Execute; running twice would double-execute).
                DML portals have no row description (NoData) — they
                run at Execute time."""
                if "table" not in portal:
                    sql = portal["sql"]
                    portal["table"] = (
                        df_to_arrow(statements.build(sql), max_result_rows)
                        if sql and classify(sql) is None
                        else None
                    )
                return portal["table"]

            def _handle_extended(self, tag: bytes, body: bytes) -> None:
                if tag == b"P":  # Parse
                    name, i = self._read_cstr(body, 0)
                    sql, i = self._read_cstr(body, i)
                    # declared parameter-type OIDs are accepted and
                    # ignored (text-format substitution at Bind)
                    self._stmts[name] = sql.strip().rstrip(";")
                    self._send(_msg(b"1", b""))  # ParseComplete
                    return
                if tag == b"B":  # Bind
                    portal, i = self._read_cstr(body, 0)
                    stmt, i = self._read_cstr(body, i)
                    if stmt not in self._stmts:
                        raise ValueError(f"unknown prepared statement {stmt!r}")
                    (nfmt,) = struct.unpack_from("!h", body, i)
                    codes = struct.unpack_from(f"!{nfmt}h", body, i + 2)
                    i += 2 + 2 * nfmt
                    (nparams,) = struct.unpack_from("!h", body, i)
                    i += 2
                    # no codes = all text; one code applies to every
                    # parameter; else one code per parameter (1 = binary)
                    if nparams and any(codes):
                        raise _Unsupported(
                            "binary-format parameters are not supported; "
                            "send parameters in text format"
                        )
                    params: list[str | None] = []
                    for _ in range(nparams):
                        (ln,) = struct.unpack_from("!i", body, i)
                        i += 4
                        if ln == -1:
                            params.append(None)
                        else:
                            params.append(body[i : i + ln].decode())
                            i += ln
                    sql = bind(self._stmts[stmt], params, "$")
                    self._portals[portal] = {"sql": sql}
                    self._send(_msg(b"2", b""))  # BindComplete
                    return
                if tag == b"D":  # Describe
                    kind, body_rest = body[:1], body[1:]
                    name, _ = self._read_cstr(body_rest, 0)
                    if kind == b"S":
                        if name not in self._stmts:
                            raise ValueError(f"unknown prepared statement {name!r}")
                        # parameterless after Bind-time substitution
                        self._send(_msg(b"t", struct.pack("!h", 0)))
                        sql = self._stmts[name]
                        if not sql or classify(sql) is not None:
                            self._send(_msg(b"n", b""))  # NoData
                        else:
                            # ANALYSIS ONLY: Describe must not execute
                            # the query — Spark's analyzed schema gives
                            # the row description for free
                            df = statements.build(sql)
                            self._send(
                                self._row_description_raw(
                                    [
                                        (f.name, f.dataType.simpleString())
                                        for f in df.schema.fields
                                    ]
                                )
                            )
                        return
                    portal = self._portals.get(name)
                    if portal is None:
                        raise ValueError(f"unknown portal {name!r}")
                    table = self._portal_table(portal)
                    if table is None:
                        self._send(_msg(b"n", b""))  # NoData
                    else:
                        self._send(self._row_description(table))
                    return
                if tag == b"E":  # Execute (max-rows count ignored)
                    name, _ = self._read_cstr(body, 0)
                    portal = self._portals.get(name)
                    if portal is None:
                        raise ValueError(f"unknown portal {name!r}")
                    self._run(portal["sql"], portal)
                    return
                if tag == b"C":  # Close statement/portal
                    kind, body_rest = body[:1], body[1:]
                    name, _ = self._read_cstr(body_rest, 0)
                    (self._stmts if kind == b"S" else self._portals).pop(name, None)
                    self._send(_msg(b"3", b""))  # CloseComplete
                    return
                raise ValueError(f"unsupported extended message {tag!r}")

            def handle(self):
                self._stmts: dict[str, str] = {}
                self._portals: dict[str, dict] = {}
                # after an extended-protocol error, skip until Sync
                skip_to_sync = False
                try:
                    if not self._startup():
                        return
                    while True:
                        tag = self._recv_exact(1)
                        (length,) = struct.unpack("!I", self._recv_exact(4))
                        body = self._recv_exact(length - 4)
                        if tag == b"X":  # Terminate
                            return
                        if tag == b"S":  # Sync
                            skip_to_sync = False
                            self._ready()
                            continue
                        if skip_to_sync:
                            continue
                        if tag == b"H":  # Flush — sendall is unbuffered
                            continue
                        if tag == b"Q":
                            sql = body.rstrip(b"\x00").decode()
                            try:
                                self._run(sql.strip().rstrip(";"))
                            except Exception as exc:
                                self._error(exc)
                            self._ready()
                            continue
                        if tag in (b"P", b"B", b"D", b"E", b"C"):
                            try:
                                self._handle_extended(tag, body)
                            except Exception as exc:
                                self._error(exc)
                                skip_to_sync = True
                            continue
                        self._error(ValueError(f"unsupported message {tag!r}"))
                        self._ready()
                except (ConnectionError, OSError):
                    return

        class Server(socketserver.ThreadingTCPServer):
            allow_reuse_address = True
            daemon_threads = True

        self._server = Server(("127.0.0.1", port), Handler)
        self.port = self._server.server_address[1]
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )
        self._thread.start()

    def shutdown(self) -> None:
        self._server.shutdown()
        self._server.server_close()

"""pgwire boundary: a hand-built protocol-v3 client (no postgres
driver in the container) connects, introspects the handshake, runs
queries — temporal dialect included — and survives errors."""

from __future__ import annotations

import os
import shutil
import socket
import struct

import pytest

from core2_spark.engine import Engine, Put

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.join(REPO, "_data", "pgwire_test")


@pytest.fixture
def engine(spark):
    shutil.rmtree(ROOT, ignore_errors=True)
    return Engine(spark, ROOT)


class MiniPgClient:
    """Just enough of the public PostgreSQL v3 wire protocol to act as
    a driver: SSLRequest probe, startup, simple Query, message
    parsing."""

    def __init__(self, port: int):
        self.sock = socket.create_connection(("127.0.0.1", port))
        # SSL probe first, like libpq does by default
        self.sock.sendall(struct.pack("!II", 8, 80877103))
        assert self.sock.recv(1) == b"N"  # server: plaintext only
        params = b"user\x00test\x00database\x00core2\x00\x00"
        body = struct.pack("!I", 196608) + params
        self.sock.sendall(struct.pack("!I", len(body) + 4) + body)
        self.params = {}
        for tag, payload in self._messages_until(b"Z"):
            if tag == b"R":
                assert struct.unpack("!I", payload)[0] == 0  # AuthOk
            elif tag == b"S":
                k, v = payload.split(b"\x00")[:2]
                self.params[k.decode()] = v.decode()

    def _recv_exact(self, n: int) -> bytes:
        buf = b""
        while len(buf) < n:
            chunk = self.sock.recv(n - len(buf))
            assert chunk, "server closed"
            buf += chunk
        return buf

    def _messages_until(self, stop_tag: bytes):
        while True:
            tag = self._recv_exact(1)
            (length,) = struct.unpack("!I", self._recv_exact(4))
            payload = self._recv_exact(length - 4)
            yield tag, payload
            if tag == stop_tag:
                return

    def query(self, sql: str):
        """Returns (columns, rows, error_or_None)."""
        body = sql.encode() + b"\x00"
        self.sock.sendall(b"Q" + struct.pack("!I", len(body) + 4) + body)
        columns, rows, error = [], [], None
        for tag, payload in self._messages_until(b"Z"):
            if tag == b"T":
                (n,) = struct.unpack("!h", payload[:2])
                i = 2
                for _ in range(n):
                    end = payload.index(b"\x00", i)
                    columns.append(payload[i:end].decode())
                    i = end + 1 + 18  # fixed-width field descriptor
            elif tag == b"D":
                (n,) = struct.unpack("!h", payload[:2])
                i = 2
                rec = []
                for _ in range(n):
                    (ln,) = struct.unpack("!i", payload[i : i + 4])
                    i += 4
                    if ln == -1:
                        rec.append(None)
                    else:
                        rec.append(payload[i : i + ln].decode())
                        i += ln
                rows.append(rec)
            elif tag == b"E":
                fields = dict(
                    (chunk[:1], chunk[1:].decode())
                    for chunk in payload.split(b"\x00")
                    if chunk
                )
                error = fields.get(b"M", "unknown error")
                self.sqlstate = fields.get(b"C")
        return columns, rows, error

    def close(self):
        self.sock.sendall(b"X" + struct.pack("!I", 4))
        self.sock.close()


def test_pgwire_query_roundtrip(spark, engine):
    from core2_spark.pgwire_server import PgWireServer

    v1 = spark.createDataFrame(
        [(1, "AAPL", 100.0), (2, "MSFT", 200.0)], "id long, sym string, px double"
    )
    engine.submit_tx([Put("trades", v1)], tx_time="2024-01-01 00:00:01")
    fix = spark.createDataFrame([(1, "AAPL", 111.0)], "id long, sym string, px double")
    engine.submit_tx([Put("trades", fix)], tx_time="2024-02-01 00:00:00")

    server = PgWireServer(lambda sql: engine.db().sql(sql))
    try:
        client = MiniPgClient(server.port)
        assert client.params.get("client_encoding") == "UTF8"

        cols, rows, err = client.query("SELECT id, sym, px FROM trades ORDER BY id")
        assert err is None
        assert cols == ["id", "sym", "px"]
        assert rows == [["1", "AAPL", "111.0"], ["2", "MSFT", "200.0"]]

        # temporal dialect over pgwire
        cols, rows, err = client.query(
            "SELECT id, px FROM trades FOR SYSTEM_TIME AS OF "
            "TIMESTAMP '2024-01-15 00:00:00' ORDER BY id"
        )
        assert err is None
        assert [r[1] for r in rows] == ["100.0", "200.0"]

        # an error leaves the session usable (ErrorResponse then Ready)
        _, _, err = client.query("SELECT * FROM nope")
        assert err is not None and "nope" in err
        cols, rows, err = client.query("SELECT COUNT(*) AS n FROM trades")
        assert err is None and rows == [["2"]]

        client.close()
    finally:
        server.shutdown()


class ExtendedPgClient(MiniPgClient):
    """Adds the extended-query flow a real driver sends even for plain
    SELECTs: Parse → Bind → Describe(portal) → Execute → Sync."""

    def _send_msg(self, tag: bytes, payload: bytes) -> None:
        self.sock.sendall(tag + struct.pack("!I", len(payload) + 4) + payload)

    @staticmethod
    def _cstr(s: str) -> bytes:
        return s.encode() + b"\x00"

    def parse(self, stmt: str, sql: str) -> None:
        self._send_msg(
            b"P", self._cstr(stmt) + self._cstr(sql) + struct.pack("!h", 0)
        )

    def bind(
        self,
        portal: str,
        stmt: str,
        params: list[str | bytes | None] = (),
        formats: list[int] = (),
    ) -> None:
        body = self._cstr(portal) + self._cstr(stmt)
        # param format codes: none = all text
        body += struct.pack(f"!h{len(formats)}h", len(formats), *formats)
        body += struct.pack("!h", len(params))
        for p in params:
            if p is None:
                body += struct.pack("!i", -1)
            else:
                raw = p if isinstance(p, bytes) else p.encode()
                body += struct.pack("!i", len(raw)) + raw
        body += struct.pack("!h", 0)  # result format codes: default text
        self._send_msg(b"B", body)

    def describe_portal(self, portal: str) -> None:
        self._send_msg(b"D", b"P" + self._cstr(portal))

    def describe_statement(self, stmt: str) -> None:
        self._send_msg(b"D", b"S" + self._cstr(stmt))

    def execute(self, portal: str, max_rows: int = 0) -> None:
        self._send_msg(b"E", self._cstr(portal) + struct.pack("!i", max_rows))

    def sync_and_collect(self):
        """Send Sync, then collect everything through ReadyForQuery.
        Returns (tags, columns, rows, error)."""
        self._send_msg(b"S", b"")
        tags, columns, rows, error = [], [], [], None
        for tag, payload in self._messages_until(b"Z"):
            tags.append(tag)
            if tag == b"T":
                (n,) = struct.unpack("!h", payload[:2])
                i = 2
                for _ in range(n):
                    end = payload.index(b"\x00", i)
                    columns.append(payload[i:end].decode())
                    i = end + 1 + 18
            elif tag == b"D":
                (n,) = struct.unpack("!h", payload[:2])
                i = 2
                rec = []
                for _ in range(n):
                    (ln,) = struct.unpack("!i", payload[i : i + 4])
                    i += 4
                    if ln == -1:
                        rec.append(None)
                    else:
                        rec.append(payload[i : i + ln].decode())
                        i += ln
                rows.append(rec)
            elif tag == b"E":
                fields = dict(
                    (chunk[:1], chunk[1:].decode())
                    for chunk in payload.split(b"\x00")
                    if chunk
                )
                error = fields.get(b"M", "unknown error")
                self.sqlstate = fields.get(b"C")
        return tags, columns, rows, error


def test_pgwire_extended_query_protocol(spark, engine):
    """Round-5: parse → bind → describe → execute → sync (what psycopg
    and JDBC send for every statement), named statements with text
    parameters, unnamed portals, NoData-free row description, and
    skip-until-Sync error recovery."""
    from core2_spark.pgwire_server import PgWireServer

    v1 = spark.createDataFrame(
        [(1, "AAPL", 100.0), (2, "MSFT", 200.0), (3, "GOOG", 300.0)],
        "id long, sym string, px double",
    )
    engine.submit_tx([Put("trades", v1)], tx_time="2024-01-01 00:00:01")

    server = PgWireServer(lambda sql: engine.db().sql(sql))
    try:
        client = ExtendedPgClient(server.port)

        # unnamed statement + unnamed portal, no params
        client.parse("", "SELECT sym, px FROM trades ORDER BY px DESC")
        client.bind("", "")
        client.describe_portal("")
        client.execute("")
        tags, cols, rows, err = client.sync_and_collect()
        assert err is None
        assert tags[:2] == [b"1", b"2"]  # ParseComplete, BindComplete
        assert cols == ["sym", "px"]
        assert rows == [["GOOG", "300.0"], ["MSFT", "200.0"], ["AAPL", "100.0"]]

        # Describe(statement): ParameterDescription + RowDescription
        # from the ANALYZED schema — no execution
        client.parse("shape", "SELECT id, sym FROM trades")
        client.describe_statement("shape")
        tags, cols, rows, err = client.sync_and_collect()
        assert err is None and rows == []
        assert b"t" in tags and b"T" in tags  # ParamDesc + RowDesc
        assert cols == ["id", "sym"]

        # named statement, text parameter bound as a literal, reused
        client.parse("by_sym", "SELECT px FROM trades WHERE sym = $1")
        client.bind("p1", "by_sym", ["MSFT"])
        client.describe_portal("p1")
        client.execute("p1")
        tags, cols, rows, err = client.sync_and_collect()
        assert err is None and rows == [["200.0"]]
        client.bind("p2", "by_sym", ["GOOG"])
        client.execute("p2")
        _, _, rows, err = client.sync_and_collect()
        assert err is None and rows == [["300.0"]]

        # error recovery: bind to an unknown statement errors, further
        # messages are skipped until Sync, then the session works
        client.bind("", "never_parsed")
        client.execute("")  # must be skipped, not crash the session
        tags, _, _, err = client.sync_and_collect()
        assert err is not None and "never_parsed" in err
        client.parse("", "SELECT COUNT(*) AS n FROM trades")
        client.bind("", "")
        client.execute("")
        _, _, rows, err = client.sync_and_collect()
        assert err is None and rows == [["3"]]

        client.close()
    finally:
        server.shutdown()


def test_pgwire_dml_simple_and_extended(spark, engine):
    """Round-5: DML over pgwire — the simple-query path routes
    INSERT/UPDATE/DELETE to Engine.sql_dml with proper CommandComplete
    tags, and the extended path executes a DML portal (Describe →
    NoData, Execute → tag).  Without an engine the statement errors
    cleanly and the session survives."""
    from core2_spark.pgwire_server import PgWireServer

    v1 = spark.createDataFrame(
        [(1, "AAPL", 100.0), (2, "MSFT", 200.0)], "id long, sym string, px double"
    )
    engine.submit_tx([Put("trades", v1)], tx_time="2024-01-01 00:00:01")

    server = PgWireServer(lambda sql: engine.db().sql(sql), engine=engine)
    try:
        client = ExtendedPgClient(server.port)

        # simple-query DML
        cols, rows, err = client.query(
            "INSERT INTO trades (id, sym, px) VALUES (3, 'GOOG', 300.0)"
        )
        assert err is None and rows == []
        cols, rows, err = client.query("UPDATE trades SET px = px + 1 WHERE id = 1")
        assert err is None
        cols, rows, err = client.query("SELECT px FROM trades ORDER BY id")
        assert [r[0] for r in rows] == ["101.0", "200.0", "300.0"]

        # extended-protocol DML portal: Describe → NoData, Execute → tag
        client.parse("", "DELETE FROM trades WHERE sym = $1")
        client.bind("", "", ["GOOG"])
        client.describe_portal("")
        client.execute("")
        tags, _, rows, err = client.sync_and_collect()
        assert err is None and rows == []
        assert b"n" in tags  # NoData for the DML portal
        _, rows, err = client.query("SELECT COUNT(*) AS n FROM trades")
        assert rows == [["2"]]
        client.close()
    finally:
        server.shutdown()

    # read-only server: DML errors cleanly, session usable after
    ro = PgWireServer(lambda sql: engine.db().sql(sql))
    try:
        client = MiniPgClient(ro.port)
        _, _, err = client.query("DELETE FROM trades WHERE id = 1")
        assert err is not None and "attached engine" in err
        _, rows, err = client.query("SELECT COUNT(*) AS n FROM trades")
        assert err is None and rows == [["2"]]
        client.close()
    finally:
        ro.shutdown()


def test_pgwire_mview_maintenance(spark, engine):
    """CREATE/REFRESH/DROP MATERIALIZED VIEW over the wire: the
    maintenance verbs route to Engine.sql_dml like DML (they are not
    log ops — they execute immediately), and the view is readable as
    a plain query right after."""
    from core2_spark.pgwire_server import PgWireServer

    v1 = spark.createDataFrame(
        [(1, "AAPL", 100.0), (2, "MSFT", 200.0), (3, "AAPL", 50.0)],
        "id long, sym string, px double",
    )
    engine.submit_tx([Put("trades", v1)], tx_time="2024-01-01 00:00:01")

    def executor(sql):
        if sql.strip().lower().startswith("select * from mview_rev"):
            return engine.materialized_view("rev").orderBy("sym")
        return engine.db().sql(sql)

    server = PgWireServer(executor, engine=engine)
    try:
        client = MiniPgClient(server.port)
        _, _, err = client.query(
            "CREATE MATERIALIZED VIEW rev AS "
            "SELECT sym, COUNT(*) AS n, SUM(px) AS total "
            "FROM trades GROUP BY sym"
        )
        assert err is None
        _, _, err = client.query(
            "INSERT INTO trades (id, sym, px) VALUES (4, 'AAPL', 25.0)"
        )
        assert err is None
        _, _, err = client.query("REFRESH MATERIALIZED VIEW rev")
        assert err is None
        _, rows, err = client.query("SELECT * FROM mview_rev ORDER BY sym")
        assert err is None
        assert [(r[0], r[1], r[2]) for r in rows] == [
            ("AAPL", "3", "175.0"),
            ("MSFT", "1", "200.0"),
        ]
        _, _, err = client.query("DROP MATERIALIZED VIEW rev")
        assert err is None
        # malformed CREATE errors loudly and the session survives
        _, _, err = client.query("CREATE MATERIALIZED VIEW x AS SELECT 1")
        assert err is not None
        _, rows, err = client.query("SELECT COUNT(*) AS n FROM trades")
        assert err is None and rows == [["4"]]
        client.close()
    finally:
        server.shutdown()


def test_pgwire_vacuum_optimize_statements(spark, engine):
    """Round 6: VACUUM / OPTIMIZE ride the pgwire DML routing with
    their own CommandComplete tags; answers at/after the horizon are
    unchanged over the wire."""
    from core2_spark.pgwire_server import PgWireServer

    mk = lambda rows: spark.createDataFrame(rows, "id long, v string")
    engine.submit_tx([Put("t", mk([(1, "a"), (2, "b")]))],
                     tx_time="2024-01-01 00:00:01")
    engine.submit_tx([Put("t", mk([(1, "a2")]))],
                     tx_time="2024-02-01 00:00:01")
    server = PgWireServer(lambda sql: engine.db().sql(sql), engine=engine)
    try:
        client = MiniPgClient(server.port)
        _, _, err = client.query("VACUUM t OLDER THAN TIMESTAMP '2024-03-01'")
        assert err is None
        _, _, err = client.query("OPTIMIZE t")
        assert err is None
        cols, rows, err = client.query(
            "SELECT id, v FROM t ORDER BY id"
        )
        assert err is None and rows == [["1", "a2"], ["2", "b"]]
        client.close()
    finally:
        server.shutdown()


def test_pgwire_with_recursive(spark, engine):
    """Round 7: `WITH RECURSIVE` works over the wire — the dialect
    pre-pass compiles it to the fixpoint operator inside
    Snapshot.sql, so every frontend (pgwire included) gets it."""
    from core2_spark.pgwire_server import PgWireServer

    edges = spark.createDataFrame(
        [(1, 1, 2), (2, 2, 3), (3, 3, 4), (4, 7, 8)],
        "id long, parent long, child long",
    )
    engine.submit_tx([Put("edges", edges)], tx_time="2024-01-01 00:00:01")

    server = PgWireServer(lambda sql: engine.db().sql(sql))
    try:
        client = MiniPgClient(server.port)
        cols, rows, err = client.query(
            """
            WITH RECURSIVE anc AS (
                SELECT parent AS a, child AS d FROM edges
                UNION ALL
                SELECT x.a, e.child FROM anc x
                JOIN edges e ON e.parent = x.d
            )
            SELECT a, d FROM anc ORDER BY a, d
            """
        )
        assert err is None
        assert cols == ["a", "d"]
        assert [tuple(map(int, r)) for r in rows] == [
            (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (7, 8)
        ]
        # session still usable afterwards (scratch views cleaned up)
        _, rows, err = client.query("SELECT COUNT(*) AS n FROM edges")
        assert err is None and rows == [["4"]]
        client.close()
    finally:
        server.shutdown()


def test_pgwire_merge_statement(spark, engine):
    """MERGE INTO rides the pgwire DML routing with its own
    CommandComplete tag and executes through Engine.sql_dml."""
    from core2_spark.pgwire_server import PgWireServer

    v1 = spark.createDataFrame(
        [(1, "AAPL", 100.0), (2, "MSFT", 200.0)], "id long, sym string, px double"
    )
    engine.submit_tx([Put("positions", v1)], tx_time="2024-01-01 00:00:01")
    server = PgWireServer(lambda sql: engine.db().sql(sql), engine=engine)
    try:
        client = MiniPgClient(server.port)
        _, rows, err = client.query(
            "MERGE INTO positions USING (SELECT 2 AS id, 250.0 AS px "
            "UNION ALL SELECT 3, 300.0) s ON positions.id = s.id "
            "WHEN MATCHED THEN UPDATE SET px = s.px "
            "WHEN NOT MATCHED THEN INSERT (id, sym, px) VALUES (s.id, 'NEW', s.px)"
        )
        assert err is None and rows == []
        _, rows, err = client.query("SELECT id, px FROM positions ORDER BY id")
        assert err is None
        assert [(r[0], r[1]) for r in rows] == [
            ("1", "100.0"), ("2", "250.0"), ("3", "300.0")
        ]
        client.close()
    finally:
        server.shutdown()


def test_pgwire_patch_statement(spark, engine):
    """PATCH INTO .. RECORDS rides the pgwire DML routing with its own
    CommandComplete tag and executes through Engine.sql_dml."""
    from core2_spark.pgwire_server import PgWireServer

    v1 = spark.createDataFrame(
        [(1, "AAPL", 100.0), (2, "MSFT", 200.0)], "id long, sym string, px double"
    )
    engine.submit_tx([Put("holdings", v1)], tx_time="2024-01-01 00:00:01")
    server = PgWireServer(lambda sql: engine.db().sql(sql), engine=engine)
    try:
        client = MiniPgClient(server.port)
        _, rows, err = client.query(
            "PATCH INTO holdings RECORDS {id: 2, px: 250}, "
            "{id: 3, sym: 'NEW', px: 300}"
        )
        assert err is None and rows == []
        _, rows, err = client.query(
            "SELECT id, sym, px FROM holdings ORDER BY id"
        )
        assert err is None
        assert [(r[0], r[1], r[2]) for r in rows] == [
            ("1", "AAPL", "100.0"), ("2", "MSFT", "250.0"),
            ("3", "NEW", "300.0"),
        ]
        client.close()
    finally:
        server.shutdown()


HOSTILE = "x\\' OR 1=1 --"  # Spark reads \' as an escaped quote


def _bound(client, sql: str, params: list):
    """Parse → Bind → Execute → Sync: (rows, error)."""
    client.parse("", sql)
    client.bind("", "", params)
    client.execute("")
    _tags, _cols, rows, err = client.sync_and_collect()
    return rows, err


def test_pgwire_bind_is_literal(spark, engine):
    """Bind renders each value as one Spark literal: a quote escape
    cannot widen a query's or a DML statement's predicate, and a
    ``$n`` inside a literal or inside a bound value is not a
    placeholder."""
    from core2_spark.pgwire_server import PgWireServer

    v1 = spark.createDataFrame(
        [(1, "AAPL", 100.0), (2, "MSFT", 200.0), (3, "GOOG", 300.0)],
        "id long, sym string, px double",
    )
    engine.submit_tx([Put("trades", v1)], tx_time="2024-01-01 00:00:01")
    server = PgWireServer(lambda sql: engine.db().sql(sql), engine=engine)
    try:
        client = ExtendedPgClient(server.port)
        q = "SELECT id FROM trades WHERE sym = $1 ORDER BY id"
        assert _bound(client, q, [HOSTILE]) == ([], None)
        assert _bound(client, q, ["MSFT"]) == ([["2"]], None)
        rows, err = _bound(client, "SELECT '$1' AS lit, $2 AS a, $1 AS b", ["$2", "v"])
        assert err is None and rows == [["$1", "v", "$2"]]

        rows, err = _bound(client, "DELETE FROM trades WHERE sym = $1", [HOSTILE])
        assert err is None
        _, rows, _ = client.query("SELECT COUNT(*) AS n FROM trades")
        assert rows == [["3"]]
        _, err = _bound(
            client, "UPDATE trades SET sym = $1, px = $2 WHERE id = $3", ["it's", "NaN", "1"]
        )
        assert err is None
        _, rows, _ = client.query("SELECT id, sym, px FROM trades ORDER BY id")
        assert rows == [["1", "it's", "nan"], ["2", "MSFT", "200.0"], ["3", "GOOG", "300.0"]]
        client.close()
    finally:
        server.shutdown()


def test_pgwire_refuses_binary_parameters(spark, engine):
    """A binary-format parameter (format code 1) is refused with
    SQLSTATE 0A000, not decoded as text (a binary int8 5 would bind as
    an 8-character string); text parameters bind as before."""
    from core2_spark.pgwire_server import PgWireServer

    v1 = spark.createDataFrame(
        [(1, "AAPL", 100.0), (5, "MSFT", 200.0)], "id long, sym string, px double"
    )
    engine.submit_tx([Put("trades", v1)], tx_time="2024-01-01 00:00:01")
    server = PgWireServer(lambda sql: engine.db().sql(sql), engine=engine)
    try:
        client = ExtendedPgClient(server.port)
        q = "SELECT sym FROM trades WHERE id = $1"
        for formats in ([1], [0, 1]):
            client.parse("", q + (" AND sym = $2" if len(formats) == 2 else ""))
            client.bind("", "", [struct.pack("!q", 5)] * len(formats), formats)
            client.execute("")
            _tags, _cols, rows, err = client.sync_and_collect()
            assert err is not None and "binary" in err
            assert client.sqlstate == "0A000" and rows == []
        # the session survives; explicit and default text codes bind
        client.parse("", q)
        client.bind("", "", ["5"], [0])
        client.execute("")
        assert client.sync_and_collect()[2:] == ([["MSFT"]], None)
        assert _bound(client, q, ["5"]) == ([["MSFT"]], None)
        client.close()
    finally:
        server.shutdown()


def test_pgwire_update_binds_value_holding_where(spark, engine):
    """A bound value holding ` WHERE ` lands in the column: the UPDATE
    splits its SET list from its predicate outside string literals."""
    from core2_spark.pgwire_server import PgWireServer

    v1 = spark.createDataFrame(
        [(1, "AAPL", 100.0), (2, "MSFT", 200.0)], "id long, sym string, px double"
    )
    engine.submit_tx([Put("trades", v1)], tx_time="2024-01-01 00:00:01")
    server = PgWireServer(lambda sql: engine.db().sql(sql), engine=engine)
    try:
        client = ExtendedPgClient(server.port)
        _, err = _bound(client, "UPDATE trades SET sym = $1 WHERE id = $2", ["a WHERE b", "1"])
        assert err is None
        _, _, err = client.query("UPDATE trades SET sym = 'c WHERE d' WHERE id = 2")
        assert err is None
        _, rows, _ = client.query("SELECT id, sym FROM trades ORDER BY id")
        assert rows == [["1", "a WHERE b"], ["2", "c WHERE d"]]
        client.close()
    finally:
        server.shutdown()


def test_pgwire_comment_led_write(spark, engine):
    """A comment ahead of the verb does not hide a write: the statement
    runs through Engine.sql_dml, on the simple and extended paths."""
    from core2_spark.pgwire_server import PgWireServer
    from core2_spark.service import classify

    assert classify("-- note\nDELETE FROM t WHERE id = 1") == "DELETE 0"
    assert classify("/* a /* b */ */ SELECT 1") is None
    v1 = spark.createDataFrame(
        [(1, "AAPL", 100.0), (2, "MSFT", 200.0), (3, "GOOG", 300.0)],
        "id long, sym string, px double",
    )
    engine.submit_tx([Put("trades", v1)], tx_time="2024-01-01 00:00:01")
    server = PgWireServer(lambda sql: engine.db().sql(sql), engine=engine)
    try:
        client = ExtendedPgClient(server.port)
        _, rows, err = client.query("-- note\nDELETE FROM trades WHERE id = 1")
        assert err is None and rows == []
        rows, err = _bound(client, "/* it's */ DELETE FROM trades WHERE sym = $1", ["MSFT"])
        assert err is None and rows == []
        _, rows, _ = client.query("SELECT id FROM trades ORDER BY id")
        assert rows == [["3"]]
        client.close()
    finally:
        server.shutdown()


def test_unknown_table_sqlstate_agrees_on_pgwire_and_http(spark, engine):
    """Errors come back classified: the SQLSTATE Spark attaches, the
    same on both wires (not a hard-coded XX000 or a repr)."""
    import json
    import urllib.error

    from core2_spark.http_server import SqlHttpServer, http_query
    from core2_spark.pgwire_server import PgWireServer

    executor = lambda sql: engine.db().sql(sql)  # noqa: E731
    pg, http = PgWireServer(executor), SqlHttpServer(executor)
    try:
        client = MiniPgClient(pg.port)
        _, _, err = client.query("SELECT * FROM no_such_table")
        assert err is not None
        pg_state = client.sqlstate
        client.close()
        with pytest.raises(urllib.error.HTTPError) as raised:
            http_query(http.port, "SELECT * FROM no_such_table")
        body = json.loads(raised.value.read())
        assert raised.value.code == 400
        assert pg_state == body["sqlstate"] == "42P01"
        assert "no_such_table" in body["error"]
    finally:
        pg.shutdown()
        http.shutdown()

"""SQL-over-Arrow-Flight boundary: engine ingest → Flight client
round-trip, temporal dialect included."""

from __future__ import annotations

import os
import shutil

import pytest

from core2_spark.engine import Engine, Put

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.join(REPO, "_data", "flight_test")


@pytest.fixture
def engine(spark):
    shutil.rmtree(ROOT, ignore_errors=True)
    return Engine(spark, ROOT)


def test_flight_sql_roundtrip(spark, engine):
    from core2_spark.flight_server import SqlFlightServer, fetch_sql

    v1 = spark.createDataFrame(
        [(1, "AAPL", 100.0), (2, "MSFT", 200.0)], "id long, sym string, px double"
    )
    engine.submit_tx([Put("trades", v1)], tx_time="2024-01-01 00:00:01")
    fix = spark.createDataFrame([(1, "AAPL", 111.0)], "id long, sym string, px double")
    engine.submit_tx([Put("trades", fix)], tx_time="2024-02-01 00:00:00")

    server = SqlFlightServer(lambda sql: engine.db().sql(sql))
    try:
        loc = f"grpc://127.0.0.1:{server.port}"
        cur = fetch_sql(loc, "SELECT id, sym, px FROM trades ORDER BY id")
        assert cur.to_pydict()["px"] == [111.0, 200.0]

        # the temporal dialect crosses the wire too
        jan = fetch_sql(
            loc,
            "SELECT id, px FROM trades FOR SYSTEM_TIME AS OF "
            "TIMESTAMP '2024-01-15 00:00:00' ORDER BY id",
        )
        assert jan.to_pydict()["px"] == [100.0, 200.0]
    finally:
        server.shutdown()


def test_flight_result_size_guard(spark, engine):
    from core2_spark.flight_server import SqlFlightServer, fetch_sql

    rows = spark.range(0, 50).selectExpr("id", "CAST(id AS STRING) AS sym")
    engine.submit_tx([Put("trades", rows)], tx_time="2024-01-01 00:00:01")

    server = SqlFlightServer(lambda sql: engine.db().sql(sql), max_result_rows=10)
    try:
        loc = f"grpc://127.0.0.1:{server.port}"
        with pytest.raises(Exception, match="max_result_rows"):
            fetch_sql(loc, "SELECT * FROM trades")
        # reduced results pass
        ok = fetch_sql(loc, "SELECT COUNT(*) AS n FROM trades")
        assert ok.to_pydict()["n"] == [50]
    finally:
        server.shutdown()


def test_flight_do_put_ingests_as_transaction(spark, engine):
    import pyarrow as pa

    from core2_spark.flight_server import SqlFlightServer, fetch_sql, put_table

    server = SqlFlightServer(lambda sql: engine.db().sql(sql), engine=engine)
    try:
        loc = f"grpc://127.0.0.1:{server.port}"
        t1 = pa.table({"id": [1, 2], "sym": ["AAPL", "MSFT"], "px": [100.0, 200.0]})
        put_table(loc, "trades", t1, tx_time="2024-01-01 00:00:01")
        t2 = pa.table({"id": [1], "sym": ["AAPL"], "px": [111.0]})
        put_table(loc, "trades", t2, tx_time="2024-02-01 00:00:00")

        cur = fetch_sql(loc, "SELECT id, px FROM trades ORDER BY id")
        assert cur.to_pydict()["px"] == [111.0, 200.0]
        # and the upload is a real transaction: time-travel works
        jan = fetch_sql(
            loc,
            "SELECT px FROM trades FOR SYSTEM_TIME AS OF "
            "TIMESTAMP '2024-01-15 00:00:00' ORDER BY id",
        )
        assert jan.to_pydict()["px"] == [100.0, 200.0]
    finally:
        server.shutdown()


def test_flight_do_put_readonly_server_refuses(spark, engine):
    import pyarrow as pa

    from core2_spark.flight_server import SqlFlightServer, put_table

    server = SqlFlightServer(lambda sql: engine.db().sql(sql))  # no engine
    try:
        loc = f"grpc://127.0.0.1:{server.port}"
        with pytest.raises(Exception, match="read-only"):
            put_table(loc, "trades", pa.table({"id": [1]}))
    finally:
        server.shutdown()


def test_flightsql_protocol_envelope(spark, engine):
    """The real FlightSQL handshake: an Any-wrapped
    CommandStatementQuery in the descriptor must yield a FlightInfo
    whose endpoint ticket is an Any-wrapped TicketStatementQuery, and
    DoGet on that ticket streams the result — byte-level protocol, no
    generated protobuf classes involved."""
    import pyarrow.flight as fl

    from core2_spark import flightsql_proto as fsql
    from core2_spark.flight_server import SqlFlightServer, fetch_flightsql

    v1 = spark.createDataFrame(
        [(1, "AAPL", 100.0), (2, "MSFT", 200.0)], "id long, sym string, px double"
    )
    engine.submit_tx([Put("trades", v1)], tx_time="2024-01-01 00:00:01")
    fix = spark.createDataFrame([(1, "AAPL", 111.0)], "id long, sym string, px double")
    engine.submit_tx([Put("trades", fix)], tx_time="2024-02-01 00:00:00")

    server = SqlFlightServer(lambda sql: engine.db().sql(sql), engine=engine)
    try:
        loc = f"grpc://127.0.0.1:{server.port}"

        # protocol-correct ticket envelope
        client = fl.connect(loc)
        info = client.get_flight_info(
            fl.FlightDescriptor.for_command(
                fsql.command_statement_query(
                    "SELECT id, px FROM trades ORDER BY id"
                )
            )
        )
        name, payload = fsql.unpack_any(info.endpoints[0].ticket.ticket)
        assert name == "TicketStatementQuery"
        assert b"SELECT" in fsql.parse_statement_ticket(payload)
        got = client.do_get(info.endpoints[0].ticket).read_all()
        client.close()
        assert got.to_pydict()["px"] == [111.0, 200.0]

        # the temporal dialect flows through the FlightSQL envelope too
        jan = fetch_flightsql(
            loc,
            fsql.command_statement_query(
                "SELECT id, px FROM trades FOR SYSTEM_TIME AS OF "
                "TIMESTAMP '2024-01-15 00:00:00' ORDER BY id"
            ),
        )
        assert jan.to_pydict()["px"] == [100.0, 200.0]

        # catalog introspection: what a BI tool runs on connect
        cats = fetch_flightsql(loc, fsql.command_get_catalogs())
        assert cats.to_pydict()["catalog_name"] == ["core2"]
        schemas = fetch_flightsql(loc, fsql.command_get_db_schemas())
        assert schemas.to_pydict()["db_schema_name"] == ["default"]
        types = fetch_flightsql(loc, fsql.command_get_table_types())
        assert types.to_pydict()["table_type"] == ["TABLE"]
        tables = fetch_flightsql(loc, fsql.command_get_tables())
        assert "trades" in tables.to_pydict()["table_name"]
        filtered = fetch_flightsql(
            loc, fsql.command_get_tables(table_name_pattern="tr%")
        )
        assert filtered.to_pydict()["table_name"] == ["trades"]
        none = fetch_flightsql(
            loc, fsql.command_get_tables(table_name_pattern="zz%")
        )
        assert none.num_rows == 0

        # and the legacy raw-SQL envelope still works side by side
        from core2_spark.flight_server import fetch_sql

        legacy = fetch_sql(loc, "SELECT COUNT(*) AS n FROM trades")
        assert legacy.to_pydict()["n"] == [2]
    finally:
        server.shutdown()


def test_flightsql_statement_update_dml(spark, engine):
    """FlightSQL DML over DoPut: CommandStatementUpdate carries the
    engine's SQL DML dialect, the response metadata is a
    DoPutUpdateResult, and the write is visible to a subsequent
    FlightSQL query on the same server."""
    import pyarrow as pa
    import pyarrow.flight as fl

    from core2_spark import flightsql_proto as fsql
    from core2_spark.flight_server import SqlFlightServer, fetch_flightsql

    v1 = spark.createDataFrame(
        [(1, "AAPL", 100.0), (2, "MSFT", 200.0)], "id long, sym string, px double"
    )
    engine.submit_tx([Put("trades", v1)], tx_time="2024-01-01 00:00:01")

    server = SqlFlightServer(lambda sql: engine.db().sql(sql), engine=engine)
    try:
        loc = f"grpc://127.0.0.1:{server.port}"
        client = fl.connect(loc)
        desc = fl.FlightDescriptor.for_command(
            fsql.command_statement_update(
                "UPDATE trades SET px = 123.0 WHERE id = 1"
            )
        )
        writer, meta_reader = client.do_put(desc, pa.schema([]))
        writer.done_writing()
        buf = meta_reader.read()
        assert fsql.parse_do_put_update_result(buf.to_pybytes()) == -1
        writer.close()
        client.close()

        got = fetch_flightsql(
            loc,
            fsql.command_statement_query(
                "SELECT id, px FROM trades ORDER BY id"
            ),
        )
        assert got.to_pydict()["px"] == [123.0, 200.0]
    finally:
        server.shutdown()


def test_prepared_statement_flow_over_live_socket(spark, engine):
    """Round-5: the prepare-then-execute flow a stock ADBC client
    defaults to — CreatePreparedStatement action (Any-wrapped request
    and result, byte-level codec), CommandPreparedStatementQuery with
    the returned handle, DoGet, ClosePreparedStatement — over a live
    grpc socket, with the advertised dataset schema matching the
    fetched result's."""
    from core2_spark.flight_server import SqlFlightServer, prepare_and_fetch

    v1 = spark.createDataFrame(
        [(1, "AAPL", 100.0), (2, "MSFT", 200.0)], "id long, sym string, px double"
    )
    engine.submit_tx([Put("trades", v1)], tx_time="2024-01-01 00:00:01")

    server = SqlFlightServer(lambda sql: engine.db().sql(sql), engine=engine)
    try:
        loc = f"grpc://127.0.0.1:{server.port}"
        table, schema = prepare_and_fetch(
            loc, "SELECT sym, px FROM trades ORDER BY px DESC"
        )
        assert table.to_pydict() == {"sym": ["MSFT", "AAPL"], "px": [200.0, 100.0]}
        assert schema is not None and schema.names == ["sym", "px"]
        assert table.schema.names == schema.names

        # prepared DML via DoPut CommandPreparedStatementUpdate
        import pyarrow.flight as fl

        from core2_spark import flightsql_proto as fsql

        client = fl.connect(loc)
        try:
            desc = fl.FlightDescriptor.for_command(
                fsql.command_prepared_statement_update(
                    b"INSERT INTO trades (id, sym, px) VALUES (3, 'GOOG', 300.0)"
                )
            )
            writer, reader = client.do_put(
                desc, __import__("pyarrow").schema([])
            )
            writer.done_writing()
            ack = reader.read()
            assert fsql.parse_do_put_update_result(bytes(ack.to_pybytes())) == -1
            writer.close()
        finally:
            client.close()
        after, _ = prepare_and_fetch(loc, "SELECT COUNT(*) AS n FROM trades")
        assert after.to_pydict()["n"] == [3]
    finally:
        server.shutdown()


def test_prepared_statement_proto_roundtrip():
    """Byte-level codec properties for the prepared-statement messages."""
    from core2_spark import flightsql_proto as fsql

    req = fsql.action_create_prepared_statement_request("SELECT 1 AS x")
    name, payload = fsql.unpack_any(req)
    assert name == "ActionCreatePreparedStatementRequest"
    assert fsql.parse_action_create_prepared_statement_request(payload) == "SELECT 1 AS x"

    res = fsql.action_create_prepared_statement_result(b"h\x00ndle", b"\x01\x02")
    name, payload = fsql.unpack_any(res)
    assert name == "ActionCreatePreparedStatementResult"
    parsed = fsql.parse_action_create_prepared_statement_result(payload)
    assert parsed["handle"] == b"h\x00ndle"
    assert parsed["dataset_schema"] == b"\x01\x02"

    q = fsql.command_prepared_statement_query(b"SELECT 2")
    name, payload = fsql.unpack_any(q)
    assert name == "CommandPreparedStatementQuery"
    assert fsql.parse_prepared_statement_handle(payload) == b"SELECT 2"

    close = fsql.action_close_prepared_statement_request(b"abc")
    name, payload = fsql.unpack_any(close)
    assert name == "ActionClosePreparedStatementRequest"
    assert fsql.parse_prepared_statement_handle(payload) == b"abc"


def test_parameterized_prepared_statement_binding(spark, engine):
    """Round-5: the parameter-binding tier — DoPut a record batch of
    values against CommandPreparedStatementQuery, get the bound
    handle back in app metadata, execute it.  String escaping and
    NULLs included."""
    from core2_spark.flight_server import SqlFlightServer, prepare_bind_fetch
    from core2_spark.service import bind

    # unit: placeholder substitution skips string literals; values are
    # rendered by Spark's Literal.sql (backslash-escaped quotes)
    bound = bind(
        "SELECT '?' AS lit, ? AS s, ? AS n, ? AS z FROM t", ["O'Brien", 42, None], "?"
    )
    assert bound == "SELECT '?' AS lit, 'O\\'Brien' AS s, 42 AS n, NULL AS z FROM t"

    v1 = spark.createDataFrame(
        [(1, "AAPL", 100.0), (2, "MSFT", 200.0), (3, "GOOG", 300.0)],
        "id long, sym string, px double",
    )
    engine.submit_tx([Put("trades", v1)], tx_time="2024-01-01 00:00:01")

    server = SqlFlightServer(lambda sql: engine.db().sql(sql), engine=engine)
    try:
        loc = f"grpc://127.0.0.1:{server.port}"
        out = prepare_bind_fetch(
            loc, "SELECT sym, px FROM trades WHERE px > ? ORDER BY px", [150.0]
        )
        assert out.to_pydict() == {"sym": ["MSFT", "GOOG"], "px": [200.0, 300.0]}
        out2 = prepare_bind_fetch(
            loc, "SELECT id FROM trades WHERE sym = ?", ["AAPL"]
        )
        assert out2.to_pydict() == {"id": [1]}
    finally:
        server.shutdown()


HOSTILE = "x\\' OR 1=1 --"  # Spark reads \' as an escaped quote


def _three_trades(spark, engine):
    v1 = spark.createDataFrame(
        [(1, "AAPL", 100.0), (2, "MSFT", 200.0), (3, "GOOG", 300.0)],
        "id long, sym string, px double",
    )
    engine.submit_tx([Put("trades", v1)], tx_time="2024-01-01 00:00:01")


def test_flight_prepared_query_binding_is_literal(spark, engine):
    """A bound value is one literal whatever it contains: a quote
    escape cannot widen the predicate, NaN/±inf bind as doubles, and a
    ``?`` inside a literal or inside a value is not a placeholder."""
    from core2_spark.flight_server import SqlFlightServer, prepare_bind_fetch

    _three_trades(spark, engine)
    server = SqlFlightServer(lambda sql: engine.db().sql(sql), engine=engine)
    try:
        loc = f"grpc://127.0.0.1:{server.port}"
        q = "SELECT id FROM trades WHERE sym = ? ORDER BY id"
        assert prepare_bind_fetch(loc, q, [HOSTILE]).num_rows == 0
        assert prepare_bind_fetch(loc, q, ["MSFT"]).to_pydict() == {"id": [2]}

        # Spark orders NaN above every double
        for value, ids in ((float("nan"), [1, 2, 3]), (float("inf"), [1, 2, 3]),
                           (float("-inf"), [])):
            got = prepare_bind_fetch(
                loc, "SELECT id FROM trades WHERE px < ? ORDER BY id", [value]
            )
            assert got.to_pydict() == {"id": ids}, value

        got = prepare_bind_fetch(
            loc, "SELECT 'it\\'s ?' AS lit, \"?\" AS dq, ? AS a, ? AS b", ["?", HOSTILE]
        )
        assert got.to_pylist() == [{"lit": "it's ?", "dq": "?", "a": "?", "b": HOSTILE}]
    finally:
        server.shutdown()


def test_flight_prepared_update_binding_is_literal(spark, engine):
    """CommandPreparedStatementUpdate binds its DoPut parameter batch
    through the same binder: a hostile value deletes nothing."""
    import pyarrow as pa
    import pyarrow.flight as fl

    from core2_spark import flightsql_proto as fsql
    from core2_spark.flight_server import SqlFlightServer, fetch_sql

    _three_trades(spark, engine)
    server = SqlFlightServer(lambda sql: engine.db().sql(sql), engine=engine)
    try:
        loc = f"grpc://127.0.0.1:{server.port}"

        def delete_where_sym(value):
            client = fl.connect(loc)
            try:
                desc = fl.FlightDescriptor.for_command(
                    fsql.command_prepared_statement_update(
                        b"DELETE FROM trades WHERE sym = ?"
                    )
                )
                params = pa.table({"p0": [value]})
                writer, reader = client.do_put(desc, params.schema)
                writer.write_table(params)
                writer.done_writing()
                assert fsql.parse_do_put_update_result(reader.read().to_pybytes()) == -1
                writer.close()
            finally:
                client.close()

        def ids():
            return fetch_sql(loc, "SELECT id FROM trades ORDER BY id").to_pydict()["id"]

        delete_where_sym(HOSTILE)
        assert ids() == [1, 2, 3]
        delete_where_sym("GOOG")
        assert ids() == [1, 2]
    finally:
        server.shutdown()


def test_flight_reads_through_the_executor_with_engine_attached(spark, engine):
    """GetFlightInfo executes nothing (row count unknown), and an
    attached engine does not change what a statement reads: a server
    whose executor is pinned to a snapshot keeps answering from it
    after a later commit, on Flight as on HTTP."""
    import pyarrow.flight as fl

    from core2_spark import flightsql_proto as fsql
    from core2_spark.flight_server import SqlFlightServer
    from core2_spark.http_server import SqlHttpServer, http_query

    _three_trades(spark, engine)
    pinned = engine.db()
    server = SqlFlightServer(pinned.sql, engine=engine)
    http = SqlHttpServer(pinned.sql, engine=engine)
    try:
        client = fl.connect(f"grpc://127.0.0.1:{server.port}")
        sql = "SELECT COUNT(*) AS n FROM trades"
        infos = [
            client.get_flight_info(fl.FlightDescriptor.for_command(cmd))
            for cmd in (sql.encode(), fsql.command_statement_query(sql))
        ]
        assert [info.total_records for info in infos] == [-1, -1]
        assert infos[0].schema.names == ["n"]

        more = spark.createDataFrame([(4, "IBM", 400.0)], "id long, sym string, px double")
        engine.submit_tx([Put("trades", more)], tx_time="2024-02-01 00:00:00")

        for info in infos:
            got = client.do_get(info.endpoints[0].ticket).read_all()
            assert got.to_pydict() == {"n": [3]}
        fresh = client.get_flight_info(fl.FlightDescriptor.for_command(sql.encode()))
        assert client.do_get(fresh.endpoints[0].ticket).read_all().to_pydict() == {"n": [3]}
        assert http_query(http.port, sql, arrow=True).to_pydict() == {"n": [3]}
        assert engine.db().sql(sql).collect()[0]["n"] == 4
        client.close()
    finally:
        server.shutdown()
        http.shutdown()


def test_flight_do_put_keeps_nullable_int_columns(spark, engine):
    """DoPut hands the Arrow table to Spark directly: a nullable int64
    column stays bigint with its NULL (a pandas hop made it double),
    and a later int32 upload is cast to it at commit."""
    import pyarrow as pa

    from core2_spark.flight_server import SqlFlightServer, put_table

    server = SqlFlightServer(lambda sql: engine.db().sql(sql), engine=engine)
    try:
        loc = f"grpc://127.0.0.1:{server.port}"
        table = pa.table({"id": [1, 2], "qty": pa.array([5, None], pa.int64())})
        put_table(loc, "stock", table, tx_time="2024-01-01 00:00:01")
        narrow = pa.table({"id": [3], "qty": pa.array([7], pa.int32())})
        put_table(loc, "stock", narrow, tx_time="2024-01-01 00:00:02")
        assert engine._table_schemas["stock"] is not None
        df = engine.db().sql("SELECT id, qty FROM stock ORDER BY id")
        assert dict(df.dtypes)["qty"] == "bigint"
        assert [tuple(r) for r in df.collect()] == [(1, 5), (2, None), (3, 7)]
    finally:
        server.shutdown()

"""Arrow Flight result server (reference README.adoc:14 — "preliminary
Arrow Flight SQL driver support"; SURVEY.md §3 client boundary).

A protocol codec over ``service``: every statement takes the one path
classify → bind → build → guard.  Two envelopes over one server:

- the REAL FlightSQL protocol envelope: Any-wrapped protobuf commands
  (``CommandStatementQuery`` → FlightInfo with an Any-wrapped
  ``TicketStatementQuery`` → DoGet; plus the catalog introspection
  commands GetCatalogs/GetDbSchemas/GetTables/GetTableTypes a BI tool
  runs on connect) — wire codec in ``flightsql_proto``, no generated
  protobuf classes needed;
- a legacy raw-SQL envelope (descriptor/ticket = SQL text) kept for
  scripting clients.

GetFlightInfo builds the statement through the executor and answers
from its analyzed schema (``total_records=-1``): it executes nothing,
so each statement runs once, in DoGet.  The ticket is the statement
text; DoGet builds it through the executor again, so the executor
alone decides which snapshot a statement reads, as on HTTP and pgwire.

Prepared statements: ``ActionCreatePreparedStatement`` /
``ClosePreparedStatement`` actions plus ``CommandPreparedStatementQuery``
and ``CommandPreparedStatementUpdate`` — the prepare-then-execute flow
a stock ADBC/JDBC client defaults to.  The server is stateless: the
handle IS the statement text, a DoPut of parameter values answers
with the bound text as the new handle (``service.bind``), and the
create result carries the IPC-serialized dataset schema.

DoPut also takes ``CommandStatementUpdate`` (SQL DML as one engine
transaction) and legacy Arrow uploads, committed as one ``submit_tx``
Put straight from the Arrow table.
"""

from __future__ import annotations

import json
from collections.abc import Callable

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema

from core2_spark import flightsql_proto as fsql
from core2_spark.service import Statements, bind, df_to_arrow

try:  # grpc support is optional in pyarrow builds
    import pyarrow.flight as _flight
except ImportError:  # pragma: no cover
    _flight = None


def _first_row(params: pa.Table) -> list:
    """FlightSQL binds parameters as a record batch: one row of values."""
    if params.num_rows == 0:
        return []
    return [col[0].as_py() for col in params.columns]


class SqlFlightServer(_flight.FlightServerBase if _flight else object):
    """Serve ``executor(sql) -> DataFrame`` results over Arrow Flight;
    optionally accept Arrow uploads as engine transactions via do_put.

    ``executor`` is typically ``Snapshot.sql`` (basis-pinned, temporal
    dialect enabled) or a closure over ``Engine.db()``; every query
    reads through it.  ``engine`` (optional) enables the write side and
    the catalog.
    """

    def __init__(
        self,
        executor: Callable[[str], DataFrame],
        location: str = "grpc://127.0.0.1:0",
        max_result_rows: int = 1_000_000,
        engine=None,
    ):
        if _flight is None:  # pragma: no cover
            raise RuntimeError("pyarrow was built without flight support")
        super().__init__(location)
        self._statements = Statements(executor, engine)
        self._max_result_rows = max_result_rows

    # -- FlightSQL catalog metadata -----------------------------------
    CATALOG = "core2"
    DB_SCHEMA = "default"

    def _metadata_table(self, name: str, payload: bytes) -> pa.Table:
        """Result sets for the FlightSQL catalog commands, with the
        column names/nullability the public spec fixes."""
        if name == "CommandGetCatalogs":
            return pa.table(
                {"catalog_name": pa.array([self.CATALOG], pa.utf8())}
            )
        if name == "CommandGetDbSchemas":
            return pa.table(
                {
                    "catalog_name": pa.array([self.CATALOG], pa.utf8()),
                    "db_schema_name": pa.array([self.DB_SCHEMA], pa.utf8()),
                }
            )
        if name == "CommandGetTableTypes":
            return pa.table({"table_type": pa.array(["TABLE"], pa.utf8())})
        if name == "CommandGetTables":
            spec = fsql.parse_get_tables(payload)
            statements = self._statements
            names = (
                sorted(statements.engine._all_tables()) if statements.has_engine else []
            )
            pat = spec["table_name_pattern"]
            if pat:  # SQL LIKE pattern (%/_) per the spec
                import re

                rx = re.compile(
                    "^" + re.escape(pat).replace("%", ".*").replace("_", ".") + "$"
                )
                names = [n for n in names if rx.match(n)]
            return pa.table(
                {
                    "catalog_name": pa.array([self.CATALOG] * len(names), pa.utf8()),
                    "db_schema_name": pa.array(
                        [self.DB_SCHEMA] * len(names), pa.utf8()
                    ),
                    "table_name": pa.array(names, pa.utf8()),
                    "table_type": pa.array(["TABLE"] * len(names), pa.utf8()),
                }
            )
        raise _flight.FlightServerError(f"unsupported FlightSQL command {name}")

    # -- Flight protocol ----------------------------------------------
    def get_flight_info(self, context, descriptor):
        """GetFlightInfo: statements (legacy raw SQL, FlightSQL
        statement or prepared-statement queries) are built, not run —
        the schema is the analyzed one and the row count unknown (-1);
        the ticket is the SQL text, Any-wrapped as a TicketStatementQuery
        for FlightSQL.  Catalog commands answer with their (small)
        result's schema and the command itself as the ticket, as the
        spec prescribes."""
        cmd = descriptor.command
        parsed = fsql.unpack_any(cmd)
        if parsed is None:  # legacy raw-SQL envelope
            sql = cmd.decode()
        elif parsed[0] == "CommandStatementQuery":
            sql = fsql.parse_statement_query(parsed[1])
        elif parsed[0] == "CommandPreparedStatementQuery":
            sql = fsql.parse_prepared_statement_handle(parsed[1]).decode()
        else:
            table = self._metadata_table(*parsed)
            endpoint = _flight.FlightEndpoint(_flight.Ticket(cmd), [])
            return _flight.FlightInfo(
                table.schema, descriptor, [endpoint], table.num_rows, table.nbytes
            )
        schema = to_arrow_schema(self._statements.build(sql).schema)
        ticket = sql.encode()
        if parsed is not None:
            ticket = fsql.ticket_statement_query(ticket)
        endpoint = _flight.FlightEndpoint(_flight.Ticket(ticket), [])
        return _flight.FlightInfo(schema, descriptor, [endpoint], -1, -1)

    def do_get(self, context, ticket):
        raw = ticket.ticket
        parsed = fsql.unpack_any(raw)
        if parsed is not None and parsed[0] != "TicketStatementQuery":
            return _flight.RecordBatchStream(self._metadata_table(*parsed))
        if parsed is not None:
            raw = fsql.parse_statement_ticket(parsed[1])
        df = self._statements.build(raw.decode())
        return _flight.RecordBatchStream(df_to_arrow(df, self._max_result_rows))

    # -- FlightSQL prepared statements (actions) ------------------------
    def list_actions(self, context):
        return [
            ("CreatePreparedStatement", "Prepare a SQL statement"),
            ("ClosePreparedStatement", "Release a prepared statement"),
        ]

    def do_action(self, context, action):
        """CreatePreparedStatement: handle = the statement text, dataset
        schema from analysis alone.  The result is Any-wrapped, as the
        arrow implementations emit it.  ClosePreparedStatement: nothing
        to release."""
        body = bytes(action.body.to_pybytes()) if action.body else b""
        if action.type == "CreatePreparedStatement":
            parsed = fsql.unpack_any(body)
            if parsed is None or parsed[0] != "ActionCreatePreparedStatementRequest":
                raise _flight.FlightServerError(
                    "CreatePreparedStatement expects an Any-wrapped "
                    "ActionCreatePreparedStatementRequest"
                )
            sql = fsql.parse_action_create_prepared_statement_request(parsed[1])
            schema_bytes = b""
            try:
                # serialized as an IPC-encapsulated message per the spec
                schema = to_arrow_schema(self._statements.build(sql).schema)
                schema_bytes = schema.serialize().to_pybytes()
            except Exception:
                pass  # schema optional (placeholders do not analyze)
            yield _flight.Result(
                pa.py_buffer(
                    fsql.action_create_prepared_statement_result(
                        sql.encode(), schema_bytes
                    )
                )
            )
        elif action.type == "ClosePreparedStatement":
            return
        else:
            raise _flight.FlightServerError(
                f"unsupported action {action.type!r}"
            )

    def do_put(self, context, descriptor, reader, writer):
        """Three FlightSQL commands and one legacy envelope:

        - ``CommandPreparedStatementQuery``: the stream carries one
          record batch of parameter values; the reply's app metadata
          is the updated (bound) handle;
        - ``CommandStatementUpdate`` / ``CommandPreparedStatementUpdate``
          (values bound from the stream): the SQL DML dialect runs as
          one engine transaction; the reply is a ``DoPutUpdateResult``
          of -1 (count unknown — counting would double-execute);
        - legacy JSON ``{"table": ..., "tx_time": ...?}``: the Arrow
          stream commits atomically as one submit_tx Put."""
        parsed = fsql.unpack_any(descriptor.command)
        if parsed is None:
            engine = self._statements.engine
            from core2_spark.engine import Put

            spec = json.loads(descriptor.command.decode())
            rows = engine.spark.createDataFrame(reader.read_all())
            engine.submit_tx([Put(spec["table"], rows)], tx_time=spec.get("tx_time"))
            return
        name, payload = parsed
        values = _first_row(reader.read_all())
        if name == "CommandPreparedStatementQuery":
            handle = fsql.parse_prepared_statement_handle(payload).decode()
            bound = bind(handle, values, "?")
            writer.write(
                pa.py_buffer(fsql.do_put_prepared_statement_result(bound.encode()))
            )
            return
        if name == "CommandStatementUpdate":
            sql = fsql.parse_statement_update(payload)
        elif name == "CommandPreparedStatementUpdate":
            sql = fsql.parse_prepared_statement_handle(payload).decode()
        else:
            raise _flight.FlightServerError(
                f"unsupported FlightSQL DoPut command {name}"
            )
        self._statements.engine.sql_dml(bind(sql, values, "?"))
        writer.write(pa.py_buffer(fsql.do_put_update_result(-1)))


def _fetch(client, command: bytes) -> pa.Table:
    """GetFlightInfo → endpoint ticket → DoGet."""
    info = client.get_flight_info(_flight.FlightDescriptor.for_command(command))
    return client.do_get(info.endpoints[0].ticket).read_all()


def fetch_sql(location: str, sql: str) -> pa.Table:
    """Client helper: run SQL against a SqlFlightServer and return the
    Arrow result (what a Flight-speaking BI tool does under the hood)."""
    return fetch_flightsql(location, sql.encode())


def fetch_flightsql(location: str, command: bytes) -> pa.Table:
    """Client helper speaking the REAL FlightSQL envelope: ``command``
    is an Any-wrapped FlightSQL message (see ``flightsql_proto``), the
    GetFlightInfo → endpoint ticket → DoGet handshake is exactly what
    a stock ADBC/JDBC FlightSQL driver performs."""
    client = _flight.connect(location)
    try:
        return _fetch(client, command)
    finally:
        client.close()


def _prepare(client, sql: str) -> dict:
    """CreatePreparedStatement → ``{"handle", "dataset_schema"}``."""
    action = _flight.Action(
        "CreatePreparedStatement", fsql.action_create_prepared_statement_request(sql)
    )
    results = list(client.do_action(action))
    parsed = fsql.unpack_any(bytes(results[0].body.to_pybytes()))
    assert parsed is not None and parsed[0] == "ActionCreatePreparedStatementResult"
    return fsql.parse_action_create_prepared_statement_result(parsed[1])


def _execute_and_close(client, handle: bytes) -> pa.Table:
    table = _fetch(client, fsql.command_prepared_statement_query(handle))
    action = _flight.Action(
        "ClosePreparedStatement", fsql.action_close_prepared_statement_request(handle)
    )
    list(client.do_action(action))
    return table


def prepare_and_fetch(location: str, sql: str) -> tuple[pa.Table, pa.Schema | None]:
    """Client helper for the prepare-then-execute flow a stock ADBC
    driver performs: CreatePreparedStatement action → read the
    Any-wrapped result (handle + dataset schema) →
    CommandPreparedStatementQuery with the handle → GetFlightInfo →
    DoGet → ClosePreparedStatement.  Returns (result table, dataset
    schema advertised at prepare time — None if the server omitted it)."""
    client = _flight.connect(location)
    try:
        res = _prepare(client, sql)
        schema = (
            pa.ipc.read_schema(pa.py_buffer(res["dataset_schema"]))
            if res["dataset_schema"]
            else None
        )
        return _execute_and_close(client, res["handle"]), schema
    finally:
        client.close()


def prepare_bind_fetch(location: str, sql: str, params: list) -> pa.Table:
    """Client helper for the PARAMETERIZED prepare flow: prepare a
    statement with ``?`` placeholders, DoPut one record batch of
    parameter values against the handle, read the updated handle from
    the app metadata, then execute it — byte-for-byte the stock ADBC
    sequence for ``SELECT ... WHERE x = ?``."""
    client = _flight.connect(location)
    try:
        handle = _prepare(client, sql)["handle"]
        batch = pa.table({f"p{i}": [v] for i, v in enumerate(params)})
        desc = _flight.FlightDescriptor.for_command(
            fsql.command_prepared_statement_query(handle)
        )
        writer, meta_reader = client.do_put(desc, batch.schema)
        writer.write_table(batch)
        writer.done_writing()
        ack = meta_reader.read()
        bound_handle = fsql.parse_do_put_prepared_statement_result(
            bytes(ack.to_pybytes())
        )
        writer.close()
        return _execute_and_close(client, bound_handle)
    finally:
        client.close()


def put_table(
    location: str, table_name: str, table: pa.Table, tx_time: str | None = None
) -> None:
    """Client helper: upload an Arrow table as one engine transaction."""
    client = _flight.connect(location)
    try:
        desc = _flight.FlightDescriptor.for_command(
            json.dumps({"table": table_name, "tx_time": tx_time}).encode()
        )
        writer, _ = client.do_put(desc, table.schema)
        writer.write_table(table)
        writer.close()
    finally:
        client.close()

"""Differential fuzz of the hand-rolled client protocols (round 6).

The SQL surface is fuzzed elsewhere (test_random_sql.py vs DuckDB);
the WIRE codecs were only example-tested.  These tests close that gap:
N random statements run through the pgwire EXTENDED protocol
(Parse/Bind/Describe/Execute/Sync) and through FlightSQL prepared
statements over live sockets, each compared against the same SQL run
directly through ``Snapshot.sql`` — columns, row counts and values
must agree, interleaved error statements must leave the session
usable, and prepared handles must be reusable.  Bound parameters
include hostile values (a backslash-escaped quote, NaN/±inf, a
placeholder inside a value), checked against a DataFrame-API oracle.

The full runs are slow-tier; each keeps a default-tier smoke sibling
at the same seed with a handful of statements."""

from __future__ import annotations

import os
import random
import shutil

import pytest

from core2_spark.engine import Engine, Put

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.join(REPO, "_data", "protocol_fuzz_test")

# the slow-tier runs (opt in with -m slow / --runslow /
# SPARK_GRAFT_RUN_SLOW=1) and their default-tier smoke siblings
N_STATEMENTS = 24
N_BINDS = 10
N_SMOKE = 6


@pytest.fixture
def engine(spark):
    shutil.rmtree(ROOT, ignore_errors=True)
    eng = Engine(spark, ROOT)
    rows = [
        (i, ["AAPL", "MSFT", "GOOG", None][i % 4], float(i * 7 % 50), i % 5)
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "id long, sym string, px double, bucket long")
    eng.submit_tx([Put("trades", df)], tx_time="2024-01-01 00:00:01")
    return eng


def _gen_statements(seed: int, n: int) -> list[str]:
    """Deterministic random SELECTs: projections, filters, aggregates,
    DISTINCT, LIMIT — always with a total ORDER BY so the three
    executions are comparable row-for-row."""
    rng = random.Random(seed)
    out = []
    for _ in range(n):
        shape = rng.randrange(4)
        pred = rng.choice(
            [
                "id < 25",
                "px > 10.0",
                "bucket IN (0, 2, 4)",
                "sym IS NOT NULL",
                "sym = 'AAPL' OR bucket = 1",
                "id % 3 = 0",
            ]
        )
        if shape == 0:
            cols = rng.sample(["id", "sym", "px", "bucket"], rng.randrange(1, 4))
            out.append(
                f"SELECT {', '.join(cols)} FROM trades WHERE {pred} "
                f"ORDER BY {', '.join(cols)}, {cols[0]} LIMIT {rng.randrange(3, 30)}"
            )
        elif shape == 1:
            agg = rng.choice(
                [
                    "COUNT(*) AS n",
                    "CAST(SUM(id) AS BIGINT) AS s",
                    "MIN(px) AS lo, MAX(px) AS hi",
                    "COUNT(DISTINCT sym) AS nsym",
                ]
            )
            out.append(
                f"SELECT bucket, {agg} FROM trades WHERE {pred} "
                "GROUP BY bucket ORDER BY bucket"
            )
        elif shape == 2:
            out.append(
                f"SELECT DISTINCT sym FROM trades WHERE {pred} ORDER BY sym"
            )
        else:
            out.append(
                "SELECT t.id, t.sym, t.px FROM trades t "
                f"WHERE t.px >= (SELECT MIN(px) FROM trades WHERE {pred}) "
                "ORDER BY t.id LIMIT 10"
            )
    return out


def _text_rows(df) -> list[list[str | None]]:
    """Rows through the server's own arrow conversion, so text
    formatting matches what pgwire puts on the wire."""
    from core2_spark.service import df_to_arrow

    table = df_to_arrow(df, 1 << 20)
    cols = table.schema.names
    pyrows = list(zip(*[table.column(c).to_pylist() for c in cols])) if cols else []
    return [[None if v is None else str(v) for v in row] for row in pyrows]


def _expected(engine, sql: str):
    """(columns, text rows) of ``sql`` run directly."""
    df = engine.db().sql(sql)
    return df.columns, _text_rows(df)


def _pgwire_extended(engine, n: int) -> None:
    from core2_spark.pgwire_server import PgWireServer

    from tests.test_pgwire_server import ExtendedPgClient

    server = PgWireServer(lambda sql: engine.db().sql(sql))
    try:
        client = ExtendedPgClient(server.port)
        for i, sql in enumerate(_gen_statements(seed=601, n=n)):
            stmt = f"s{i}"
            client.parse(stmt, sql)
            client.bind("", stmt)
            client.describe_portal("")
            client.execute("")
            _tags, cols, rows, err = client.sync_and_collect()
            assert err is None, f"{sql!r}: {err}"
            exp_cols, exp_rows = _expected(engine, sql)
            assert cols == list(exp_cols), sql
            assert rows == exp_rows, sql
            if i % 5 == 4:
                # interleave an error: the session must stay usable
                client.parse("bad", "SELECT * FROM not_a_table")
                client.bind("", "bad")
                client.execute("")
                _t, _c, _r, err = client.sync_and_collect()
                assert err is not None
        client.close()
    finally:
        server.shutdown()


# bound as text, as pgwire clients send them; Spark casts them where
# the statement compares them with a number
BUCKETS = ["0", "1", "2", "3", "4"]
PRICES = ["0.0", "10.0", "25.0", "40.0", "NaN", "Infinity", "-Infinity"]
SYMBOLS = ["AAPL", "GOOG", "x\\' OR 1=1 --", "it's", "$1", "?", ""]


def _pgwire_parameterized(engine, n: int) -> None:
    """Random bind parameters through Parse once / Bind-Execute many —
    the reuse pattern drivers actually send."""
    from pyspark.sql import functions as F

    from core2_spark.pgwire_server import PgWireServer

    from tests.test_pgwire_server import ExtendedPgClient

    rng = random.Random(602)
    server = PgWireServer(lambda sql: engine.db().sql(sql))
    try:
        client = ExtendedPgClient(server.port)
        client.parse(
            "pq",
            "SELECT id, sym, px FROM trades WHERE bucket = $1 AND px > $2 "
            "AND coalesce(sym, '') <> $3 ORDER BY id",
        )
        for _ in range(n):
            b, p, s = rng.choice(BUCKETS), rng.choice(PRICES), rng.choice(SYMBOLS)
            client.bind("", "pq", [b, p, s])
            client.execute("")
            _tags, _cols, rows, err = client.sync_and_collect()
            assert err is None, (b, p, s, err)
            want = (
                engine.db().sql("SELECT id, sym, px, bucket FROM trades")
                .where(
                    (F.col("bucket") == int(b))
                    & (F.col("px") > float(p))
                    & (F.coalesce("sym", F.lit("")) != s)
                )
                .select("id", "sym", "px")
                .orderBy("id")
            )
            assert rows == _text_rows(want), (b, p, s)
        client.close()
    finally:
        server.shutdown()


def _flightsql_prepared(engine, n: int) -> None:
    from core2_spark.flight_server import SqlFlightServer, prepare_and_fetch

    server = SqlFlightServer(lambda sql: engine.db().sql(sql), engine=engine)
    try:
        loc = f"grpc://127.0.0.1:{server.port}"
        for sql in _gen_statements(seed=603, n=n):
            table, schema = prepare_and_fetch(loc, sql)
            direct = engine.db().sql(sql)
            exp_cols = direct.columns
            assert table.schema.names == exp_cols, sql
            if schema is not None:
                assert schema.names == exp_cols, sql
            got = [
                tuple(table.column(c).to_pylist()) for c in table.schema.names
            ]
            exp_rows = direct.collect()
            exp = [
                tuple(r[c] for r in exp_rows) for c in exp_cols
            ]
            assert got == exp, sql
    finally:
        server.shutdown()


@pytest.mark.slow
def test_pgwire_extended_protocol_fuzz(spark, engine):
    _pgwire_extended(engine, N_STATEMENTS)


@pytest.mark.slow
def test_pgwire_parameterized_fuzz(spark, engine):
    _pgwire_parameterized(engine, N_BINDS)


@pytest.mark.slow
def test_flightsql_prepared_statement_fuzz(spark, engine):
    _flightsql_prepared(engine, N_STATEMENTS)


def test_pgwire_extended_protocol_smoke(spark, engine):
    _pgwire_extended(engine, N_SMOKE)


def test_pgwire_parameterized_smoke(spark, engine):
    _pgwire_parameterized(engine, N_SMOKE)


def test_flightsql_prepared_statement_smoke(spark, engine):
    _flightsql_prepared(engine, N_SMOKE)

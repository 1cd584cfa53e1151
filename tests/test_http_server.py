"""HTTP query boundary: engine ingest → POST /query round-trip in
both encodings, temporal dialect included."""

from __future__ import annotations

import json
import os
import shutil
import urllib.request

import pytest

from core2_spark.engine import Engine, Put

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.join(REPO, "_data", "http_test")


@pytest.fixture
def engine(spark):
    shutil.rmtree(ROOT, ignore_errors=True)
    return Engine(spark, ROOT)


def test_http_query_roundtrip(spark, engine):
    from core2_spark.http_server import SqlHttpServer, http_query

    v1 = spark.createDataFrame(
        [(1, "AAPL", 100.0), (2, "MSFT", 200.0)], "id long, sym string, px double"
    )
    engine.submit_tx([Put("trades", v1)], tx_time="2024-01-01 00:00:01")
    fix = spark.createDataFrame([(1, "AAPL", 111.0)], "id long, sym string, px double")
    engine.submit_tx([Put("trades", fix)], tx_time="2024-02-01 00:00:00")

    server = SqlHttpServer(lambda sql: engine.db().sql(sql), engine=engine)
    try:
        # JSON encoding
        got = http_query(server.port, "SELECT id, px FROM trades ORDER BY id")
        assert got["columns"] == ["id", "px"]
        assert got["rows"] == [[1, 111.0], [2, 200.0]]

        # Arrow IPC encoding
        tbl = http_query(
            server.port, "SELECT id, px FROM trades ORDER BY id", arrow=True
        )
        assert tbl.to_pydict()["px"] == [111.0, 200.0]

        # the temporal dialect crosses HTTP too
        jan = http_query(
            server.port,
            "SELECT id, px FROM trades FOR SYSTEM_TIME AS OF "
            "TIMESTAMP '2024-01-15 00:00:00' ORDER BY id",
            arrow=True,
        )
        assert jan.to_pydict()["px"] == [100.0, 200.0]

        # catalog listing
        with urllib.request.urlopen(
            f"http://127.0.0.1:{server.port}/tables"
        ) as resp:
            assert json.loads(resp.read())["tables"] == ["trades"]

        # SQL errors surface as 400s, not hung sockets
        with pytest.raises(urllib.error.HTTPError) as err:
            http_query(server.port, "SELECT * FROM nope")
        assert err.value.code == 400
    finally:
        server.shutdown()


def test_http_result_size_guard(spark, engine):
    from core2_spark.http_server import SqlHttpServer, http_query

    rows = spark.range(0, 50).selectExpr("id", "CAST(id AS STRING) AS sym")
    engine.submit_tx([Put("trades", rows)], tx_time="2024-01-01 00:00:01")

    server = SqlHttpServer(lambda sql: engine.db().sql(sql), max_result_rows=10)
    try:
        with pytest.raises(urllib.error.HTTPError) as err:
            http_query(server.port, "SELECT * FROM trades")
        assert err.value.code == 400
        ok = http_query(server.port, "SELECT COUNT(*) AS n FROM trades")
        assert ok["rows"] == [[50]]
    finally:
        server.shutdown()


def test_http_tx_dml_endpoint(spark, engine):
    """POST /tx runs multiple DML statements as ONE transaction and
    returns the committed tx_time; the write is visible to /query."""
    import urllib.error

    from core2_spark.http_server import SqlHttpServer, http_query

    v1 = spark.createDataFrame(
        [(1, "AAPL", 100.0), (2, "MSFT", 200.0)], "id long, sym string, px double"
    )
    engine.submit_tx([Put("trades", v1)], tx_time="2024-01-01 00:00:01")

    server = SqlHttpServer(lambda sql: engine.db().sql(sql), engine=engine)
    try:
        req = urllib.request.Request(
            f"http://127.0.0.1:{server.port}/tx",
            data=json.dumps(
                {
                    "statements": [
                        "UPDATE trades SET px = 150.0 WHERE id = 1",
                        "DELETE FROM trades WHERE id = 2",
                    ],
                    "tx_time": "2024-02-01 00:00:00",
                }
            ).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req) as resp:
            assert json.loads(resp.read())["tx_time"] == "2024-02-01T00:00:00"

        got = http_query(server.port, "SELECT id, px FROM trades ORDER BY id")
        assert got["rows"] == [[1, 150.0]]

        # bad bodies are 400s
        bad = urllib.request.Request(
            f"http://127.0.0.1:{server.port}/tx",
            data=json.dumps({"statements": []}).encode(),
            headers={"Content-Type": "application/json"},
        )
        with pytest.raises(urllib.error.HTTPError) as err:
            urllib.request.urlopen(bad)
        assert err.value.code == 400
    finally:
        server.shutdown()


def test_http_changes_feed(spark, engine):
    """GET /changes tails the CDC feed over HTTP: an Arrow-speaking
    consumer fetches the (since, until] window with ordering columns,
    and a JSON client gets the same rows."""
    import json as _json
    import urllib.request

    import pyarrow as pa

    from core2_spark.http_server import ARROW_MIME, SqlHttpServer

    engine.submit_tx(
        [Put("trades", spark.createDataFrame(
            [(1, "AAPL"), (2, "MSFT")], "id long, sym string"))],
        tx_time="2024-01-10 00:00:00",
    )
    engine.submit_tx(
        [Put("trades", spark.createDataFrame([(1, "AAPL2")], "id long, sym string"))],
        tx_time="2024-02-10 00:00:00",
    )

    server = SqlHttpServer(lambda sql: engine.db().sql(sql), engine=engine)
    try:
        url = (
            f"http://127.0.0.1:{server.port}/changes"
            "?table=trades&since=2024-02-01T00:00:00"
        )
        req = urllib.request.Request(url, headers={"Accept": ARROW_MIME})
        with urllib.request.urlopen(req) as resp:
            feed = pa.ipc.open_stream(resp.read()).read_all()
        assert feed.num_rows == 1
        row = feed.to_pylist()[0]
        assert row["sym"] == "AAPL2" and row["_change"] == "put"
        assert "system_time_start" in feed.column_names
        assert "_tx_seq" in feed.column_names

        with urllib.request.urlopen(url.replace("2024-02", "2024-01")) as resp:
            js = _json.loads(resp.read())
        assert len(js["rows"]) == 3  # both transactions

        # missing params → 400 with a helpful message
        bad = f"http://127.0.0.1:{server.port}/changes?table=trades"
        try:
            urllib.request.urlopen(bad)
            assert False, "expected HTTPError"
        except urllib.error.HTTPError as e:
            assert e.code == 400
    finally:
        server.shutdown()


def test_http_basis_token_pins_snapshot(spark, engine):
    """GET /basis hands out the log-head token; POST /query with that
    token keeps answering from the pinned snapshot even after later
    transactions — the reference's pass-a-basis contract over HTTP."""
    import json as _json
    import urllib.request

    from core2_spark.http_server import SqlHttpServer

    engine.submit_tx(
        [Put("trades", spark.createDataFrame(
            [(1, 100.0), (2, 200.0)], "id long, px double"))],
        tx_time="2024-01-10 00:00:00",
    )
    server = SqlHttpServer(lambda sql: engine.db().sql(sql), engine=engine)
    try:
        base = f"http://127.0.0.1:{server.port}"
        with urllib.request.urlopen(f"{base}/basis") as resp:
            token = _json.loads(resp.read())["basis"]

        engine.submit_tx(
            [Put("trades", spark.createDataFrame(
                [(3, 300.0)], "id long, px double"))],
            tx_time="2024-02-10 00:00:00",
        )

        def post_query(body):
            req = urllib.request.Request(
                f"{base}/query",
                data=_json.dumps(body).encode(),
                headers={"Content-Type": "application/json"},
            )
            with urllib.request.urlopen(req) as resp:
                return _json.loads(resp.read())

        pinned = post_query(
            {"sql": "SELECT COUNT(*) AS n FROM trades", "basis": token}
        )
        assert pinned["rows"] == [[2]]  # the token predates tx2
        live = post_query({"sql": "SELECT COUNT(*) AS n FROM trades"})
        assert live["rows"] == [[3]]
    finally:
        server.shutdown()


@pytest.mark.parametrize("craft", ["unknown_table", "outside_file", "wider_schema"])
def test_http_refuses_a_crafted_basis_token(spark, engine, tmp_path, craft):
    """A basis token is client input: one naming a table the engine
    does not record, a file outside the table's directory or a schema
    the table does not have is refused with a SQLSTATE, and no file it
    names is read."""
    import json as _json
    import urllib.request

    from core2_spark.http_server import SqlHttpServer

    schema = "id long, px double"
    engine.submit_tx([Put("trades", spark.createDataFrame([(1, 100.0)], schema))])
    other = Engine(spark, str(tmp_path / "other"))
    other.submit_tx([Put("trades", spark.createDataFrame([(666, 6.66)], schema))])
    secret = other.db().basis
    server = SqlHttpServer(lambda sql: engine.db().sql(sql), engine=engine)
    try:
        base = f"http://127.0.0.1:{server.port}"
        with urllib.request.urlopen(f"{base}/basis") as resp:
            token = _json.loads(_json.loads(resp.read())["basis"])
        table = "trades"
        if craft == "unknown_table":
            table = "secret"
            token["manifests"]["secret"] = list(secret.manifests["trades"])
            token["roots"]["secret"] = secret.roots["trades"]
            token["schemas"]["secret"] = secret.schemas["trades"]
        elif craft == "outside_file":
            token["manifests"]["trades"] = list(secret.manifests["trades"])
        else:
            wider = _json.loads(token["schemas"]["trades"])
            wider["fields"].append(
                {"name": "ssn", "type": "string", "nullable": True, "metadata": {}}
            )
            token["schemas"]["trades"] = _json.dumps(wider)
        req = urllib.request.Request(
            f"{base}/query",
            data=_json.dumps(
                {"sql": f"SELECT id FROM {table}", "basis": _json.dumps(token)}
            ).encode(),
            headers={"Content-Type": "application/json"},
        )
        with pytest.raises(urllib.error.HTTPError) as err:
            urllib.request.urlopen(req)
        assert err.value.code == 400
        body = _json.loads(err.value.read())
        assert body["sqlstate"] == "22023"
        assert "666" not in body["error"]
    finally:
        server.shutdown()


def test_http_tx_mview_maintenance(spark, engine):
    """A single materialized-view maintenance statement rides the same
    POST /tx funnel (it executes immediately — not a log op); mixing
    it into a multi-statement transaction is a 400."""
    import urllib.error
    import urllib.request

    from core2_spark.http_server import SqlHttpServer, http_query

    v1 = spark.createDataFrame(
        [(1, "AAPL", 100.0), (2, "MSFT", 200.0), (3, "AAPL", 50.0)],
        "id long, sym string, px double",
    )
    engine.submit_tx([Put("trades", v1)], tx_time="2024-01-01 00:00:01")

    server = SqlHttpServer(lambda sql: engine.db().sql(sql), engine=engine)
    try:
        def post(statements):
            req = urllib.request.Request(
                f"http://127.0.0.1:{server.port}/tx",
                data=json.dumps({"statements": statements}).encode(),
                headers={"Content-Type": "application/json"},
            )
            with urllib.request.urlopen(req) as resp:
                return json.loads(resp.read())

        post(
            [
                "CREATE MATERIALIZED VIEW rev AS "
                "SELECT sym, COUNT(*) AS n, SUM(px) AS total "
                "FROM trades GROUP BY sym"
            ]
        )
        post(["INSERT INTO trades (id, sym, px) VALUES (4, 'AAPL', 25.0)"])
        post(["REFRESH MATERIALIZED VIEW rev"])
        got = http_query(
            server.port, "SELECT sym, n, total FROM mview_rev ORDER BY sym"
        )
        assert got["rows"] == [["AAPL", 3, 175.0], ["MSFT", 1, 200.0]]

        # maintenance mixed into a multi-statement tx: 400, no effect
        with pytest.raises(urllib.error.HTTPError) as err:
            post(
                [
                    "INSERT INTO trades (id, sym, px) VALUES (5, 'GOOG', 1.0)",
                    "REFRESH MATERIALIZED VIEW rev",
                ]
            )
        assert err.value.code == 400
    finally:
        server.shutdown()


def test_http_tx_patch_and_assert(spark, engine):
    """PATCH INTO .. RECORDS and ASSERT ride the POST /tx funnel like
    every DML statement (shared sql_dml compiler); a failing ASSERT
    aborts the whole transaction and surfaces as an HTTP error."""
    import urllib.error

    from core2_spark.http_server import SqlHttpServer, http_query

    v1 = spark.createDataFrame(
        [(1, "AAPL", 100.0), (2, "MSFT", 200.0)], "id long, sym string, px double"
    )
    engine.submit_tx([Put("trades", v1)], tx_time="2024-01-01 00:00:01")

    server = SqlHttpServer(lambda sql: engine.db().sql(sql), engine=engine)
    try:
        req = urllib.request.Request(
            f"http://127.0.0.1:{server.port}/tx",
            data=json.dumps(
                {
                    "statements": [
                        "ASSERT NOT EXISTS (SELECT 1 FROM trades "
                        "WHERE sym = 'NVDA')",
                        "PATCH INTO trades RECORDS "
                        "{id: 1, px: 123}, {id: 3, sym: 'NVDA', px: 500}",
                    ],
                    "tx_time": "2024-02-01 00:00:00",
                }
            ).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req) as resp:
            assert json.loads(resp.read())["tx_time"] == "2024-02-01T00:00:00"
        got = http_query(
            server.port, "SELECT id, sym, px FROM trades ORDER BY id"
        )
        assert got["rows"] == [
            [1, "AAPL", 123.0], [2, "MSFT", 200.0], [3, "NVDA", 500.0]
        ]

        # replaying the same guarded tx now trips the assert -> error,
        # and the co-submitted second patch leaves nothing behind
        again = urllib.request.Request(
            f"http://127.0.0.1:{server.port}/tx",
            data=json.dumps(
                {
                    "statements": [
                        "ASSERT NOT EXISTS (SELECT 1 FROM trades "
                        "WHERE sym = 'NVDA'), 'dup ticker'",
                        "PATCH INTO trades RECORDS {id: 9, sym: 'X', px: 1}",
                    ]
                }
            ).encode(),
            headers={"Content-Type": "application/json"},
        )
        with pytest.raises(urllib.error.HTTPError) as err:
            urllib.request.urlopen(again)
        assert err.value.code in (400, 409, 500)
        got = http_query(server.port, "SELECT COUNT(*) AS n FROM trades")
        assert got["rows"] == [[3]]
    finally:
        server.shutdown()


def test_http_xtql_endpoint(spark, engine):
    """POST /xtql runs a JSON pipeline over the engine's current (or
    basis-pinned) snapshot — the wire spelling of Snapshot.xtql."""
    import urllib.error

    from core2_spark.http_server import SqlHttpServer

    v1 = spark.createDataFrame(
        [(1, "AAPL", 100.0), (2, "MSFT", 200.0), (3, "AAPL", 50.0)],
        "id long, sym string, px double",
    )
    engine.submit_tx([Put("trades", v1)], tx_time="2024-01-01 00:00:01")
    server = SqlHttpServer(lambda sql: engine.db().sql(sql), engine=engine)
    try:
        req = urllib.request.Request(
            f"http://127.0.0.1:{server.port}/xtql",
            data=json.dumps(
                {
                    "query": [
                        {"from": "trades", "bind": ["sym", "px"]},
                        {"aggregate": {"total": ["sum", "px"]},
                         "group": ["sym"]},
                        {"order-by": ["sym"]},
                    ]
                }
            ).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req) as resp:
            got = json.loads(resp.read())
        assert got["columns"] == ["sym", "total"]
        assert got["rows"] == [["AAPL", 150.0], ["MSFT", 200.0]]

        # round-8 ops over the wire: a not-exists sub-pipeline (JSON
        # arrays arrive as the same lists xtql.py compiles)
        ex = urllib.request.Request(
            f"http://127.0.0.1:{server.port}/xtql",
            data=json.dumps(
                {
                    "query": [
                        {"from": "trades", "bind": ["id", "sym"]},
                        {"where": [["not-exists",
                                    [{"from": "trades",
                                      "bind": [{"sym": "s2"}, "px"]},
                                     {"where": [[">", "px", 150.0]]}],
                                    [["sym", "s2"]]]]},
                        {"order-by": ["id"]},
                        {"return": ["id", "sym"]},
                    ]
                }
            ).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(ex) as resp:
            got = json.loads(resp.read())
        assert got["rows"] == [[1, "AAPL"], [3, "AAPL"]]

        # round-9 op over the wire: a unify head (shared-variable
        # self-join on sym, rel literal unified in)
        un = urllib.request.Request(
            f"http://127.0.0.1:{server.port}/xtql",
            data=json.dumps(
                {
                    "query": [
                        {"unify": [
                            {"from": "trades", "bind": ["id", "sym", "px"]},
                            {"rel": [{"sym": "AAPL", "mult": 2.0}]},
                            {"with": {"px2": ["*", "px", "mult"]}},
                        ]},
                        {"order-by": ["id"]},
                        {"return": ["id", "px2"]},
                    ]
                }
            ).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(un) as resp:
            got = json.loads(resp.read())
        assert got["rows"] == [[1, 200.0], [3, 100.0]]

        # malformed pipelines are 400s, not connection drops
        bad = urllib.request.Request(
            f"http://127.0.0.1:{server.port}/xtql",
            data=json.dumps({"query": [{"bogus": 1}]}).encode(),
            headers={"Content-Type": "application/json"},
        )
        with pytest.raises(urllib.error.HTTPError) as err:
            urllib.request.urlopen(bad)
        assert err.value.code == 400
    finally:
        server.shutdown()

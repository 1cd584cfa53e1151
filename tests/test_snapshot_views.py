"""Snapshot.sql builds only the views a statement reads: a current-state
view per table it names bare, a history view per table it names in a
FOR clause, a view per ``mview_`` it names.  Every other table at the
basis is never resolved, and no per-call view outlives the call."""

from __future__ import annotations

import pytest

from core2_spark.engine import Engine, Put, Snapshot

AGGS = {"n": ("count", "*"), "total": ("sum", "price")}


@pytest.fixture
def eng(spark, tmp_path):
    e = Engine(spark, str(tmp_path / "db"))
    orders = spark.createDataFrame(
        [(1, 10, "O", 5.0), (2, 10, "F", 7.0), (3, 20, "O", 9.0)],
        "id long, cust long, status string, price double",
    )
    customer = spark.createDataFrame([(10, "ada"), (20, "bob")], "id long, name string")
    e.submit_tx(
        [Put("orders", orders), Put("customer", customer)],
        tx_time="2024-01-01 00:00:01",
    )
    moved = spark.createDataFrame(
        [(1, 10, "F", 5.0)], "id long, cust long, status string, price double"
    )
    e.submit_tx([Put("orders", moved)], tx_time="2024-02-01 00:00:01")
    return e


@pytest.fixture
def built(monkeypatch):
    """Names each view build resolved, by kind, in call order."""
    calls: dict[str, list[str]] = {"table": [], "history": [], "mview": []}
    table, history, mview = Snapshot.table, Snapshot.history, Engine.materialized_view

    def _table(self, name, *a, **k):
        calls["table"].append(name)
        return table(self, name, *a, **k)

    def _history(self, name):
        calls["history"].append(name)
        return history(self, name)

    def _mview(self, name):
        calls["mview"].append(name)
        return mview(self, name)

    monkeypatch.setattr(Snapshot, "table", _table)
    monkeypatch.setattr(Snapshot, "history", _history)
    monkeypatch.setattr(Engine, "materialized_view", _mview)
    return calls


def _scoped_views(spark) -> list[str]:
    return [
        t.name
        for t in spark.catalog.listTables()
        if "__snap_" in t.name or "__sys_history_" in t.name
    ]


def test_unnamed_table_is_never_built(eng, monkeypatch):
    """A table the statement does not name is not resolved: a build of
    ``customer`` that would raise never runs for an orders-only read."""
    table = Snapshot.table

    def _table(self, name, *a, **k):
        if name == "customer":
            raise RuntimeError("customer must not be built")
        return table(self, name, *a, **k)

    monkeypatch.setattr(Snapshot, "table", _table)
    db = eng.db()
    assert [tuple(r) for r in db.sql("SELECT id, price FROM orders WHERE id = 3").collect()] == [
        (3, 9.0)
    ]
    got = db.sql("SELECT status, COUNT(*) AS n FROM orders GROUP BY status ORDER BY status")
    assert [tuple(r) for r in got.collect()] == [("F", 2), ("O", 1)]
    # a CTE named like the table shadows it, so customer is still unread
    got = db.sql(
        "WITH customer AS (SELECT id FROM orders WHERE status = 'O') "
        "SELECT id FROM customer ORDER BY id"
    )
    assert [r[0] for r in got.collect()] == [3]
    with pytest.raises(RuntimeError, match="must not be built"):
        db.sql("SELECT name FROM customer")


def test_for_clause_builds_history_only(spark, eng, built):
    """A table named only under FOR SYSTEM_TIME AS OF gets its history
    view and no current-state view; named both ways, it gets both."""
    db = eng.db()
    got = db.sql(
        "SELECT id, status FROM orders FOR SYSTEM_TIME AS OF "
        "TIMESTAMP '2024-01-15 00:00:00' WHERE id = 1"
    )
    assert [tuple(r) for r in got.collect()] == [(1, "O")]
    assert built["table"] == [] and built["history"] == ["orders"]

    built["history"].clear()
    got = db.sql(
        "SELECT o.status AS now, h.status AS then FROM orders o JOIN orders "
        "FOR SYSTEM_TIME AS OF TIMESTAMP '2024-01-15 00:00:00' h ON o.id = h.id "
        "WHERE o.id = 1"
    )
    assert [tuple(r) for r in got.collect()] == [("F", "O")]
    assert built["table"] == ["orders"] and built["history"] == ["orders"]
    assert _scoped_views(spark) == []


def test_only_named_mview_is_built(eng, built):
    eng.create_materialized_view("by_status", "orders", ["status"], AGGS)
    eng.create_materialized_view("by_cust", "orders", ["cust"], AGGS)
    built["mview"].clear()
    built["table"].clear()
    got = eng.db().sql("SELECT status, n FROM mview_by_status ORDER BY status")
    assert [tuple(r) for r in got.collect()] == [("F", 2), ("O", 1)]
    assert built["mview"] == ["by_status"] and built["table"] == []
    # case-folded reference, joined with a table
    built["mview"].clear()
    got = eng.db().sql(
        "SELECT c.name, m.n FROM MVIEW_BY_CUST m JOIN customer c ON c.id = m.cust "
        "ORDER BY c.name"
    )
    assert [tuple(r) for r in got.collect()] == [("ada", 2), ("bob", 1)]
    assert built["mview"] == ["by_cust"] and built["table"] == ["customer"]


def test_no_scoped_view_survives_a_call(spark, eng, monkeypatch):
    db = eng.db()
    db.sql("SELECT o.id FROM orders o JOIN customer c ON o.cust = c.id").collect()
    assert _scoped_views(spark) == []
    with pytest.raises(Exception):
        db.sql("SELECT no_such_column FROM orders")
    assert _scoped_views(spark) == []
    with pytest.raises(Exception):
        db.sql(
            "SELECT * FROM orders FOR SYSTEM_TIME AS OF "
            "TIMESTAMP '2024-01-15 00:00:00' JOIN no_such_table"
        )
    assert _scoped_views(spark) == []

    # a build that fails after earlier views were registered
    table = Snapshot.table

    def _table(self, name, *a, **k):
        if name == "customer":
            raise RuntimeError("build failed")
        return table(self, name, *a, **k)

    monkeypatch.setattr(Snapshot, "table", _table)
    with pytest.raises(RuntimeError, match="build failed"):
        db.sql(
            "SELECT o.id FROM orders FOR SYSTEM_TIME ALL o, orders p, customer c "
            "WHERE o.id = p.id AND p.cust = c.id"
        )
    assert _scoped_views(spark) == []


# -- statement shapes whose answers must not move ---------------------


def test_self_join_builds_once(eng, built):
    got = eng.db().sql(
        "SELECT a.id, b.id FROM orders a JOIN orders b "
        "ON a.cust = b.cust AND a.id < b.id"
    )
    assert [tuple(r) for r in got.collect()] == [(1, 2)]
    assert built["table"] == ["orders"]


def test_from_list_builds_each_named_table(eng, built):
    got = eng.db().sql(
        "SELECT o.id, c.name FROM orders o, customer c "
        "WHERE o.cust = c.id ORDER BY o.id"
    )
    assert [tuple(r) for r in got.collect()] == [(1, "ada"), (2, "ada"), (3, "bob")]
    assert sorted(built["table"]) == ["customer", "orders"]


def test_with_recursive_reads_named_tables(eng, built):
    got = eng.db().sql(
        """
        WITH RECURSIVE chain AS (
            SELECT id FROM orders WHERE id = 1
            UNION
            SELECT o.id FROM chain c JOIN orders o ON o.id = c.id + 1
        )
        SELECT id FROM chain ORDER BY id
        """
    )
    assert [r[0] for r in got.collect()] == [1, 2, 3]
    assert built["table"] == ["orders"]


def test_exists_over_or_retry(eng, built):
    """Correlation inside a disjunction takes the split-EXISTS retry;
    the retried text reads the same views."""
    from core2_spark.sql_dialect import split_exists_disjunctions

    sql = (
        "SELECT c.name FROM customer c WHERE EXISTS (SELECT 1 FROM orders o "
        "WHERE o.cust = c.id AND o.price > 8 OR o.status = 'X') ORDER BY c.name"
    )
    assert split_exists_disjunctions(sql) != sql
    assert [r[0] for r in eng.db().sql(sql).collect()] == ["bob"]
    assert sorted(built["table"]) == ["customer", "orders"]


def test_information_schema_and_shell_sugar(eng):
    db = eng.db()
    got = db.sql(
        "SELECT table_name FROM information_schema.tables ORDER BY table_name"
    )
    assert [r[0] for r in got.collect()] == ["customer", "orders"]
    # a literal naming information_schema comes back as written
    got = db.sql(
        "SELECT 'information_schema.tables' AS lit, table_name "
        "FROM information_schema.tables WHERE table_name = 'orders'"
    )
    assert [tuple(r) for r in got.collect()] == [("information_schema.tables", "orders")]
    got = db.sql(
        "SELECT column_name FROM information_schema.columns "
        "WHERE table_name = 'customer' AND column_name <> 'information_schema.Columns' "
        "ORDER BY ordinal_position"
    )
    assert [r[0] for r in got.collect()] == ["id", "name"]
    # a comment names nothing; the dotted name may be spaced
    got = db.sql(
        "SELECT table_name FROM information_schema . tables -- information_schema.columns\n"
        "ORDER BY table_name"
    )
    assert [r[0] for r in got.collect()] == ["customer", "orders"]
    for head in ("", "-- list\n", "/* a /* nested */ comment */ "):
        assert [tuple(r) for r in db.sql(head + "SHOW TABLES").collect()] == [
            ("customer", "BASE TABLE"),
            ("orders", "BASE TABLE"),
        ]
        assert [tuple(r) for r in db.sql(head + "DESCRIBE customer").collect()] == [
            ("id", "bigint", "YES"),
            ("name", "string", "YES"),
        ]


def test_literal_ends_where_spark_ends_it(spark, eng, built):
    """A backslash-escaped quote stays inside its "..." literal: the FOR
    clause in it is text, so the value comes back as plain spark.sql
    reads it and no history view is built."""
    sql = 'SELECT "x\\" FROM orders FOR SYSTEM_TIME AS OF TIMESTAMP \'2030-01-01\' y" AS s'
    want = spark.sql(sql).collect()[0][0]
    assert want == "x\" FROM orders FOR SYSTEM_TIME AS OF TIMESTAMP '2030-01-01' y"
    assert eng.db().sql(sql).collect()[0][0] == want
    assert built == {"table": [], "history": [], "mview": []}

"""SQL DML frontend (sql_dml.py): INSERT/UPDATE/DELETE/ERASE
statements must behave exactly like their programmatic submit_tx
twins — same log, same clock, same bitemporal visibility."""

from __future__ import annotations

import pytest

from core2_spark.engine import Engine


@pytest.fixture()
def eng(spark, tmp_path):
    e = Engine(spark, str(tmp_path / "db"))
    e.sql_dml(
        "INSERT INTO accounts (id, owner, balance) VALUES "
        "(1, 'ada', CAST(100.0 AS DOUBLE)), (2, 'bob', CAST(50.0 AS DOUBLE)), "
        "(3, 'eve', CAST(75.0 AS DOUBLE))"
    )
    return e


def rows(df):
    return {
        (r["id"], r["owner"], r["balance"])
        for r in df.select("id", "owner", "balance").collect()
    }


def test_insert_values_visible(eng):
    assert rows(eng.db().table("accounts")) == {
        (1, "ada", 100.0),
        (2, "bob", 50.0),
        (3, "eve", 75.0),
    }


def test_update_appends_new_version_keeps_history(eng):
    pre = eng.db()
    eng.sql_dml("UPDATE accounts SET balance = balance * 2 WHERE owner = 'bob'")
    post = eng.db()
    assert rows(post.table("accounts")) == {
        (1, "ada", 100.0),
        (2, "bob", 100.0),
        (3, "eve", 75.0),
    }
    # pre-DML snapshot still answers with the old value (repeatable basis)
    assert (2, "bob", 50.0) in rows(pre.table("accounts"))
    # history carries both versions of id=2
    assert post.history("accounts").filter("id = 2").count() == 2


def test_update_expression_uses_snapshot_state(eng):
    # SET references other columns; WHERE matches several rows
    eng.sql_dml("UPDATE accounts SET balance = balance + 10 WHERE balance >= 75.0")
    assert rows(eng.db().table("accounts")) == {
        (1, "ada", 110.0),
        (2, "bob", 50.0),
        (3, "eve", 85.0),
    }


def test_delete_tombstones_current_but_not_history(eng):
    eng.sql_dml("DELETE FROM accounts WHERE owner = 'eve'")
    post = eng.db()
    assert rows(post.table("accounts")) == {(1, "ada", 100.0), (2, "bob", 50.0)}
    # the deleted id's versions remain in history (soft delete)
    assert post.history("accounts").filter("id = 3").count() >= 1


def test_erase_physically_removes(eng):
    eng.sql_dml("ERASE FROM accounts WHERE id = 1")
    post = eng.db()
    assert rows(post.table("accounts")) == {(2, "bob", 50.0), (3, "eve", 75.0)}
    assert post.history("accounts").filter("id = 1").count() == 0


def test_insert_select_derives_from_snapshot(eng):
    eng.sql_dml(
        "INSERT INTO accounts "
        "SELECT id + 100 AS id, owner, balance * 0.5 AS balance FROM accounts"
    )
    got = rows(eng.db().table("accounts"))
    assert (101, "ada", 50.0) in got and (103, "eve", 37.5) in got
    assert len(got) == 6


def test_update_for_portion_of_application_time(eng):
    eng.sql_dml(
        "UPDATE accounts FOR PORTION OF APPLICATION_TIME "
        "FROM '2024-06-01' TO '2024-07-01' "
        "SET balance = 0.0 WHERE id = 1"
    )
    db = eng.db()
    # inside the portion the new version wins ...
    assert (1, "ada", 0.0) in rows(db.table("accounts", app_time="2024-06-15"))
    # ... outside it the original still applies
    assert (1, "ada", 100.0) in rows(db.table("accounts", app_time="2024-08-01"))


def test_unsupported_statement_raises(eng):
    with pytest.raises(ValueError, match="unsupported DML"):
        eng.sql_dml("MERGE INTO accounts USING x ON TRUE")


def test_sql_dml_many_single_transaction(spark, eng):
    """Several DML statements in one submit_tx: one shared tx clock,
    all statements compiled against the pre-transaction snapshot."""
    base = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)],
        "id long, tag string, x double",
    )
    from core2_spark.engine import Put

    eng.submit_tx([Put("t", base)], tx_time="2024-06-01 00:00:01")
    eng.sql_dml_many(
        [
            # bare literals: INT/DECIMAL auto-align to the table's
            # BIGINT/DOUBLE schema (no casts needed)
            "INSERT INTO t (id, tag, x) VALUES (4, 'd', 4.0)",
            "UPDATE t SET x = x * 10 WHERE id = 1",
            "DELETE FROM t WHERE id = 2",
        ],
        tx_time="2024-06-01 00:00:02",
    )
    db = eng.db()
    got = {(r["id"], r["x"]) for r in db.table("t").collect()}
    assert got == {(1, 10.0), (3, 3.0), (4, 4.0)}
    # every op landed at the same transaction clock
    times = {
        r["system_time_start"]
        for r in db.history("t").collect()
        if r["system_time_start"].isoformat() == "2024-06-01T00:00:02"
    }
    assert len(times) == 1


@pytest.mark.slow
def test_random_dml_sequences_match_model(spark, tmp_path):
    """Property: random INSERT/UPDATE/DELETE statement sequences through
    the SQL DML frontend agree with a naive dict replay."""
    import random

    from core2_spark.engine import Engine

    rng = random.Random(23)
    for trial in range(3):
        eng2 = Engine(spark, str(tmp_path / f"rnd{trial}"))
        eng2.sql_dml(
            "INSERT INTO t (id, v) VALUES "
            "(CAST(1 AS BIGINT), CAST(10 AS BIGINT)), "
            "(CAST(2 AS BIGINT), CAST(20 AS BIGINT))"
        )
        model = {1: 10, 2: 20}
        for _ in range(4):
            verb = rng.choice(["insert", "update", "delete"])
            rid = rng.randrange(1, 5)
            val = rng.randrange(100)
            if verb == "insert":
                eng2.sql_dml(f"INSERT INTO t (id, v) VALUES ({rid}, {val})")
                model[rid] = val
            elif verb == "update":
                eng2.sql_dml(f"UPDATE t SET v = {val} WHERE id = {rid}")
                if rid in model:
                    model[rid] = val
            else:
                eng2.sql_dml(f"DELETE FROM t WHERE id = {rid}")
                model.pop(rid, None)
        got = {
            (r["id"], r["v"]) for r in eng2.db().table("t").collect()
        }
        assert got == set(model.items()), f"trial {trial}"


def test_delete_for_portion_of_app_time(spark, tmp_path):
    from core2_spark.engine import Put

    engine = Engine(spark, str(tmp_path / "delpor"))
    df = spark.createDataFrame(
        [(1, "keep"), (2, "part")], "id long, v string"
    )
    engine.submit_tx(
        [Put("t", df)], tx_time="2024-01-01 00:00:01"
    )
    engine.sql_dml(
        "DELETE FROM t FOR PORTION OF APPLICATION_TIME "
        "FROM '2024-03-01 00:00:00' TO '2024-06-01 00:00:00' WHERE id = 2",
        tx_time="2024-02-01 00:00:00",
    )
    db = engine.db()
    # inside the portion: id 2 hidden
    apr = {r["id"] for r in db.table("t", app_time="2024-04-01").collect()}
    assert apr == {1}
    # outside the portion: both visible again
    jul = {r["id"] for r in db.table("t", app_time="2024-07-01").collect()}
    assert jul == {1, 2}
    # before the deletion was known: both visible
    early = {
        r["id"]
        for r in db.table(
            "t", system_time="2024-01-15", app_time="2024-04-01"
        ).collect()
    }
    assert early == {1, 2}


def test_erase_rejects_portion_clause(spark, tmp_path):
    from core2_spark.engine import Put

    engine = Engine(spark, str(tmp_path / "erapor"))
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    engine.submit_tx([Put("t", df)])
    with pytest.raises(ValueError, match="PORTION"):
        engine.sql_dml(
            "ERASE FROM t FOR PORTION OF APPLICATION_TIME "
            "FROM '2024-01-01' TO '2024-02-01' WHERE id = 1"
        )


def test_vacuum_and_optimize_statements(spark, tmp_path):
    """Round 6: retention and compaction as SQL statements (the shape
    DuckDB/Delta users expect) — VACUUM t OLDER THAN drops closed
    history partition-wise, OPTIMIZE t [ZORDER BY] compacts files;
    both return result dicts and answers are unchanged at/after the
    horizon."""
    from core2_spark.engine import Engine, Put
    from core2_spark.sql_dml import maintenance_result

    eng = Engine(spark, str(tmp_path / "sqlmaint"))
    mk = lambda rows: spark.createDataFrame(rows, "id long, v string")
    eng.submit_tx([Put("t", mk([(1, "a"), (2, "b")]))],
                  tx_time="2024-01-01 00:00:01")
    eng.submit_tx([Put("t", mk([(1, "a2"), (2, "b2")]))],
                  tx_time="2024-02-01 00:00:01")

    res = maintenance_result(eng, "VACUUM t OLDER THAN TIMESTAMP '2024-03-01'")
    assert res == {"statement": "vacuum", "table": "t",
                   "older_than": "2024-03-01"}
    assert eng.db().history("t").count() == 2  # both v1 rows dropped
    assert {(r["id"], r["v"]) for r in eng.db().table("t").collect()} == {
        (1, "a2"), (2, "b2")
    }

    res = maintenance_result(eng, "OPTIMIZE t")
    assert res["statement"] == "optimize" and res["target_files"] >= 1
    assert {(r["id"], r["v"]) for r in eng.db().table("t").collect()} == {
        (1, "a2"), (2, "b2")
    }
    res = maintenance_result(eng, "OPTIMIZE t ZORDER BY (id)")
    assert res["zorder_by"] == ["id"]
    # ordinary DML still routes through as None
    assert maintenance_result(eng, "DELETE FROM t WHERE id = 1") is None


# ------------------------------------------------------------- MERGE INTO


def _merge_engine(spark, tmp_path, tag):
    from core2_spark.engine import Engine, Put

    eng = Engine(spark, str(tmp_path / f"merge_{tag}"))
    t = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id long, name string, v double",
    )
    eng.submit_tx([Put("tgt", t)], tx_time="2024-01-01 00:00:01")
    return eng


def test_merge_update_delete_insert(spark, tmp_path):
    """All three WHEN clauses in one statement, first-match-wins:
    s.v < 0 deletes, other matches update, non-matches insert."""
    from core2_spark.engine import Put

    eng = _merge_engine(spark, tmp_path, "udi")
    s = spark.createDataFrame(
        [(2, "B", 99.0), (3, None, -1.0), (4, "d", 40.0)],
        "id long, name string, v double",
    )
    eng.submit_tx([Put("src", s)], tx_time="2024-01-01 00:00:02")
    eng.sql_dml(
        """
        MERGE INTO tgt USING src s ON tgt.id = s.id
        WHEN MATCHED AND s.v < 0 THEN DELETE
        WHEN MATCHED THEN UPDATE SET name = s.name, v = s.v + tgt.v
        WHEN NOT MATCHED THEN INSERT (id, name, v) VALUES (s.id, s.name, s.v)
        """,
        tx_time="2024-01-01 00:00:03",
    )
    got = sorted(
        tuple(r) for r in eng.db().sql("SELECT id, name, v FROM tgt").collect()
    )
    assert got == [(1, "a", 10.0), (2, "B", 119.0), (4, "d", 40.0)]
    # history: the pre-merge versions are still visible AS OF the put
    hist = eng.db().sql(
        "SELECT id, name FROM tgt FOR SYSTEM_TIME AS OF "
        "TIMESTAMP '2024-01-01 00:00:02' ORDER BY id"
    ).collect()
    assert [tuple(r) for r in hist] == [(1, "a"), (2, "b"), (3, "c")]


def test_merge_cardinality_violation(spark, tmp_path):
    eng = _merge_engine(spark, tmp_path, "card")
    with pytest.raises(ValueError, match="cardinality violation"):
        eng.sql_dml(
            "MERGE INTO tgt USING (SELECT 1 AS id UNION ALL SELECT 1 AS id) s "
            "ON tgt.id = s.id WHEN MATCHED THEN DELETE"
        )
    # the failed MERGE left no trace
    assert eng.db().sql("SELECT COUNT(*) c FROM tgt").collect()[0][0] == 3


def test_merge_conditional_insert_subquery_source(spark, tmp_path):
    eng = _merge_engine(spark, tmp_path, "cond")
    eng.sql_dml(
        "MERGE INTO tgt USING (SELECT 5 AS id, 'e' AS name, 50.0 AS v "
        "UNION ALL SELECT 6, 'f', -6.0) s ON tgt.id = s.id "
        "WHEN NOT MATCHED AND s.v > 0 THEN INSERT (id, name, v) "
        "VALUES (s.id, s.name, s.v)"
    )
    got = sorted(
        tuple(r) for r in eng.db().sql("SELECT id, v FROM tgt").collect()
    )
    assert got == [(1, 10.0), (2, 20.0), (3, 30.0), (5, 50.0)]


def test_merge_parse_errors(spark):
    from core2_spark.sql_dml import parse_dml

    with pytest.raises(ValueError, match="NOT MATCHED supports only INSERT"):
        parse_dml(
            "MERGE INTO t USING s x ON t.id = x.id "
            "WHEN NOT MATCHED THEN UPDATE SET a = 1"
        )
    with pytest.raises(ValueError, match="UPDATE or DELETE"):
        parse_dml(
            "MERGE INTO t USING s x ON t.id = x.id "
            "WHEN MATCHED THEN INSERT (a) VALUES (1)"
        )
    with pytest.raises(ValueError, match="count mismatch"):
        parse_dml(
            "MERGE INTO t USING s x ON t.id = x.id "
            "WHEN NOT MATCHED THEN INSERT (a, b) VALUES (1)"
        )
    # a backslash-escaped quote stays inside its literal: no split
    p = parse_dml("UPDATE t SET a = 'x\\', b = 1', c = 2 WHERE id = 1")
    assert p.detail["sets"] == [("a", "'x\\', b = 1'"), ("c", "2")]
    p = parse_dml(
        "MERGE INTO t USING s x ON t.id = x.id WHEN MATCHED AND x.v = "
        "'\\' WHEN MATCHED' THEN DELETE"
    )
    assert len(p.detail["clauses"]) == 1
    # a CASE..WHEN inside a SET expression must not split the clause
    p = parse_dml(
        "MERGE INTO t USING s x ON t.id = x.id WHEN MATCHED THEN UPDATE "
        "SET a = CASE WHEN x.v > 0 THEN 1 ELSE 0 END"
    )
    assert p.verb == "merge" and len(p.detail["clauses"]) == 1


def test_merge_insert_duplicate_source_ids_raise(spark, tmp_path):
    """Duplicate ids flowing to WHEN NOT MATCHED INSERT would freeze
    an arbitrary within-Put winner — refused like the matched-side
    cardinality rule.  r7 review finding #4."""
    eng = _merge_engine(spark, tmp_path, "insdup")
    with pytest.raises(ValueError, match="inserts id"):
        eng.sql_dml(
            "MERGE INTO tgt USING (SELECT 9 AS id, 'a' AS name "
            "UNION ALL SELECT 9, 'b') s ON tgt.id = s.id "
            "WHEN NOT MATCHED THEN INSERT (id, name) VALUES (s.id, s.name)"
        )
    assert eng.db().sql("SELECT COUNT(*) c FROM tgt").collect()[0][0] == 3


def test_merge_temp_views_are_scoped_and_dropped(spark, tmp_path):
    """MERGE's working views are uid-suffixed and dropped on exit so
    concurrent MERGEs in one SparkSession cannot clobber each other.
    r7 review finding #5."""
    eng = _merge_engine(spark, tmp_path, "views")
    eng.sql_dml(
        "MERGE INTO tgt USING (SELECT 7 AS id, 'g' AS name, 7.0 AS v) s "
        "ON tgt.id = s.id WHEN NOT MATCHED THEN INSERT (id, name, v) "
        "VALUES (s.id, s.name, s.v)"
    )
    leftovers = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("_merge_")
    ]
    assert leftovers == []


def test_update_for_portion_of_valid_time_synonym(eng):
    """XTDB v2 renamed the app-time axis VALID_TIME; both spellings
    drive the same portion-bounded update."""
    eng.sql_dml(
        "UPDATE accounts FOR PORTION OF VALID_TIME "
        "FROM '2024-06-01' TO '2024-07-01' "
        "SET balance = 0.0 WHERE id = 1"
    )
    db = eng.db()
    assert (1, "ada", 0.0) in rows(db.table("accounts", app_time="2024-06-15"))
    assert (1, "ada", 100.0) in rows(db.table("accounts", app_time="2024-08-01"))

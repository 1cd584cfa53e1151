"""Tests for the SQL:2011 temporal dialect pre-pass."""

from __future__ import annotations

from pyspark.sql import functions as F

from core2_spark import temporal as bt
from core2_spark.sql_dialect import rewrite_temporal_sql, sql_with_temporal
import pytest


def test_rewrite_string_forms():
    sql = "SELECT * FROM trades FOR SYSTEM_TIME AS OF TIMESTAMP '2024-02-15 00:00:00'"
    out = rewrite_temporal_sql(sql)
    assert "system_time_start <= TIMESTAMP '2024-02-15 00:00:00'" in out
    assert "AS trades" in out

    both = rewrite_temporal_sql(
        "SELECT * FROM t FOR SYSTEM_TIME AS OF TIMESTAMP '2024-01-01 00:00:00' "
        "FOR APPLICATION_TIME AS OF TIMESTAMP '2024-06-01 00:00:00'"
    )
    assert "system_time_start" in both and "app_time_start" in both

    ranged = rewrite_temporal_sql(
        "SELECT * FROM t FOR SYSTEM_TIME FROM TIMESTAMP '2024-01-01 00:00:00' "
        "TO TIMESTAMP '2024-02-01 00:00:00'"
    )
    assert "system_time_start < TIMESTAMP '2024-02-01 00:00:00'" in ranged
    assert "system_time_end > TIMESTAMP '2024-01-01 00:00:00'" in ranged

    all_time = rewrite_temporal_sql("SELECT * FROM t FOR SYSTEM_TIME ALL")
    assert all_time == "SELECT * FROM (SELECT * FROM t) AS t"

    untouched = "SELECT * FROM plain_table WHERE x = 1"
    assert rewrite_temporal_sql(untouched) == untouched


def test_rewriter_is_tokenizer_aware():
    """The failure shapes of the old regex pre-pass must not rewrite."""
    from core2_spark.sql_dialect import find_temporal_tables

    # FOR clause text inside a string literal: untouched
    s = "SELECT 'x FOR SYSTEM_TIME AS OF TIMESTAMP ''2024-01-01''' AS c FROM t"
    assert rewrite_temporal_sql(s) == s
    assert find_temporal_tables(s) == set()

    # a backslash-escaped quote (Spark's lexing) does not end the literal
    s = "SELECT 'x\\' FROM t FOR SYSTEM_TIME ALL --' AS c FROM u"
    assert rewrite_temporal_sql(s) == s
    assert find_temporal_tables(s) == set()

    # name NOT in table position: untouched
    s2 = "SELECT a FOR FROM t"  # nonsense, but 'a' isn't after FROM/JOIN
    assert rewrite_temporal_sql(s2) == s2

    # quoted identifier table names rewrite and keep their quoting
    q = rewrite_temporal_sql(
        'SELECT * FROM "my table" FOR SYSTEM_TIME ALL'
    )
    assert q == 'SELECT * FROM (SELECT * FROM "my table") AS "my table"'

    # keyword-like table name in table position still rewrites
    k = rewrite_temporal_sql("SELECT * FROM order FOR SYSTEM_TIME ALL")
    assert k == "SELECT * FROM (SELECT * FROM order) AS order"

    # subqueried FOR clause rewrites (scan sees inside parens)
    sub = rewrite_temporal_sql(
        "SELECT * FROM (SELECT id FROM t FOR SYSTEM_TIME ALL) s"
    )
    assert "(SELECT * FROM t) AS t" in sub

    # table_map redirects the subquery source but not the alias
    mapped = rewrite_temporal_sql(
        "SELECT * FROM t FOR SYSTEM_TIME ALL", {"t": "t__sys_history"}
    )
    assert mapped == "SELECT * FROM (SELECT * FROM t__sys_history) AS t"

    # BETWEEN form: end-inclusive on the start column
    btw = rewrite_temporal_sql(
        "SELECT * FROM t FOR SYSTEM_TIME BETWEEN TIMESTAMP '2024-01-01 00:00:00' "
        "AND TIMESTAMP '2024-02-01 00:00:00'"
    )
    assert "system_time_start <= TIMESTAMP '2024-02-01 00:00:00'" in btw
    assert "system_time_end > TIMESTAMP '2024-01-01 00:00:00'" in btw

    # bare literal without the TIMESTAMP marker
    bare = rewrite_temporal_sql(
        "SELECT * FROM t FOR SYSTEM_TIME AS OF '2024-01-01 00:00:00'"
    )
    assert "system_time_start <= TIMESTAMP '2024-01-01 00:00:00'" in bare

    # malformed clause fails loudly, not silently
    import pytest

    with pytest.raises(ValueError, match="temporal dialect"):
        rewrite_temporal_sql("SELECT * FROM t FOR SYSTEM_TIME AS OF banana")

    # alias keyword exclusion: JOIN after the clause is not an alias
    j = rewrite_temporal_sql(
        "SELECT * FROM a FOR SYSTEM_TIME ALL JOIN b ON a.id = b.id"
    )
    assert "(SELECT * FROM a) AS a JOIN b" in j

    # the XTDB spelling FOR ALL SYSTEM_TIME is equivalent to ... ALL
    x = rewrite_temporal_sql("SELECT * FROM t FOR ALL SYSTEM_TIME")
    assert x == "SELECT * FROM (SELECT * FROM t) AS t"
    assert find_temporal_tables("SELECT * FROM t FOR ALL SYSTEM_TIME") == {"t"}
    mixed = rewrite_temporal_sql(
        "SELECT * FROM t FOR ALL SYSTEM_TIME "
        "FOR APPLICATION_TIME AS OF TIMESTAMP '2024-06-01 00:00:00'"
    )
    assert "app_time_start <= TIMESTAMP '2024-06-01 00:00:00'" in mixed
    assert "system_time_start" not in mixed


def test_sql_with_temporal_end_to_end(spark):
    v1 = spark.createDataFrame(
        [(1, "old", 10.0), (2, "keep", 20.0)], "id long, tag string, px double"
    )
    v2 = spark.createDataFrame([(1, "new", 11.0)], "id long, tag string, px double")
    versions = bt.close_system_versions(
        bt.put(v1, "2024-01-01").unionByName(bt.put(v2, "2024-02-01")), "id"
    )

    jan = sql_with_temporal(
        spark,
        "SELECT id, tag FROM trades FOR SYSTEM_TIME AS OF TIMESTAMP '2024-01-15 00:00:00' "
        "ORDER BY id",
        version_views={"trades": versions},
    ).collect()
    assert [(r["id"], r["tag"]) for r in jan] == [(1, "old"), (2, "keep")]

    feb = sql_with_temporal(
        spark,
        "SELECT id, tag FROM trades FOR SYSTEM_TIME AS OF TIMESTAMP '2024-02-15 00:00:00' "
        "ORDER BY id",
        version_views={"trades": versions},
    ).collect()
    assert [(r["id"], r["tag"]) for r in feb] == [(1, "new"), (2, "keep")]

    # FOR ALL SYSTEM_TIME sees the full history
    hist = sql_with_temporal(
        spark,
        "SELECT COUNT(*) AS n FROM trades FOR SYSTEM_TIME ALL",
        version_views={"trades": versions},
    ).collect()[0]["n"]
    assert hist == 3

    # joins between a temporal reference and a plain table
    dim = spark.createDataFrame([(1, "alpha"), (2, "beta")], "id long, name string")
    dim.createOrReplaceTempView("dim")
    joined = sql_with_temporal(
        spark,
        "SELECT t.id, t.tag, d.name FROM trades FOR SYSTEM_TIME AS OF "
        "TIMESTAMP '2024-02-15 00:00:00' t JOIN dim d ON d.id = t.id ORDER BY t.id",
        version_views={"trades": versions},
    ).collect()
    assert [(r["id"], r["tag"], r["name"]) for r in joined] == [
        (1, "new", "alpha"),
        (2, "keep", "beta"),
    ]

def test_overlaps_rewrite():
    out = rewrite_temporal_sql(
        "SELECT * FROM t WHERE (a_start, a_end) OVERLAPS (b_start, b_end)"
    )
    assert "(a_start < b_end AND b_start < a_end)" in out
    # nested expressions as operands
    nested = rewrite_temporal_sql(
        "SELECT * FROM t WHERE (f(x, 1), y + INTERVAL 1 DAY) "
        "OVERLAPS (TIMESTAMP '2024-01-01 00:00:00', z)"
    )
    assert (
        "(f(x, 1) < z AND TIMESTAMP '2024-01-01 00:00:00' < y + INTERVAL 1 DAY)"
        in nested
    )
    # inside a string literal: untouched
    s = "SELECT '(a,b) OVERLAPS (c,d)' AS lit FROM t"
    assert rewrite_temporal_sql(s) == s
    # non-period parens (wrong arity): untouched
    s2 = "SELECT * FROM t WHERE (a) OVERLAPS (b)"
    assert rewrite_temporal_sql(s2) == s2


def test_overlaps_executes(spark):
    df = spark.createDataFrame(
        [(1, "2024-01-01", "2024-01-10", "2024-01-05", "2024-01-20"),
         (2, "2024-01-01", "2024-01-02", "2024-01-05", "2024-01-20")],
        "id int, s1 string, e1 string, s2 string, e2 string",
    ).selectExpr(
        "id",
        "CAST(s1 AS TIMESTAMP) s1", "CAST(e1 AS TIMESTAMP) e1",
        "CAST(s2 AS TIMESTAMP) s2", "CAST(e2 AS TIMESTAMP) e2",
    )
    df.createOrReplaceTempView("periods_t")
    rows = sql_with_temporal(
        spark,
        "SELECT id FROM periods_t WHERE (s1, e1) OVERLAPS (s2, e2)",
    ).collect()
    assert [r["id"] for r in rows] == [1]


def test_rename_bare_tables_shapes():
    from core2_spark.sql_dialect import rename_bare_tables

    m = {"trades": "trades__snap_x", "quotes": "quotes__snap_x"}
    # no alias: re-alias back so qualified refs keep resolving
    assert (
        rename_bare_tables("SELECT trades.px FROM trades", m)
        == "SELECT trades.px FROM trades__snap_x AS trades"
    )
    # existing alias: plain substitution
    assert (
        rename_bare_tables("SELECT t.px FROM trades t", m)
        == "SELECT t.px FROM trades__snap_x t"
    )
    # comma join inside the FROM list
    assert (
        rename_bare_tables("SELECT 1 FROM trades a, quotes b WHERE a.id=b.id", m)
        == "SELECT 1 FROM trades__snap_x a, quotes__snap_x b WHERE a.id=b.id"
    )
    # a SELECT-list column sharing a table's name is untouched
    assert (
        rename_bare_tables("SELECT x, trades FROM quotes", m)
        == "SELECT x, trades FROM quotes__snap_x AS quotes"
    )
    # JOIN position
    assert (
        rename_bare_tables("SELECT 1 FROM trades JOIN quotes ON 1=1", m)
        == "SELECT 1 FROM trades__snap_x AS trades JOIN quotes__snap_x AS quotes ON 1=1"
    )
    # CTE shadowing suppresses the rename
    sql = "WITH trades AS (SELECT 1 AS x) SELECT * FROM trades"
    assert rename_bare_tables(sql, m) == sql
    # subquery FROM lists rename independently
    assert (
        rename_bare_tables(
            "SELECT * FROM (SELECT id FROM trades) s WHERE id IN (SELECT id FROM quotes)",
            m,
        )
        == "SELECT * FROM (SELECT id FROM trades__snap_x AS trades) s "
        "WHERE id IN (SELECT id FROM quotes__snap_x AS quotes)"
    )
    # strings and quoted identifiers are never touched
    assert (
        rename_bare_tables("SELECT 'FROM trades' FROM quotes", m)
        == "SELECT 'FROM trades' FROM quotes__snap_x AS quotes"
    )


def test_snapshot_sql_views_are_scoped_per_call(spark, tmp_path):
    """Two snapshots at different bases in one session must not see
    each other's data through shared view names, and no temp views
    may leak after the call."""
    from core2_spark.engine import Engine, Put

    eng = Engine(spark, str(tmp_path / "scoped"))
    v1 = spark.createDataFrame([(1, 10.0)], "id long, px double")
    b1 = eng.submit_tx([Put("m", v1)], tx_time="2024-01-01")
    v2 = spark.createDataFrame([(1, 20.0)], "id long, px double")
    b2 = eng.submit_tx([Put("m", v2)], tx_time="2024-02-01")

    before = {v.name for v in spark.catalog.listTables()}
    df1 = eng.db(b1).sql("SELECT m.px FROM m")
    df2 = eng.db(b2).sql("SELECT px FROM m FOR SYSTEM_TIME AS OF TIMESTAMP '2024-02-15 00:00:00'")
    # both plans stay correct even though the second call re-registered
    assert [r["px"] for r in df1.collect()] == [10.0]
    assert [r["px"] for r in df2.collect()] == [20.0]
    after = {v.name for v in spark.catalog.listTables()}
    assert after == before, after - before


# -- EXISTS-over-OR distribution (round-5: closes the fuzzer's
# -- documented Catalyst decorrelation gap at the dialect layer) ------

def test_split_exists_disjunction_string_forms():
    from core2_spark.sql_dialect import split_exists_disjunctions

    sql = (
        "SELECT g FROM o WHERE EXISTS "
        "(SELECT 1 FROM l WHERE l.k = o.k AND l.q > 5 OR l.s = 3)"
    )
    out = split_exists_disjunctions(sql)
    assert out.count("EXISTS") == 2
    assert " OR EXISTS" in out
    assert "(l.k = o.k) AND (l.q > 5)" in out and "(l.s = 3)" in out

    neg = split_exists_disjunctions(
        "SELECT g FROM o WHERE NOT EXISTS "
        "(SELECT 1 FROM l WHERE l.k = o.k OR l.s = 3)"
    )
    assert neg.count("NOT EXISTS") == 2
    assert " AND NOT EXISTS" in neg

    # nested disjunction under a top-level AND: bounded DNF distributes
    # it, so `corr AND (p OR q)` becomes two conjunctive branches
    nested = split_exists_disjunctions(
        "SELECT g FROM o WHERE EXISTS "
        "(SELECT 1 FROM l WHERE l.k = o.k AND (l.q > 5 OR l.s = 3))"
    )
    assert nested.count("EXISTS") == 2
    assert "(l.k = o.k) AND (l.q > 5)" in nested
    assert "(l.k = o.k) AND (l.s = 3)" in nested

    # NOT over a disjunctive group: De Morgan pushes to the atoms —
    # a purely conjunctive predicate, left as ONE branch
    dem = split_exists_disjunctions(
        "SELECT g FROM o WHERE EXISTS "
        "(SELECT 1 FROM l WHERE NOT (l.q > 5 OR l.s = 3) AND l.k = o.k)"
    )
    assert dem.count("EXISTS") == 1

    # BETWEEN's AND is not a boolean AND; CASE internals stay atomic
    btw = (
        "SELECT g FROM o WHERE EXISTS (SELECT 1 FROM l WHERE "
        "l.q BETWEEN 1 AND 9 OR CASE WHEN l.s = 1 OR l.s = 2 "
        "THEN 1 ELSE 0 END = 1)"
    )
    btw_out = split_exists_disjunctions(btw)
    assert btw_out.count("EXISTS") == 2
    assert "(l.q BETWEEN 1 AND 9)" in btw_out
    assert "CASE WHEN l.s = 1 OR l.s = 2" in btw_out

    # trailing clauses after the predicate survive in every branch
    tail = split_exists_disjunctions(
        "SELECT g FROM o WHERE EXISTS "
        "(SELECT l.k FROM l WHERE l.q > 5 OR l.s = 3 GROUP BY l.k)"
    )
    assert tail.count("GROUP BY l.k") == 2

    # OR inside a string literal is not a split point
    lit = "SELECT g FROM o WHERE EXISTS (SELECT 1 FROM l WHERE l.name = 'a OR b')"
    assert split_exists_disjunctions(lit) == lit


def test_exists_disjunction_through_engine_sql_matches_duckdb(spark, tmp_path):
    """The round-4 fuzzer shape Catalyst rejects — correlation coupled
    into a disjunction — now executes through Snapshot.sql via the
    EXISTS-over-OR retry and matches DuckDB on the same data."""
    import duckdb

    from core2_spark.engine import Engine, Put
    from tests.parity import assert_frames_match

    eng = Engine(spark, str(tmp_path / "exists_dnf"))
    o = spark.createDataFrame(
        [(i, i % 5, float(i * 10), "O" if i % 2 else "F") for i in range(60)],
        "id long, custkey long, total double, status string",
    )
    l = spark.createDataFrame(
        [(i, i % 60, i % 7, float(i % 23)) for i in range(240)],
        "id long, orderkey long, suppkey long, qty double",
    )
    eng.submit_tx([Put("o", o), Put("l", l)])

    sql = (
        "SELECT status, COUNT(*) AS n FROM o "
        "WHERE EXISTS (SELECT 1 FROM l "
        "              WHERE l.orderkey = o.id AND l.qty > 20 OR l.suppkey = o.custkey) "
        "GROUP BY status"
    )
    spark_pdf = eng.db().sql(sql).toPandas()

    con = duckdb.connect()
    con.register("o", o.toPandas())
    con.register("l", l.toPandas())
    duck_pdf = con.execute(sql).df()
    con.close()
    assert_frames_match(spark_pdf, duck_pdf, "exists_disjunction_engine")

    # NOT EXISTS variant distributes into a conjunction of negations
    neg_sql = sql.replace("WHERE EXISTS", "WHERE NOT EXISTS")
    spark_neg = eng.db().sql(neg_sql).toPandas()
    con = duckdb.connect()
    con.register("o", o.toPandas())
    con.register("l", l.toPandas())
    duck_neg = con.execute(neg_sql).df()
    con.close()
    assert_frames_match(spark_neg, duck_neg, "not_exists_disjunction_engine")

    # nested disjunction under a top-level AND — `(corr OR p) AND q` —
    # the shape the round-4 fuzzer documented as still-throwing; the
    # bounded DNF pass now distributes it into decorrelatable branches
    nested_sql = (
        "SELECT status, COUNT(*) AS n FROM o "
        "WHERE EXISTS (SELECT 1 FROM l "
        "              WHERE (l.orderkey = o.id OR l.suppkey = o.custkey) "
        "                AND l.qty BETWEEN 5 AND 20) "
        "GROUP BY status"
    )
    spark_nested = eng.db().sql(nested_sql).toPandas()
    con = duckdb.connect()
    con.register("o", o.toPandas())
    con.register("l", l.toPandas())
    duck_nested = con.execute(nested_sql).df()
    con.close()
    assert_frames_match(spark_nested, duck_nested, "exists_nested_dnf_engine")


def test_pin_now_string_forms():
    from datetime import datetime

    from core2_spark.sql_dialect import pin_now

    at = datetime(2024, 3, 4, 5, 6, 7)
    out = pin_now("SELECT CURRENT_TIMESTAMP AS t, CURRENT_DATE AS d", at)
    assert "TIMESTAMP '2024-03-04 05:06:07.000000'" in out
    assert "DATE '2024-03-04'" in out
    # empty argument lists are consumed; NOW needs them (bare NOW is a
    # legal identifier)
    assert "TIMESTAMP '" in pin_now("SELECT NOW() AS t", at)
    assert pin_now("SELECT now FROM t", at) == "SELECT now FROM t"
    assert (
        pin_now("SELECT localtimestamp() AS t", at)
        == "SELECT TIMESTAMP '2024-03-04 05:06:07.000000' AS t"
    )
    # strings and comments untouched
    lit = "SELECT 'CURRENT_TIMESTAMP' AS s -- CURRENT_DATE"
    assert pin_now(lit, at) == lit


def test_snapshot_sql_now_is_basis_pinned(spark, tmp_path):
    """The same query at the same basis answers identically forever —
    CURRENT_TIMESTAMP is the basis clock, not the wall clock."""
    from core2_spark.engine import Engine, Put

    eng = Engine(spark, str(tmp_path / "pin_now"))
    rows = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id long, v double")
    eng.submit_tx([Put("t", rows)], tx_time="2024-01-01 00:00:05")
    snap = eng.db()
    r1 = snap.sql(
        "SELECT id, CURRENT_TIMESTAMP AS asof, CURRENT_DATE AS d FROM t"
    ).collect()
    r2 = snap.sql(
        "SELECT id, CURRENT_TIMESTAMP AS asof, CURRENT_DATE AS d FROM t"
    ).collect()
    assert r1 == r2
    assert all(str(r["asof"]).startswith("2024-01-01 00:00:05") for r in r1)
    # a later transaction advances the basis clock of NEW snapshots
    eng.submit_tx([Put("t", rows)], tx_time="2024-06-01 00:00:00")
    r3 = eng.db().sql("SELECT CURRENT_DATE AS d FROM t LIMIT 1").collect()
    assert str(r3[0]["d"]) == "2024-06-01"


@pytest.mark.slow
def test_bare_table_rename_case_insensitive_fuzz(spark, tmp_path):
    """Round 6 (ADVICE): identifier lookups in rename_bare_tables fold
    case.  Random case-manglings of table and mview references through
    Snapshot.sql must return exactly what the lowercase query returns."""
    import random

    from core2_spark.engine import Engine, Put

    eng = Engine(spark, str(tmp_path / "case_engine"))
    rows = spark.createDataFrame(
        [(i, f"g{i % 3}", float(i)) for i in range(12)],
        "id long, grp string, v double",
    )
    eng.submit_tx([Put("trades", rows)])
    eng.create_materialized_view(
        "rev", "trades", ["grp"], {"n": ("count", "*")}
    )
    rng = random.Random(606)

    def mangle(word: str) -> str:
        return "".join(
            c.upper() if rng.random() < 0.5 else c.lower() for c in word
        )

    base_queries = [
        "SELECT id, grp FROM {t} WHERE id < 6 ORDER BY id",
        "SELECT t.id, m.n FROM {t} t JOIN {m} m ON m.grp = t.grp "
        "WHERE t.id < 4 ORDER BY t.id",
        "SELECT grp, n FROM {m} ORDER BY grp",
    ]
    for trial in range(12):
        template = base_queries[trial % len(base_queries)]
        plain = template.format(t="trades", m="mview_rev")
        mangled = template.format(t=mangle("trades"), m=mangle("mview_rev"))
        want = [tuple(r) for r in eng.db().sql(plain).collect()]
        got = [tuple(r) for r in eng.db().sql(mangled).collect()]
        assert got == want, mangled


def test_with_recursive_shapes(spark):
    """Round 7: the WITH RECURSIVE frontend — UNION vs UNION ALL
    semantics, declared column lists, mixed plain+recursive CTEs,
    temporal clauses inside CTE bodies, and the rejection shapes
    (non-linear recursion, mixed combinators, no base term)."""
    import pytest

    from core2_spark.sql_dialect import sql_with_temporal

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (2, 5), (7, 8)], "parent long, child long"
    )
    edges.createOrReplaceTempView("e_rcte")

    # UNION ALL accumulates every derivation path
    got = sql_with_temporal(
        spark,
        """
        WITH RECURSIVE anc AS (
            SELECT parent AS a, child AS d FROM e_rcte
            UNION ALL
            SELECT x.a, e.child FROM anc x JOIN e_rcte e ON e.parent = x.d
        )
        SELECT a, d FROM anc ORDER BY a, d
        """,
    ).collect()
    assert [(r[0], r[1]) for r in got] == [
        (1, 2), (1, 3), (1, 4), (1, 5), (2, 3), (2, 4), (2, 5), (3, 4), (7, 8)
    ]

    # UNION (distinct) terminates on cyclic data; declared column list
    cyc = spark.createDataFrame([(1, 2), (2, 1)], "a long, b long")
    cyc.createOrReplaceTempView("cyc_rcte")
    got = sql_with_temporal(
        spark,
        """
        WITH RECURSIVE reach (src, dst) AS (
            SELECT a, b FROM cyc_rcte
            UNION
            SELECT r.src, c.b FROM reach r JOIN cyc_rcte c ON c.a = r.dst
        )
        SELECT src, dst FROM reach ORDER BY src, dst
        """,
    ).collect()
    assert [(r[0], r[1]) for r in got] == [(1, 1), (1, 2), (2, 1), (2, 2)]

    # plain CTE before AND after a recursive one; references chain
    got = sql_with_temporal(
        spark,
        """
        WITH RECURSIVE seed AS (
            SELECT parent FROM e_rcte WHERE parent = 1
        ),
        walk AS (
            SELECT parent AS node FROM seed
            UNION
            SELECT e.child FROM walk w JOIN e_rcte e ON e.parent = w.node
        ),
        top2 AS (SELECT node FROM walk ORDER BY node DESC LIMIT 2)
        SELECT node FROM top2 ORDER BY node
        """,
    ).collect()
    assert [r[0] for r in got] == [4, 5]

    # rejection shapes
    with pytest.raises(ValueError, match="non-linear"):
        sql_with_temporal(
            spark,
            """
            WITH RECURSIVE r AS (
                SELECT parent AS a, child AS b FROM e_rcte
                UNION ALL
                SELECT x.a, y.b FROM r x JOIN r y ON y.a = x.b
            )
            SELECT * FROM r
            """,
        )
    with pytest.raises(ValueError, match="base term"):
        sql_with_temporal(
            spark,
            """
            WITH RECURSIVE r AS (
                SELECT x.a, x.b FROM r x
                UNION ALL
                SELECT x.a, x.b FROM r x
            )
            SELECT * FROM r
            """,
        )
    with pytest.raises(ValueError, match="UNION"):
        sql_with_temporal(
            spark,
            """
            WITH RECURSIVE r AS (
                SELECT parent AS a FROM e_rcte
                UNION
                SELECT a + 1 FROM r WHERE a < 3
                UNION ALL
                SELECT a + 2 FROM r WHERE a < 3
            )
            SELECT * FROM r
            """,
        )
    # a string literal containing 'WITH RECURSIVE' is not a frontend hit
    got = sql_with_temporal(
        spark, "SELECT 'WITH RECURSIVE x AS y' AS s"
    ).collect()
    assert got[0][0] == "WITH RECURSIVE x AS y"


def test_with_recursive_temporal_inside_cte(spark, tmp_path):
    """A FOR SYSTEM_TIME clause inside a recursive CTE body resolves
    against the basis history — the temporal rewrite runs before the
    recursion compiles."""
    from core2_spark.engine import Engine, Put

    eng = Engine(spark, str(tmp_path / "rcte_t"))
    e1 = spark.createDataFrame([(1, 1, 2), (2, 2, 3)], "id long, p long, c long")
    eng.submit_tx([Put("ed", e1)], tx_time="2024-01-01 00:00:01")
    # later: reroute 2->9 (same id overwritten)
    e2 = spark.createDataFrame([(2, 2, 9)], "id long, p long, c long")
    eng.submit_tx([Put("ed", e2)], tx_time="2024-02-01 00:00:01")

    got = eng.db().sql(
        """
        WITH RECURSIVE w AS (
            SELECT p AS node, c AS nxt
            FROM ed FOR SYSTEM_TIME AS OF TIMESTAMP '2024-01-15 00:00:00'
            WHERE p = 1
            UNION
            SELECT x.nxt, e.c
            FROM w x JOIN ed FOR SYSTEM_TIME AS OF
                 TIMESTAMP '2024-01-15 00:00:00' e ON e.p = x.nxt
        )
        SELECT node, nxt FROM w ORDER BY node, nxt
        """
    ).collect()
    # at the pinned time the chain is 1->2->3 (not ->9)
    assert [(r[0], r[1]) for r in got] == [(1, 2), (2, 3)]


# ---------------------------------------------------------------- ASOF JOIN


def test_asof_join_rewrite_backward(spark):
    """ASOF JOIN compiles to union+window + equi-joins; no range join
    (BroadcastNestedLoop / CartesianProduct) may appear in the plan."""
    from core2_spark.sql_dialect import sql_with_temporal

    l = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 15, "c"), (3, 5, "d")],
        "k long, t long, lv string",
    )
    r = spark.createDataFrame(
        [(1, 8, 100.0), (1, 18, 200.0), (2, 15, 300.0), (9, 1, 0.0)],
        "k long, t long, rv double",
    )
    l.createOrReplaceTempView("_asof_tl")
    r.createOrReplaceTempView("_asof_tr")
    df = sql_with_temporal(
        spark,
        "SELECT l.k, l.t, l.lv, r.t AS rt, r.rv FROM _asof_tl l "
        "ASOF JOIN _asof_tr r ON l.k = r.k AND l.t >= r.t",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan and "Cartesian" not in plan
    got = sorted((r2[0], r2[1], r2[3], r2[4]) for r2 in df.collect())
    # k=1 t=10 -> r@8; k=1 t=20 -> r@18; k=2 t=15 -> r@15 (inclusive);
    # k=3 has no right rows -> dropped (inner)
    assert got == [(1, 10, 8, 100.0), (1, 20, 18, 200.0), (2, 15, 15, 300.0)]


def test_asof_left_join_forward(spark):
    from core2_spark.sql_dialect import sql_with_temporal

    l = spark.createDataFrame([(1, 10), (1, 99), (2, 5)], "k long, t long")
    r = spark.createDataFrame([(1, 12), (1, 30), (2, 5)], "k long, t long")
    l.createOrReplaceTempView("_asoff_l")
    r.createOrReplaceTempView("_asoff_r")
    got = sorted(
        (x[0], x[1], x[2])
        for x in sql_with_temporal(
            spark,
            "SELECT l.k, l.t, r.t AS rt FROM _asoff_l l "
            "ASOF LEFT JOIN _asoff_r r ON l.k = r.k AND l.t <= r.t",
        ).collect()
    )
    # earliest right at-or-after; t=99 has none -> NULL survives (left)
    assert got == [(1, 10, 12), (1, 99, None), (2, 5, 5)]


def test_asof_join_null_keys_and_ts(spark):
    """NULL keys and NULL timestamps never match (SQL comparison
    semantics, matching DuckDB's native ASOF JOIN)."""
    from core2_spark.sql_dialect import sql_with_temporal

    l = spark.createDataFrame(
        [(None, 10), (1, None), (1, 10)], "k long, t long"
    )
    r = spark.createDataFrame([(None, 5), (1, 5), (1, None)], "k long, t long")
    l.createOrReplaceTempView("_asofn_l")
    r.createOrReplaceTempView("_asofn_r")
    inner = sql_with_temporal(
        spark,
        "SELECT l.k, l.t, r.t AS rt FROM _asofn_l l "
        "ASOF JOIN _asofn_r r ON l.k = r.k AND l.t >= r.t",
    ).collect()
    assert [(x[0], x[1], x[2]) for x in inner] == [(1, 10, 5)]
    left = sql_with_temporal(
        spark,
        "SELECT l.k, l.t, r.t AS rt FROM _asofn_l l "
        "ASOF LEFT JOIN _asofn_r r ON l.k = r.k AND l.t >= r.t",
    ).collect()
    key = lambda t: tuple(-1 if v is None else v for v in t)  # noqa: E731
    assert sorted(((x[0], x[1], x[2]) for x in left), key=key) == sorted(
        [(None, 10, None), (1, None, None), (1, 10, 5)], key=key
    )


def test_asof_join_engine_sql(spark, tmp_path):
    """ASOF JOIN through Engine.sql: basis views + the dialect rewrite
    compose (the rewrite runs after bare-table renaming)."""
    from core2_spark.engine import Engine, Put

    eng = Engine(spark, str(tmp_path / "asof_e"))
    q = spark.createDataFrame(
        [(1, 1, 100, 9.0), (2, 1, 200, 8.0)], "id long, k long, t long, px double"
    )
    tr = spark.createDataFrame([(1, 1, 150)], "id long, k long, t long")
    eng.submit_tx([Put("quotes", q), Put("trades", tr)])
    got = (
        eng.db()
        .sql(
            "SELECT trades.k, trades.t, quotes.t AS qt, quotes.px "
            "FROM trades ASOF JOIN quotes "
            "ON trades.k = quotes.k AND trades.t >= quotes.t"
        )
        .collect()
    )
    assert [(r[0], r[1], r[2], r[3]) for r in got] == [(1, 150, 100, 9.0)]


def test_asof_join_errors(spark):
    import pytest as _pytest

    from core2_spark.sql_dialect import rewrite_asof_joins

    with _pytest.raises(ValueError, match="match condition"):
        rewrite_asof_joins("SELECT * FROM a ASOF JOIN b ON a.k = b.k")
    with _pytest.raises(ValueError, match="strict"):
        rewrite_asof_joins("SELECT * FROM a ASOF JOIN b ON a.t > b.t")
    with _pytest.raises(ValueError, match="found two"):
        rewrite_asof_joins(
            "SELECT * FROM a ASOF JOIN b ON a.t >= b.t AND a.u <= b.u"
        )
    with _pytest.raises(ValueError, match="plain table"):
        rewrite_asof_joins(
            "SELECT * FROM (SELECT 1 AS t) x ASOF JOIN b ON x.t >= b.t"
        )
    # no ASOF JOIN -> untouched text
    assert rewrite_asof_joins("SELECT asof FROM t") == "SELECT asof FROM t"


# ------------------------------------------------- round-7 review fixes


def test_fixpoint_converges_with_null_columns(spark):
    """Semi-naive dedup must be NULL-SAFE: with plain `=` a derived
    row holding a NULL key never matches its twin in the seen set and
    is re-derived forever (diverges to OOM).  r7 review finding #1."""
    import time

    from core2_spark.sql_dialect import sql_with_temporal

    t0 = time.time()
    rows = sql_with_temporal(
        spark,
        "WITH RECURSIVE rr (a, b) AS (SELECT 1, CAST(NULL AS BIGINT) "
        "UNION SELECT a, CAST(NULL AS BIGINT) FROM rr WHERE a = 1) "
        "SELECT * FROM rr",
    ).collect()
    assert [tuple(r) for r in rows] == [(1, None)]
    assert time.time() - t0 < 120


def test_asof_join_duplicate_right_raises(spark):
    """The right-side uniqueness precondition is ENFORCED, not just
    documented: duplicate (keys, ts) right rows would silently
    multiply output at the join-back.  r7 review finding #2."""
    import pytest as _pytest

    from core2_spark.sql_dialect import sql_with_temporal

    l = spark.createDataFrame([(1, 10)], "k long, t long")
    r = spark.createDataFrame(
        [(1, 5, 100.0), (1, 5, 200.0)], "k long, t long, rv double"
    )
    l.createOrReplaceTempView("_adup_l")
    r.createOrReplaceTempView("_adup_r")
    with _pytest.raises(Exception, match="duplicate \\(keys, ts\\)"):
        sql_with_temporal(
            spark,
            "SELECT l.k, r.rv FROM _adup_l l ASOF JOIN _adup_r r "
            "ON l.k = r.k AND l.t >= r.t",
        ).collect()


def test_plain_cte_under_recursive_head_mixes_combinators(spark):
    """A NON-recursive CTE under a WITH RECURSIVE head runs verbatim,
    so mixed UNION/UNION ALL (or EXCEPT) in it is legal; only bodies
    that actually iterate are restricted.  r7 review finding #6."""
    import pytest as _pytest

    from core2_spark.sql_dialect import sql_with_temporal

    got = sql_with_temporal(
        spark,
        "WITH RECURSIVE r AS (SELECT 1 AS a UNION ALL "
        "SELECT a + 1 FROM r WHERE a < 2), "
        "h AS (SELECT 1 AS x UNION SELECT 2 UNION ALL SELECT 2) "
        "SELECT (SELECT COUNT(*) FROM r) AS nr, COUNT(*) AS nh FROM h",
    ).collect()
    assert [tuple(r) for r in got] == [(2, 3)]
    # a RECURSIVE body with top-level EXCEPT is refused (UNION and
    # EXCEPT are equal-precedence; a UNION-wise split would mis-group)
    with _pytest.raises(ValueError, match="INTERSECT/EXCEPT"):
        sql_with_temporal(
            spark,
            "WITH RECURSIVE r AS (SELECT 1 AS a UNION ALL "
            "SELECT a + 1 FROM r WHERE a < 3 EXCEPT SELECT 2) "
            "SELECT * FROM r",
        )


def test_asof_join_inside_cte_body(spark):
    """The ASOF rewrite handles the join anywhere in the statement —
    here inside a WITH body whose result is aggregated downstream."""
    from core2_spark.sql_dialect import sql_with_temporal

    l = spark.createDataFrame([(1, 10), (1, 20)], "k long, t long")
    r = spark.createDataFrame(
        [(1, 8, 1.0), (1, 18, 2.0)], "k long, t long, rv double"
    )
    l.createOrReplaceTempView("_acte_l")
    r.createOrReplaceTempView("_acte_r")
    rows = sql_with_temporal(
        spark,
        """
        WITH j AS (
          SELECT l.k, l.t, r.rv FROM _acte_l l ASOF JOIN _acte_r r
            ON l.k = r.k AND l.t >= r.t
        )
        SELECT k, COUNT(*) AS n, SUM(rv) AS s FROM j GROUP BY k
        """,
    ).collect()
    assert [tuple(x) for x in rows] == [(1, 2, 3.0)]


def test_asof_join_tolerance_band(spark):
    """Tolerance band `l.ts - r.ts <= bound` (pandas-merge_asof
    semantics: out-of-band matches become no-match).  Checked against
    the library operator; works with numeric and INTERVAL bounds and
    both directions; reversed subtraction order is a loud error."""
    import pytest as _pytest

    from core2_spark.operators.asof_join import asof_join
    from core2_spark.sql_dialect import sql_with_temporal

    l = spark.createDataFrame([(1, 10), (1, 100)], "k long, t long")
    r = spark.createDataFrame(
        [(1, 8, 1.0), (1, 50, 2.0)], "k long, t long, rv double"
    )
    l.createOrReplaceTempView("_tolt_l")
    r.createOrReplaceTempView("_tolt_r")
    left = sql_with_temporal(
        spark,
        "SELECT l.t, r.rv FROM _tolt_l l ASOF LEFT JOIN _tolt_r r "
        "ON l.k = r.k AND l.t >= r.t AND l.t - r.t <= 5",
    ).collect()
    lib = asof_join(l, r, "t", ["k"], ["rv"], tolerance=5).collect()
    assert sorted((x[0], x[1]) for x in left) == sorted(
        (x.t, x.rv) for x in lib
    ) == [(10, 1.0), (100, None)]
    # inner drops the out-of-band row entirely
    inner = sql_with_temporal(
        spark,
        "SELECT l.t, r.rv FROM _tolt_l l ASOF JOIN _tolt_r r "
        "ON l.k = r.k AND l.t >= r.t AND l.t - r.t <= 5",
    ).collect()
    assert [(x[0], x[1]) for x in inner] == [(10, 1.0)]
    # forward direction subtracts the other way
    fwd = sql_with_temporal(
        spark,
        "SELECT l.t, r.rv FROM _tolt_l l ASOF LEFT JOIN _tolt_r r "
        "ON l.k = r.k AND l.t <= r.t AND r.t - l.t <= 60",
    ).collect()
    assert sorted((x[0], x[1]) for x in fwd) == [(10, 2.0), (100, None)]
    with _pytest.raises(ValueError, match="match order"):
        sql_with_temporal(
            spark,
            "SELECT l.t FROM _tolt_l l ASOF JOIN _tolt_r r "
            "ON l.k = r.k AND l.t >= r.t AND r.t - l.t <= 5",
        )


def test_valid_time_axis_synonym():
    """`FOR VALID_TIME ...` (the XTDB v2 spelling) rewrites exactly
    like `FOR APPLICATION_TIME ...`."""
    from core2_spark.sql_dialect import find_temporal_tables, rewrite_temporal_sql

    sql = "SELECT * FROM t FOR VALID_TIME AS OF TIMESTAMP '2024-01-02 00:00:00'"
    assert find_temporal_tables(sql) == {"t"}
    out = rewrite_temporal_sql(sql, {"t": "t_hist"})
    assert "app_time_start <= TIMESTAMP '2024-01-02 00:00:00'" in out
    assert "< app_time_end" in out

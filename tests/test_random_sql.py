"""Randomized differential SQL testing (SURVEY.md §5.3).

The reference ran SQLite's sqllogictest corpus against itself; the
modern equivalent here: hypothesis generates random queries in the
ANSI subset both engines parse identically, and the SAME SQL text runs
on Spark SQL (views over the fixtures) and DuckDB — results must
hash-match.  This catches semantic divergence (3VL, grouping, ordering,
type coercion) beyond the hand-written oracle pairs.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, seed, settings
from hypothesis import strategies as st

from core2_spark.catalog import register_views
from tests.conftest import SF_DIR
from tests.parity import assert_frames_match
from tests.smoke import SMOKE

# The full runs are the randomized tier (VERDICT r11 task 2):
# excluded from the default run to keep it short; run with -m slow /
# --runslow / SPARK_GRAFT_RUN_SLOW=1.  Each keeps a default-tier smoke
# sibling: the same strategies from one fixed seed, its first few
# examples (tests/smoke.py).


# Column pools per table: (name, kind) with kind in num/str/int
TABLES = {
    "orders": [
        ("o_orderkey", "int"),
        ("o_custkey", "int"),
        ("o_totalprice", "num"),
        ("o_orderstatus", "str"),
        ("o_orderpriority", "str"),
    ],
    "customer": [
        ("c_custkey", "int"),
        ("c_nationkey", "int"),
        ("c_acctbal", "num"),
        ("c_mktsegment", "str"),
    ],
    "lineitem": [
        ("l_orderkey", "int"),
        ("l_suppkey", "int"),
        ("l_quantity", "num"),
        ("l_returnflag", "str"),
        ("l_linestatus", "str"),
    ],
}

STR_CONSTS = {
    "o_orderstatus": ["'O'", "'F'", "'P'"],
    "o_orderpriority": ["'1-URGENT'", "'5-LOW'", "'3-MEDIUM'"],
    "c_mktsegment": ["'BUILDING'", "'AUTOMOBILE'", "'MACHINERY'"],
    "l_returnflag": ["'A'", "'N'", "'R'"],
    "l_linestatus": ["'O'", "'F'"],
}


@st.composite
def predicates(draw, table):
    cols = TABLES[table]
    clauses = []
    for _ in range(draw(st.integers(1, 3))):
        name, kind = draw(st.sampled_from(cols))
        if kind == "str":
            const = draw(st.sampled_from(STR_CONSTS[name]))
            op = draw(st.sampled_from(["=", "<>", "IN"]))
            if op == "IN":
                clauses.append(f"{name} IN ({const}, {draw(st.sampled_from(STR_CONSTS[name]))})")
            else:
                clauses.append(f"{name} {op} {const}")
        elif kind == "int":
            const = draw(st.integers(0, 2000))
            op = draw(st.sampled_from(["<", "<=", ">", ">=", "%"]))
            if op == "%":
                clauses.append(f"{name} % {draw(st.integers(2, 13))} = 0")
            else:
                clauses.append(f"{name} {op} {const}")
        else:
            lo = draw(st.integers(0, 4000)) * 100
            op = draw(st.sampled_from(["<", ">", "BETWEEN"]))
            if op == "BETWEEN":
                clauses.append(f"{name} BETWEEN {lo} AND {lo + 150000}")
            else:
                clauses.append(f"{name} {op} {lo}")
    joiner = draw(st.sampled_from([" AND ", " OR "]))
    return joiner.join(clauses)


JOINS = {
    ("orders", "customer"): "o_custkey = c_custkey",
    ("lineitem", "orders"): "l_orderkey = o_orderkey",
}


@st.composite
def random_query(draw):
    table = draw(st.sampled_from(sorted(TABLES)))
    cols = TABLES[table]
    pred = draw(predicates(table))
    group_col = draw(st.sampled_from([c for c, k in cols if k == "str"]))
    int_col = draw(st.sampled_from([c for c, k in cols if k == "int"]))
    num_col = draw(st.sampled_from([c for c, k in cols if k == "num"]))
    shape = draw(
        st.sampled_from(
            [
                "agg",
                "agg",
                "project",
                "having_limit",
                "join",
                "left_join",
                "union_all",
                "case_bucket",
                "distinct_count",
                "rollup",
                "window_count",
                "scalar_subquery",
            ]
        )
    )
    if shape == "rollup":
        # Found divergence: on EMPTY input, DuckDB emits ROLLUP's
        # grand-total row (SQL-standard: the () grouping set aggregates
        # the empty relation to one row) while Spark emits nothing.
        # HAVING n > 0 normalizes both engines to the non-empty rows;
        # group rows always have n >= 1 so nothing real is dropped.
        return f"""
        SELECT {group_col} AS g,
               CAST(GROUPING({group_col}) AS BIGINT) AS gid,
               COUNT(*) AS n,
               CAST(MAX({int_col}) AS BIGINT) AS mx
        FROM {table}
        WHERE {pred}
        GROUP BY ROLLUP ({group_col})
        HAVING COUNT(*) > 0
        """
    if shape == "window_count":
        return f"""
        SELECT {int_col} AS k,
               COUNT(*) OVER (PARTITION BY {group_col}) AS grp_n,
               CAST(MIN({int_col}) OVER (PARTITION BY {group_col}) AS BIGINT)
                   AS grp_min
        FROM {table}
        WHERE {pred}
        """
    if shape == "scalar_subquery":
        pred2 = draw(predicates(table))
        return f"""
        SELECT {group_col} AS g, COUNT(*) AS n
        FROM {table}
        WHERE {pred}
          AND {int_col} > (SELECT MIN({int_col}) FROM {table} WHERE {pred2})
        GROUP BY {group_col}
        """
    if shape == "agg":
        return f"""
        SELECT {group_col} AS g,
               COUNT(*) AS n,
               CAST(MIN({int_col}) AS BIGINT) AS mn,
               CAST(MAX({int_col}) AS BIGINT) AS mx,
               ROUND(MIN({num_col}), 4) AS mnum
        FROM {table}
        WHERE {pred}
        GROUP BY {group_col}
        """
    if shape == "having_limit":
        n_min = draw(st.integers(1, 400))
        return f"""
        SELECT {group_col} AS g, COUNT(*) AS n
        FROM {table}
        WHERE {pred}
        GROUP BY {group_col}
        HAVING COUNT(*) >= {n_min}
        ORDER BY n DESC, g
        LIMIT 3
        """
    if shape == "join":
        (lt, rt) = draw(st.sampled_from(sorted(JOINS)))
        cond = JOINS[(lt, rt)]
        lpred = draw(predicates(lt))
        r_str = draw(st.sampled_from([c for c, k in TABLES[rt] if k == "str"]))
        return f"""
        SELECT {r_str} AS g, COUNT(*) AS n
        FROM {lt} JOIN {rt} ON {cond}
        WHERE {lpred}
        GROUP BY {r_str}
        """
    if shape == "left_join":
        (rt, lt) = draw(st.sampled_from(sorted(JOINS)))
        cond = JOINS[(rt, lt)]
        lpred = draw(predicates(lt))
        l_str = draw(st.sampled_from([c for c, k in TABLES[lt] if k == "str"]))
        r_key = TABLES[rt][0][0]
        return f"""
        SELECT {l_str} AS g,
               COUNT({r_key}) AS n_matched,
               COUNT(*) AS n
        FROM {lt} LEFT JOIN {rt} ON {cond}
        WHERE {lpred}
        GROUP BY {l_str}
        """
    if shape == "union_all":
        pred2 = draw(predicates(table))
        return f"""
        SELECT g, COUNT(*) AS n FROM (
            SELECT {group_col} AS g FROM {table} WHERE {pred}
            UNION ALL
            SELECT {group_col} AS g FROM {table} WHERE {pred2}
        ) u
        GROUP BY g
        """
    if shape == "case_bucket":
        mod = draw(st.integers(2, 5))
        return f"""
        SELECT CASE WHEN {int_col} % {mod} = 0 THEN 'zero'
                    WHEN {int_col} % {mod} = 1 THEN 'one'
                    ELSE 'rest' END AS g,
               COUNT(*) AS n,
               ROUND(MAX({num_col}), 4) AS mx
        FROM {table}
        WHERE {pred}
        GROUP BY 1
        """
    if shape == "distinct_count":
        return f"""
        SELECT {group_col} AS g,
               CAST(COUNT(DISTINCT {int_col}) AS BIGINT) AS ndv
        FROM {table}
        WHERE {pred}
        GROUP BY {group_col}
        """
    return f"""
    SELECT {int_col} AS k, {group_col} AS g, ROUND({num_col}, 4) AS v
    FROM {table}
    WHERE {pred}
    """


@pytest.mark.slow
@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(sql=random_query())
def test_same_sql_same_answer(spark, duck, sql):
    register_views(spark, SF_DIR, ("orders", "customer", "lineitem"))
    spark_pdf = spark.sql(sql).toPandas()
    duck_pdf = duck.execute(sql).df()
    assert_frames_match(spark_pdf, duck_pdf, sql.strip().splitlines()[0])


@st.composite
def random_query_round4(draw):
    """Round-4 grammar extensions (the fuzzer already caught a real
    engine divergence — empty-input ROLLUP — so widen the surface):
    correlated subqueries (EXISTS / NOT EXISTS / correlated scalar
    aggregates), explicit window frames (ROWS/RANGE), and set
    operations over GROUP BY results."""
    shape = draw(
        st.sampled_from(
            [
                "exists",
                "not_exists",
                "correlated_scalar",
                "rows_frame",
                "range_frame",
                "setop_groupby",
            ]
        )
    )
    # Found limitation (this fuzzer, round 4): Spark cannot decorrelate
    # an EXISTS whose correlation couples into a DISJUNCTION —
    # `corr AND p1 OR p2` parses as `(corr AND p1) OR p2` and Catalyst
    # throws during optimization (DuckDB executes it).  The generator
    # intends a conjunctive correlation, so the drawn predicate is
    # parenthesized; the engine-capability gap is documented here.
    if shape in ("exists", "not_exists"):
        word = "EXISTS" if shape == "exists" else "NOT EXISTS"
        opred = draw(predicates("orders"))
        lpred = draw(predicates("lineitem"))
        return f"""
        SELECT o_orderstatus AS g, COUNT(*) AS n
        FROM orders o
        WHERE ({opred.replace('o_', 'o.o_')})
          AND {word} (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND ({lpred.replace('l_', 'l.l_')}))
        GROUP BY o_orderstatus
        """
    if shape == "correlated_scalar":
        lpred = draw(predicates("lineitem"))
        k = draw(st.integers(1, 5))
        return f"""
        SELECT o_orderpriority AS g, COUNT(*) AS n
        FROM orders o
        WHERE (SELECT COUNT(*) FROM lineitem l
               WHERE l.l_orderkey = o.o_orderkey
                 AND ({lpred.replace('l_', 'l.l_')})) >= {k}
        GROUP BY o_orderpriority
        """
    if shape == "rows_frame":
        opred = draw(predicates("orders"))
        n_prec = draw(st.integers(1, 4))
        # exact integer cents so the frame SUM is engine-stable
        return f"""
        SELECT o_orderkey AS k,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                   OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey
                         ROWS BETWEEN {n_prec} PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS run_cents,
               COUNT(*) OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 FOLLOWING) AS n_seen
        FROM orders
        WHERE {opred}
        """
    if shape == "range_frame":
        opred = draw(predicates("orders"))
        return f"""
        SELECT o_orderkey AS k,
               CAST(MAX(o_custkey) OVER (PARTITION BY o_orderstatus
                    ORDER BY o_orderkey
                    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS mx_cust,
               CAST(MIN(o_custkey) OVER (PARTITION BY o_orderstatus
                    ORDER BY o_orderkey
                    RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                    AS BIGINT) AS mn_cust_ahead
        FROM orders
        WHERE {opred}
        """
    # setop_groupby
    table = draw(st.sampled_from(sorted(TABLES)))
    cols = TABLES[table]
    group_col = draw(st.sampled_from([c for c, k in cols if k == "str"]))
    p1 = draw(predicates(table))
    p2 = draw(predicates(table))
    op = draw(st.sampled_from(["INTERSECT", "EXCEPT", "UNION"]))
    return f"""
    SELECT g, n FROM (
        (SELECT {group_col} AS g, COUNT(*) AS n FROM {table}
         WHERE {p1} GROUP BY {group_col})
        {op}
        (SELECT {group_col} AS g, COUNT(*) AS n FROM {table}
         WHERE {p2} GROUP BY {group_col})
    ) s
    """


@pytest.mark.slow
@settings(
    max_examples=50,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(sql=random_query_round4())
def test_same_sql_same_answer_round4_shapes(spark, duck, sql):
    register_views(spark, SF_DIR, ("orders", "customer", "lineitem"))
    spark_pdf = spark.sql(sql).toPandas()
    duck_pdf = duck.execute(sql).df()
    assert_frames_match(spark_pdf, duck_pdf, sql.strip().splitlines()[0])


@st.composite
def random_exists_disjunction(draw):
    """Round-5: the shape Catalyst rejects raw (correlation coupled
    into a disjunction — the round-4 documented gap).  The engine path
    closes it by distributing EXISTS over the top-level OR
    (sql_dialect.split_exists_disjunctions), so the fuzzer now drops
    the conjunctive-only restriction for that path: random disjunctive
    predicates through the split must match DuckDB running the
    ORIGINAL un-split SQL."""
    word = draw(st.sampled_from(["EXISTS", "NOT EXISTS"]))
    opred = draw(predicates("orders"))
    lp1 = draw(predicates("lineitem"))
    lp2 = draw(predicates("lineitem"))
    l1, l2 = lp1.replace("l_", "l.l_"), lp2.replace("l_", "l.l_")
    inner = draw(
        st.sampled_from(
            [
                # flat: corr AND p1 OR p2 (top-level OR split)
                f"l.l_orderkey = o.o_orderkey AND ({l1}) OR ({l2})",
                # nested: (corr OR p1) AND p2 (bounded DNF, round-5)
                f"(l.l_orderkey = o.o_orderkey OR ({l1})) AND ({l2})",
                # nested negation: corr AND NOT (p1 OR p2) then OR —
                # De Morgan inside DNF
                f"l.l_orderkey = o.o_orderkey AND NOT (({l1}) OR ({l2})) "
                f"OR ({l2})",
            ]
        )
    )
    return f"""
    SELECT o_orderstatus AS g, COUNT(*) AS n
    FROM orders o
    WHERE ({opred.replace('o_', 'o.o_')})
      AND {word} (SELECT 1 FROM lineitem l WHERE {inner})
    GROUP BY o_orderstatus
    """


@pytest.mark.slow
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(sql=random_exists_disjunction())
def test_exists_disjunction_split_matches_duckdb(spark, duck, sql):
    from core2_spark.sql_dialect import split_exists_disjunctions

    register_views(spark, SF_DIR, ("orders", "lineitem"))
    split = split_exists_disjunctions(sql)
    assert split != sql  # the shape always has a top-level OR
    spark_pdf = spark.sql(split).toPandas()
    duck_pdf = duck.execute(sql).df()
    assert_frames_match(spark_pdf, duck_pdf, "exists_disjunction_split")


@st.composite
def random_lateral_query(draw):
    """Round-5 family: LATERAL correlated derived tables — the SQL
    shape Spark 4 and DuckDB both execute natively (the reference's
    `:apply` operator written the modern way).  Random inner aggregate
    and random predicates on both sides; SUM rides DECIMAL(38,6) so
    both engines sum exactly.

    Found divergence (first draw of this family): on an EMPTY
    correlated group, `FROM o, LATERAL (SELECT MAX(..) ...)` keeps the
    outer row with a NULL aggregate in Spark (the SQL-standard
    one-row-per-scalar-aggregate semantics, as in Postgres) but emits
    NOTHING in DuckDB.  `HAVING COUNT(*) > 0` makes the empty group
    produce zero inner rows, which both engines then drop identically
    — the same normalization trick the rollup family uses."""
    agg = draw(
        st.sampled_from(
            [
                "COUNT(*)",
                "MAX(l_extendedprice)",
                "MIN(l_quantity)",
                "ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) "
                "AS DOUBLE), 4)",
            ]
        )
    )
    opred = draw(predicates("orders")).replace("o_", "o.o_")
    lpred = draw(predicates("lineitem"))
    return f"""
    SELECT o.o_orderkey AS k, o.o_orderstatus AS st, l.m AS m
    FROM orders o,
    LATERAL (SELECT {agg} AS m FROM lineitem
             WHERE l_orderkey = o.o_orderkey AND ({lpred})
             HAVING COUNT(*) > 0) l
    WHERE ({opred}) AND o.o_orderkey % 7 = 0
    """


@pytest.mark.slow
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(sql=random_lateral_query())
def test_same_sql_same_answer_lateral(spark, duck, sql):
    register_views(spark, SF_DIR, ("orders", "lineitem"))
    spark_pdf = spark.sql(sql).toPandas()
    duck_pdf = duck.execute(sql).df()
    assert_frames_match(spark_pdf, duck_pdf, "lateral_family")


@st.composite
def random_bag_setop_query(draw):
    """Round-5 family: bag-semantics set operations (README.adoc:13 —
    core2's relations are bags).  Two random selections over one table
    combined with INTERSECT/EXCEPT in both ALL (bag) and DISTINCT
    (set) forms, aggregated per group for a stable compare."""
    table = draw(st.sampled_from(sorted(TABLES)))
    group_col = draw(
        st.sampled_from([c for c, k in TABLES[table] if k == "str"])
    )
    p1 = draw(predicates(table))
    p2 = draw(predicates(table))
    op = draw(
        st.sampled_from(
            ["INTERSECT ALL", "EXCEPT ALL", "INTERSECT", "EXCEPT", "UNION"]
        )
    )
    return f"""
    SELECT g, COUNT(*) AS n FROM (
        SELECT {group_col} AS g FROM {table} WHERE {p1}
        {op}
        SELECT {group_col} AS g FROM {table} WHERE {p2}
    ) u GROUP BY g
    """


@pytest.mark.slow
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(sql=random_bag_setop_query())
def test_same_sql_same_answer_bag_setops(spark, duck, sql):
    register_views(spark, SF_DIR, ("orders", "customer", "lineitem"))
    spark_pdf = spark.sql(sql).toPandas()
    duck_pdf = duck.execute(sql).df()
    assert_frames_match(spark_pdf, duck_pdf, "bag_setop_family")


@seed(1)
@SMOKE
@given(sql=random_query())
def test_same_sql_same_answer_smoke(spark, duck, sql):
    test_same_sql_same_answer.hypothesis.inner_test(spark, duck, sql)


@seed(1)
@SMOKE
@given(sql=random_query_round4())
def test_same_sql_same_answer_round4_shapes_smoke(spark, duck, sql):
    test_same_sql_same_answer_round4_shapes.hypothesis.inner_test(spark, duck, sql)


@seed(1)
@SMOKE
@given(sql=random_exists_disjunction())
def test_exists_disjunction_split_matches_duckdb_smoke(spark, duck, sql):
    test_exists_disjunction_split_matches_duckdb.hypothesis.inner_test(
        spark, duck, sql
    )


@seed(1)
@SMOKE
@given(sql=random_lateral_query())
def test_same_sql_same_answer_lateral_smoke(spark, duck, sql):
    test_same_sql_same_answer_lateral.hypothesis.inner_test(spark, duck, sql)


@seed(1)
@SMOKE
@given(sql=random_bag_setop_query())
def test_same_sql_same_answer_bag_setops_smoke(spark, duck, sql):
    test_same_sql_same_answer_bag_setops.hypothesis.inner_test(spark, duck, sql)

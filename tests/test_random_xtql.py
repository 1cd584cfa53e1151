"""Randomized differential testing for the XTQL pipeline frontend
(SURVEY.md §5.3 discipline, applied to the round-8 surface): hypothesis
draws a random pipeline AND the mirrored DuckDB SQL from one spec, runs
both, and the results must hash-match — the same independence the SQL
dialect gets from sharing query text is impossible here (two syntaxes),
so the generator builds both sides from a single structured draw.

Covers: from-binds with pushed equality, where predicates (str =/<>/in,
int </>/mod, num ranges), computed with-columns (arithmetic, if,
upper/length), aggregate (count/max/min per group), the
exists/not-exists sub-pipeline forms against correlated SQL, and (r9)
all three unify styles — shared-variable natural join, with-rebinding
equality unification, left-join optional unification — against the
mirrored SQL join.
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, given, seed, settings
from hypothesis import strategies as st

from core2_spark.catalog import load_table
from core2_spark.xtql import xtql_with_resolver
from tests.conftest import SF_DIR, table_path
from tests.parity import assert_frames_match
from tests.smoke import SMOKE

# The full runs are the randomized tier (VERDICT r11 task 2):
# excluded from the default run to keep it short; run with -m slow /
# --runslow / SPARK_GRAFT_RUN_SLOW=1.  Each keeps a default-tier smoke
# sibling: the same strategies from one fixed seed, its first few
# examples (tests/smoke.py).


TABLES = {
    "orders": {
        "int": ["o_orderkey", "o_custkey"],
        "num": ["o_totalprice"],
        "str": ["o_orderstatus", "o_orderpriority"],
    },
    "customer": {
        "int": ["c_custkey", "c_nationkey"],
        "num": ["c_acctbal"],
        "str": ["c_mktsegment"],
    },
    "lineitem": {
        "int": ["l_orderkey", "l_suppkey"],
        "num": ["l_quantity"],
        "str": ["l_returnflag", "l_linestatus"],
    },
}

STR_CONSTS = {
    "o_orderstatus": ["O", "F", "P"],
    "o_orderpriority": ["1-URGENT", "5-LOW", "3-MEDIUM"],
    "c_mktsegment": ["BUILDING", "AUTOMOBILE", "MACHINERY"],
    "l_returnflag": ["A", "N", "R"],
    "l_linestatus": ["O", "F"],
}


def _sq(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


@st.composite
def predicate(draw, table, kinds=("str", "int", "num")):
    """One predicate as (xtql_expr, sql_text)."""
    kind = draw(st.sampled_from(list(kinds)))
    col = draw(st.sampled_from(TABLES[table][kind]))
    if kind == "str":
        c1 = draw(st.sampled_from(STR_CONSTS[col]))
        form = draw(st.sampled_from(["=", "<>", "in"]))
        if form == "in":
            c2 = draw(st.sampled_from(STR_CONSTS[col]))
            return (
                ["in", col, ["lit", c1], ["lit", c2]],
                f"{col} IN ({_sq(c1)}, {_sq(c2)})",
            )
        return ([form, col, ["lit", c1]], f"{col} {form} {_sq(c1)}")
    if kind == "int":
        form = draw(st.sampled_from(["<", ">=", "mod"]))
        if form == "mod":
            m = draw(st.integers(2, 13))
            return (["=", ["%", col, m], 0], f"{col} % {m} = 0")
        v = draw(st.integers(0, 2000))
        return ([form, col, v], f"{col} {form} {v}")
    v = float(draw(st.integers(0, 4000)) * 100)
    form = draw(st.sampled_from(["<", ">"]))
    return ([form, col, v], f"{col} {form} {v}")


@st.composite
def pipeline_and_sql(draw):
    table = draw(st.sampled_from(sorted(TABLES)))
    cols = TABLES[table]
    n_preds = draw(st.integers(1, 2))
    preds = [draw(predicate(table)) for _ in range(n_preds)]
    where_x = [p[0] for p in preds]
    where_sql = " AND ".join(p[1] for p in preds)
    int_col = draw(st.sampled_from(cols["int"]))
    str_col = draw(st.sampled_from(cols["str"]))
    shape = draw(
        st.sampled_from(["project", "agg", "exists", "not-exists", "unify"])
    )

    if shape == "unify":
        # all three unification styles against ONE mirrored SQL join:
        # shared-variable natural join, with-rebinding (equality
        # unification over a cross product Catalyst folds back into a
        # join condition), and optional left-join unification.  Key
        # columns stay out of the predicates (the shared style renames
        # them to the logic variable).
        o_pred = draw(predicate("orders", kinds=("str", "num")))
        c_pred = draw(predicate("customer", kinds=("str", "num")))
        style = draw(st.sampled_from(["shared", "rebind", "leftjoin"]))
        o_bind_cust = [
            "o_orderkey", {"o_custkey": "cust"}, "o_orderstatus",
            "o_totalprice", "o_orderpriority",
        ]
        c_bind_cust = [
            {"c_custkey": "cust"}, "c_nationkey", "c_acctbal",
            "c_mktsegment",
        ]
        if style == "leftjoin":
            pipeline = [
                {"unify": [
                    {"from": "orders", "bind": o_bind_cust},
                    {"where": [o_pred[0]]},
                    {"left-join": [
                        {"from": "customer", "bind": c_bind_cust},
                        {"where": [c_pred[0]]},
                    ]},
                ]},
                {"aggregate": {
                    "n": ["count"],
                    "matched": ["count", "c_nationkey"],
                }, "group": ["o_orderstatus"]},
            ]
            sql = f"""
            SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(COUNT(c_nationkey) AS BIGINT) AS matched
            FROM orders LEFT JOIN
                 (SELECT * FROM customer WHERE {c_pred[1]}) c
              ON c.c_custkey = orders.o_custkey
            WHERE {o_pred[1]}
            GROUP BY o_orderstatus
            """
            return pipeline, sql
        if style == "shared":
            clauses = [
                {"from": "orders", "bind": o_bind_cust},
                {"from": "customer", "bind": c_bind_cust},
                {"where": [o_pred[0], c_pred[0]]},
            ]
        else:  # rebind: own-name binds, then `with` unifies the keys
            clauses = [
                {"from": "orders",
                 "bind": ["o_orderkey", "o_custkey", "o_orderstatus",
                          "o_totalprice", "o_orderpriority"]},
                {"from": "customer",
                 "bind": ["c_custkey", "c_nationkey", "c_acctbal",
                          "c_mktsegment"]},
                {"with": {"c_custkey": "o_custkey"}},
                {"where": [o_pred[0], c_pred[0]]},
            ]
        pipeline = [
            {"unify": clauses},
            {"aggregate": {
                "n": ["count"], "mx": ["max", "o_orderkey"],
            }, "group": ["c_mktsegment"]},
        ]
        sql = f"""
        SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(MAX(o_orderkey) AS BIGINT) AS mx
        FROM orders JOIN customer ON c_custkey = o_custkey
        WHERE {o_pred[1]} AND {c_pred[1]}
        GROUP BY c_mktsegment
        """
        return pipeline, sql

    if shape == "project":
        # computed columns through the scalar stdlib
        pipeline = [
            {"from": table, "bind": [int_col, str_col]},
            {"where": where_x},
            {"with": {
                "k2": ["+", ["%", int_col, 1000], 1],
                "s_up": ["upper", str_col],
                "s_len": ["cast", ["length", str_col], "int"],
                "flag": ["if", [">", int_col, 500],
                         ["lit", "hi"], ["lit", "lo"]],
            }},
            {"return": [int_col, "k2", "s_up", "s_len", "flag"]},
        ]
        sql = f"""
        SELECT {int_col}, {int_col} % 1000 + 1 AS k2,
               UPPER({str_col}) AS s_up,
               CAST(LENGTH({str_col}) AS INT) AS s_len,
               CASE WHEN {int_col} > 500 THEN 'hi' ELSE 'lo' END AS flag
        FROM {table} WHERE {where_sql}
        """
        return pipeline, sql

    if shape == "agg":
        pipeline = [
            {"from": table, "bind": [int_col, str_col]},
            {"where": where_x},
            {"aggregate": {
                "n": ["count"],
                "mx": ["max", int_col],
                "mn": ["min", int_col],
            }, "group": [str_col]},
        ]
        sql = f"""
        SELECT {str_col}, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(MAX({int_col}) AS BIGINT) AS mx,
               CAST(MIN({int_col}) AS BIGINT) AS mn
        FROM {table} WHERE {where_sql} GROUP BY {str_col}
        """
        return pipeline, sql

    # exists / not-exists: correlate orders against customer
    keep = "exists" if shape == "exists" else "not-exists"
    sub_pred = draw(predicate("customer"))
    pipeline = [
        {"from": "orders", "bind": ["o_orderkey", "o_custkey"]},
        {"where": where_x if table == "orders" else []},
        {"where": [[keep,
                    [{"from": "customer",
                      "bind": ["c_custkey", "c_nationkey", "c_acctbal",
                               "c_mktsegment"]},
                     {"where": [sub_pred[0]]}],
                    [["o_custkey", "c_custkey"]]]]},
        {"return": ["o_orderkey", "o_custkey"]},
    ]
    neg = "" if keep == "exists" else "NOT "
    outer = f"WHERE {where_sql}" if table == "orders" else ""
    conj = "AND" if outer else "WHERE"
    sql = f"""
    SELECT o_orderkey, o_custkey FROM orders o {outer}
    {conj} {neg}EXISTS (SELECT 1 FROM customer c
                        WHERE c.c_custkey = o.o_custkey AND {sub_pred[1]})
    """
    return pipeline, sql


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in sorted(TABLES):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{table_path(SF_DIR, t)}')"
        )
    return con


@pytest.mark.slow
@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(case=pipeline_and_sql())
def test_random_xtql_vs_duckdb(spark, duck, case):
    pipeline, sql = case
    resolver = lambda t: load_table(spark, SF_DIR, t)  # noqa: E731
    spark_pdf = xtql_with_resolver(resolver, pipeline).toPandas()
    duck_pdf = duck.execute(sql).df()
    assert_frames_match(spark_pdf, duck_pdf, "random_xtql")


@seed(1)
@SMOKE
@given(case=pipeline_and_sql())
def test_random_xtql_vs_duckdb_smoke(spark, duck, case):
    test_random_xtql_vs_duckdb.hypothesis.inner_test(spark, duck, case)

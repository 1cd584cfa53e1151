"""Randomized differential for the SQL:2011 temporal dialect: random
FOR-clause combinations run through the rewriter + Spark must match a
DuckDB query whose visibility predicate is expanded BY THE TEST
(an independent second implementation of the clause semantics)."""

from __future__ import annotations

import random

import duckdb
import pytest

from core2_spark import temporal as bt
from core2_spark.sql_dialect import sql_with_temporal

# The full runs are the randomized tier (VERDICT r11 task 2): excluded
# from the default run to keep it short; run with -m slow / --runslow /
# SPARK_GRAFT_RUN_SLOW=1.  Each keeps a default-tier smoke sibling: the
# same seed, its first few trials.
N_TRIALS = 25
N_SMOKE = 3


GRID = [f"2024-0{m}-01 00:00:00" for m in range(1, 8)]


@pytest.fixture(scope="module")
def versions(spark, tmp_path_factory):
    """Deterministic 3-system-version bitemporal table, also written to
    parquet for DuckDB."""
    rows = []
    for vid in range(1, 21):
        rows.append((vid, "v1"))
    v1 = spark.createDataFrame(rows, "id long, tag string")
    v2 = v1.selectExpr("id", "'v2' AS tag").filter("id % 2 = 0")
    v3 = v1.selectExpr("id", "'v3' AS tag").filter("id % 3 = 0")
    vers = bt.close_system_versions(
        bt.put(v1, GRID[0], app_start=GRID[0])
        .unionByName(bt.put(v2, GRID[2], app_start=GRID[1], app_end=GRID[5]))
        .unionByName(bt.put(v3, GRID[4], app_start=GRID[3])),
        "id",
    )
    path = str(tmp_path_factory.mktemp("rndtemp") / "hist.parquet")
    vers.write.mode("overwrite").parquet(path)
    return vers, path


def _axis_pred(axis_cols, form, ts):
    s, e = axis_cols
    if form == "all":
        return None
    if form == "asof":
        return f"{s} <= TIMESTAMP '{ts[0]}' AND TIMESTAMP '{ts[0]}' < {e}"
    if form == "fromto":  # half-open overlap
        return f"{s} < TIMESTAMP '{ts[1]}' AND {e} > TIMESTAMP '{ts[0]}'"
    # between: end-inclusive
    return f"{s} <= TIMESTAMP '{ts[1]}' AND {e} > TIMESTAMP '{ts[0]}'"


def _clause_sql(axis, form, ts):
    if form == "all":
        return f"FOR {axis} ALL"
    if form == "asof":
        return f"FOR {axis} AS OF TIMESTAMP '{ts[0]}'"
    if form == "fromto":
        return f"FOR {axis} FROM TIMESTAMP '{ts[0]}' TO TIMESTAMP '{ts[1]}'"
    return f"FOR {axis} BETWEEN TIMESTAMP '{ts[0]}' AND TIMESTAMP '{ts[1]}'"


def _clauses_match_duckdb(spark, versions, trials: int):
    vers_df, path = versions
    duck = duckdb.connect()
    duck.execute(
        f"CREATE VIEW hist AS SELECT * FROM read_parquet('{path}/*.parquet')"
    )
    rng = random.Random(42)
    axes = {
        "SYSTEM_TIME": (bt.SYS_START, bt.SYS_END),
        "APPLICATION_TIME": (bt.APP_START, bt.APP_END),
    }
    forms = ["all", "asof", "fromto", "between"]
    for trial in range(trials):
        clauses, preds = [], []
        for axis, cols in axes.items():
            if rng.random() < 0.3:
                continue  # axis unfiltered
            form = rng.choice(forms)
            lo, hi = sorted(rng.sample(GRID, 2))
            clauses.append(_clause_sql(axis, form, (lo, hi)))
            p = _axis_pred(cols, form, (lo, hi))
            if p:
                preds.append(p)
        if not clauses:
            continue
        spark_rows = sorted(
            (r["id"], r["tag"])
            for r in sql_with_temporal(
                spark,
                f"SELECT id, tag FROM hist {' '.join(clauses)}",
                version_views={"hist": vers_df},
            ).collect()
        )
        where = " AND ".join(preds) if preds else "TRUE"
        duck_rows = sorted(
            (int(a), b)
            for a, b in duck.execute(
                f"SELECT id, tag FROM hist WHERE {where}"
            ).fetchall()
        )
        assert spark_rows == duck_rows, (
            f"trial {trial}: {' '.join(clauses)} → "
            f"{len(spark_rows)} vs {len(duck_rows)} rows"
        )


@pytest.mark.slow
def test_random_temporal_clauses_match_duckdb(spark, versions):
    _clauses_match_duckdb(spark, versions, N_TRIALS)


def test_random_temporal_clauses_smoke(spark, versions):
    _clauses_match_duckdb(spark, versions, N_SMOKE)


def _two_refs_one_query(spark, versions, trials: int):
    """Two independently-clamped references to the SAME history in one
    query (self-join with different FOR clauses) — exercises the
    rewriter's per-reference matching and alias handling, checked
    against hand-expanded DuckDB predicates."""
    import random as _random

    vers_df, path = versions
    duck = duckdb.connect()
    duck.execute(
        f"CREATE VIEW hist AS SELECT * FROM read_parquet('{path}/*.parquet')"
    )
    rng = _random.Random(1234)
    axes = {
        "SYSTEM_TIME": (bt.SYS_START, bt.SYS_END),
        "APPLICATION_TIME": (bt.APP_START, bt.APP_END),
    }
    forms = ["all", "asof", "fromto", "between"]

    def draw_side():
        axis = rng.choice(sorted(axes))
        form = rng.choice(forms)
        lo, hi = sorted(rng.sample(GRID, 2))
        clause = _clause_sql(axis, form, (lo, hi))
        pred = _axis_pred(axes[axis], form, (lo, hi))
        return clause, (pred or "1=1")

    for trial in range(trials):
        c1, p1 = draw_side()
        c2, p2 = draw_side()
        spark_sql = (
            f"SELECT a.id AS id, a.tag AS a_tag, b.tag AS b_tag "
            f"FROM hist {c1} AS a JOIN hist {c2} AS b ON a.id = b.id"
        )
        duck_sql = (
            f"SELECT a.id AS id, a.tag AS a_tag, b.tag AS b_tag "
            f"FROM (SELECT * FROM hist WHERE {p1}) a "
            f"JOIN (SELECT * FROM hist WHERE {p2}) b ON a.id = b.id"
        )
        got = sorted(
            (r["id"], r["a_tag"], r["b_tag"])
            for r in sql_with_temporal(
                spark, spark_sql, version_views={"hist": vers_df}
            ).collect()
        )
        want = sorted(tuple(r) for r in duck.execute(duck_sql).fetchall())
        assert got == want, f"trial {trial}: {spark_sql}"


@pytest.mark.slow
def test_random_temporal_two_refs_one_query(spark, versions):
    _two_refs_one_query(spark, versions, N_TRIALS)


def test_random_temporal_two_refs_smoke(spark, versions):
    _two_refs_one_query(spark, versions, N_SMOKE)

"""Randomized differential testing of the ASOF JOIN dialect against
DuckDB's NATIVE ASOF JOIN (an independent implementation, not a
rewrite of ours): hypothesis generates random left/right relations —
duplicate keys, NULL keys, NULL timestamps, empty sides, ties at equal
ts — plus a random direction (>=/<=) and join kind (inner/left); the
same SQL text runs through sql_with_temporal and DuckDB and must
hash-match."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, seed, settings
from hypothesis import strategies as st

from tests.parity import assert_frames_match
from tests.smoke import SMOKE

# The full runs are the randomized tier (VERDICT r11 task 2):
# excluded from the default run to keep it short; run with -m slow /
# --runslow / SPARK_GRAFT_RUN_SLOW=1.  Each keeps a default-tier smoke
# sibling: the same strategies from one fixed seed, its first few
# examples (tests/smoke.py).


# NULL keys stay in the domain (both engines agree: never match).
# NULL timestamps are EXCLUDED: DuckDB's sort-based ASOF matches a
# NULL ts to a NULL ts (an implementation artifact of NULLS-LAST
# ordering), while this dialect follows SQL comparison semantics (a
# NULL ts matches nothing) — dedicated tests in test_sql_dialect.py
# pin our behavior for that case.
keys = st.one_of(st.none(), st.integers(min_value=0, max_value=3))
tss = st.integers(min_value=0, max_value=20)

left_rows = st.lists(st.tuples(keys, tss), min_size=0, max_size=12)
right_rows = st.lists(st.tuples(keys, tss), min_size=0, max_size=12)


ASOF_CASES = dict(
    lrows=left_rows,
    rrows=right_rows,
    op=st.sampled_from([">=", "<="]),
    left_kind=st.booleans(),
)


@pytest.mark.slow
@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(**ASOF_CASES)
def test_asof_dialect_matches_duckdb_native(spark, lrows, rrows, op, left_kind):
    from core2_spark.sql_dialect import sql_with_temporal

    # right side must be unique per (k, t): the dialect enforces this
    # loudly, and DuckDB's pick among duplicates is arbitrary — dedup
    # the generated rows so both engines have a deterministic answer
    seen = set()
    rr = []
    for k, t in rrows:
        if (k, t) not in seen:
            seen.add((k, t))
            rr.append((k, t, float((0 if k is None else k) * 100 + (t or 0))))
    lr = [(i, k, t) for i, (k, t) in enumerate(lrows)]

    lpdf = pd.DataFrame(lr, columns=["lid", "k", "t"]).astype(
        {"lid": "Int64", "k": "Int64", "t": "Int64"}
    )
    rpdf = pd.DataFrame(rr, columns=["k", "t", "rv"]).astype(
        {"k": "Int64", "t": "Int64", "rv": "float64"}
    )

    spark.createDataFrame(lr, "lid long, k long, t long").createOrReplaceTempView(
        "_ra_l"
    )
    spark.createDataFrame(rr, "k long, t long, rv double").createOrReplaceTempView(
        "_ra_r"
    )

    jkind = "ASOF LEFT JOIN" if left_kind else "ASOF JOIN"
    sql = (
        f"SELECT l.lid, l.k, l.t, r.t AS rt, r.rv "
        f"FROM _ra_l l {jkind} _ra_r r ON l.k = r.k AND l.t {op} r.t"
    )
    got = sql_with_temporal(spark, sql).toPandas()

    con = duckdb.connect()
    con.register("_ra_l", lpdf)
    con.register("_ra_r", rpdf)
    want = con.execute(sql).df()
    con.close()
    assert_frames_match(got, want, f"asof {op} left={left_kind}")


@seed(1)
@SMOKE
@given(**ASOF_CASES)
def test_asof_dialect_matches_duckdb_native_smoke(
    spark, lrows, rrows, op, left_kind
):
    test_asof_dialect_matches_duckdb_native.hypothesis.inner_test(
        spark, lrows, rrows, op, left_kind
    )

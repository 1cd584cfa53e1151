"""Randomized differential testing of the sequence-pattern operators
(operators/sequences.py): hypothesis draws random stage chains /
horizons / run thresholds, the operator compiles them to DataFrame
algebra, and an independently-generated DuckDB SQL chain computes the
same answer — results must match exactly.  This tests OUR operator
composition (not just engine SQL agreement): a bug in the stage-join
chain, the horizon bound, or the islands arithmetic diverges from the
SQL mirror.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, seed, settings
from hypothesis import strategies as st

from core2_spark.catalog import load_tables
from core2_spark.operators.sequences import consecutive_runs, funnel
from core2_spark.queries.util import sql_quote
from tests.conftest import SF_DIR
from tests.parity import assert_frames_match
from tests.smoke import SMOKE

import pytest

# The full runs are the randomized tier (VERDICT r11 task 2):
# excluded from the default run to keep it short; run with -m slow /
# --runslow / SPARK_GRAFT_RUN_SLOW=1.  Each keeps a default-tier smoke
# sibling: the same strategies from one fixed seed, its first few
# examples (tests/smoke.py).


EVENT_TYPES = ("signup", "view", "click", "purchase", "error")


def _funnel_sql(stages: list[str], days: int) -> str:
    ctes, prev = [], None
    for k, stage in enumerate(stages):
        if k == 0:
            ctes.append(
                f"s0 AS (SELECT user_id, MIN(ts) AS m0 FROM events "
                f"WHERE event_type={sql_quote(stage)} GROUP BY 1)"
            )
        else:
            ctes.append(
                f"s{k} AS (SELECT e.user_id, MIN(e.ts) AS m{k} "
                f"FROM events e JOIN s{k - 1} p ON e.user_id=p.user_id "
                f"AND e.ts > p.m{k - 1} "
                f"AND e.ts <= p.m{k - 1} + INTERVAL {days} DAY "
                f"WHERE e.event_type={sql_quote(stage)} GROUP BY 1)"
            )
        prev = k
    selects = [
        f"SELECT {k + 1} AS stage_idx, {sql_quote(stage)} AS stage, "
        f"CAST(COUNT(*) AS BIGINT) AS n_users FROM s{k}"
        for k, stage in enumerate(stages)
    ]
    assert prev == len(stages) - 1
    return (
        "WITH " + ", ".join(ctes) + " "
        + " UNION ALL ".join(selects)
        + " ORDER BY stage_idx"
    )


def _runs_sql(etype: str, min_run: int) -> str:
    return f"""
    WITH seq AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ), cls AS (
      SELECT user_id, rn,
             rn - ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY rn) AS grp
      FROM seq WHERE event_type = {sql_quote(etype)}
    ), runs AS (
      SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS run_len
      FROM cls GROUP BY user_id, grp
    )
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_bursts,
           MAX(run_len) AS max_run
    FROM runs WHERE run_len >= {min_run}
    GROUP BY user_id
    ORDER BY n_bursts DESC, max_run DESC, user_id
    """


FUNNEL_CASES = dict(
    stages=st.lists(
        st.sampled_from(EVENT_TYPES), min_size=2, max_size=4, unique=True
    ),
    days=st.integers(min_value=1, max_value=4),
)


RUNS_CASES = dict(
    etype=st.sampled_from(EVENT_TYPES),
    min_run=st.integers(min_value=2, max_value=4),
)


@pytest.mark.slow
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(**FUNNEL_CASES)
def test_random_funnel_matches_duckdb(spark, duck, stages, days):
    ev = load_tables(spark, SF_DIR, ("events",))["events"]
    got = funnel(ev, stages, horizon=f"INTERVAL {days} DAYS").toPandas()
    want = duck.execute(_funnel_sql(stages, days)).df()
    assert_frames_match(got, want, f"funnel{stages}@{days}d")


@pytest.mark.slow
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(**RUNS_CASES)
def test_random_runs_match_duckdb(spark, duck, etype, min_run):
    ev = load_tables(spark, SF_DIR, ("events",))["events"]
    got = consecutive_runs(ev, etype, min_run=min_run).toPandas()
    want = duck.execute(_runs_sql(etype, min_run)).df()
    assert_frames_match(got, want, f"runs:{etype}>={min_run}")


@seed(1)
@SMOKE
@given(**FUNNEL_CASES)
def test_random_funnel_matches_duckdb_smoke(spark, duck, stages, days):
    test_random_funnel_matches_duckdb.hypothesis.inner_test(
        spark, duck, stages, days
    )


@seed(1)
@SMOKE
@given(**RUNS_CASES)
def test_random_runs_match_duckdb_smoke(spark, duck, etype, min_run):
    test_random_runs_match_duckdb.hypothesis.inner_test(
        spark, duck, etype, min_run
    )

"""Randomized differential testing of the analytics operators
(operators/bm25.py, cusum.py, linkage.py): hypothesis draws random
parameters, the operator compiles them to DataFrame algebra, and the
operator's own generated DuckDB mirror computes the same answer —
results must match exactly.  This tests OUR operator composition (not
just engine SQL agreement): a wrong association in a BM25 score
factor, a decimal-precision overflow in the CUSUM prefix sums, or a
blocking conjunct Catalyst fails to extract diverges from the mirror.
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, given, seed, settings
from hypothesis import strategies as st

from core2_spark.catalog import load_tables
from core2_spark.operators.bm25 import bm25_oracle_sql, bm25_topk
from core2_spark.operators.cusum import cusum_alarms, cusum_oracle_sql
from core2_spark.operators.linkage import (
    blocked_fuzzy_oracle_sql,
    blocked_fuzzy_pairs,
)
from pyspark.sql import functions as F
from tests.conftest import SF_DIR
from tests.parity import assert_frames_match
from tests.smoke import SMOKE

# The full runs are the randomized tier (VERDICT r11 task 2):
# excluded from the default run to keep it short; run with -m slow /
# --runslow / SPARK_GRAFT_RUN_SLOW=1.  Each keeps a default-tier smoke
# sibling: the same strategies from one fixed seed, its first few
# examples (tests/smoke.py).


# Mix of common corpus vocabulary, a stopword-ish very-high-df term,
# and one term that appears in no document (df=0 edge: it must simply
# not contribute, not crash or skew idf).
VOCAB = ("spark", "merge", "window", "batch", "join", "scan", "hash",
         "table", "a", "zzz_absent")

EVENT_TYPES = ("signup", "view", "click", "purchase", "error")


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in ("documents", "events", "customer"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


BM25_CASES = dict(
    terms=st.sets(st.sampled_from(VOCAB), min_size=1, max_size=4),
    k1=st.sampled_from((0.8, 1.2, 2.0)),
    b=st.sampled_from((0.0, 0.25, 0.5, 0.75, 1.0)),
    topk=st.sampled_from((5, 20)),
)


CUSUM_CASES = dict(
    etype=st.sampled_from(EVENT_TYPES),
    k=st.sampled_from((0.0, 2.5, 5.0, 10.0)),
    h=st.sampled_from((10.0, 50.0, 100.0)),
)


MULTITOUCH_CASES = dict(
    touch_events=st.sets(
        st.sampled_from(EVENT_TYPES), min_size=1, max_size=3
    ),
    purchase_event=st.sampled_from(EVENT_TYPES),
    lookback_days=st.sampled_from((0, 1, 3, 7)),
)


LINKAGE_CASES = dict(
    prefix_len=st.sampled_from((12, 14, 16)),
    max_dist=st.sampled_from((1, 2, 3)),
    use_nation_block=st.booleans(),
)


RETENTION_CASES = dict(
    cohort_event=st.sampled_from(EVENT_TYPES),
    activity_event=st.sampled_from(EVENT_TYPES),
    threshold=st.sampled_from((0.0, 100.0, 250.0)),
    horizon=st.sampled_from((0, 3, 10)),
)


ROLLING_CASES = dict(window=st.sampled_from((1, 3, 14, 45)))


@pytest.mark.slow
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(**BM25_CASES)
def test_bm25_random_differential(spark, duck, terms, k1, b, topk):
    terms = tuple(sorted(terms))
    docs = load_tables(spark, SF_DIR, ("documents",))["documents"]
    spdf = bm25_topk(docs, terms, k1=k1, b=b, topk=topk).toPandas()
    dpdf = duck.execute(
        bm25_oracle_sql(terms, k1=k1, b=b, topk=topk)
    ).df()
    assert_frames_match(spdf, dpdf, f"bm25{terms}k1={k1},b={b},topk={topk}")


@pytest.mark.slow
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(**CUSUM_CASES)
def test_cusum_random_differential(spark, duck, etype, k, h):
    ev = load_tables(spark, SF_DIR, ("events",))["events"]
    spdf = cusum_alarms(
        ev.filter(F.col("event_type") == etype),
        series_col="user_id",
        order_col="ts",
        id_col="event_id",
        value_col="value",
        k=k,
        h=h,
    ).toPandas()
    dpdf = duck.execute(
        cusum_oracle_sql(filter_sql=f"event_type = '{etype}'", k=k, h=h)
    ).df()
    assert_frames_match(spdf, dpdf, f"cusum({etype},k={k},h={h})")


@pytest.mark.slow
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(**MULTITOUCH_CASES)
def test_multitouch_random_differential(
    spark, duck, touch_events, purchase_event, lookback_days
):
    """The prefix-sum multi-touch attribution (probe rows + running
    sums) vs the oracle's NAIVE join form — independent shapes must
    agree on every credit, including lookback=0 (same-instant only)
    and purchase_event ∈ touch_events (an event crediting itself)."""
    from core2_spark.queries.analytics_q import (
        linear_multitouch,
        multitouch_oracle_sql,
    )

    touch_events = tuple(sorted(touch_events))
    ev = load_tables(spark, SF_DIR, ("events",))["events"]
    spdf = linear_multitouch(
        ev,
        touch_events=touch_events,
        purchase_event=purchase_event,
        lookback_days=lookback_days,
    ).toPandas()
    dpdf = duck.execute(
        multitouch_oracle_sql(
            touch_events=touch_events,
            purchase_event=purchase_event,
            lookback_days=lookback_days,
        )
    ).df()
    assert_frames_match(
        spdf,
        dpdf,
        f"multitouch({touch_events},{purchase_event},L={lookback_days})",
    )


@pytest.mark.slow
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(**LINKAGE_CASES)
def test_fuzzy_linkage_random_differential(
    spark, duck, prefix_len, max_dist, use_nation_block
):
    blocks = ("c_nationkey",) if use_nation_block else ()
    cust = load_tables(spark, SF_DIR, ("customer",))["customer"]
    spdf = blocked_fuzzy_pairs(
        cust,
        key_col="c_custkey",
        name_col="c_name",
        block_cols=blocks,
        prefix_len=prefix_len,
        max_dist=max_dist,
    ).toPandas()
    dpdf = duck.execute(
        blocked_fuzzy_oracle_sql(
            table="customer",
            key_col="c_custkey",
            name_col="c_name",
            block_cols=blocks,
            prefix_len=prefix_len,
            max_dist=max_dist,
        )
    ).df()
    assert_frames_match(
        spdf, dpdf, f"fuzzy(prefix={prefix_len},dist={max_dist},block={blocks})"
    )


@pytest.mark.slow
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(**RETENTION_CASES)
def test_retention_random_differential(
    spark, duck, cohort_event, activity_event, threshold, horizon
):
    from core2_spark.queries.analytics_q import (
        retention_cohorts,
        retention_oracle_sql,
    )

    ev = load_tables(spark, SF_DIR, ("events",))["events"]
    spdf = retention_cohorts(
        ev,
        cohort_event=cohort_event,
        cohort_min_value=threshold,
        activity_event=activity_event,
        horizon_days=horizon,
    ).toPandas()
    dpdf = duck.execute(
        retention_oracle_sql(
            cohort_event=cohort_event,
            cohort_min_value=threshold,
            activity_event=activity_event,
            horizon_days=horizon,
        )
    ).df()
    assert_frames_match(
        spdf, dpdf,
        f"retention({cohort_event}>{threshold} -> {activity_event}, h={horizon})",
    )


@pytest.mark.slow
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(**ROLLING_CASES)
def test_rolling_actives_random_differential(spark, duck, window):
    from core2_spark.queries.analytics_q import (
        rolling_actives,
        rolling_actives_oracle_sql,
    )

    ev = load_tables(spark, SF_DIR, ("events",))["events"]
    spdf = rolling_actives(ev, window_days=window).toPandas()
    dpdf = duck.execute(rolling_actives_oracle_sql(window_days=window)).df()
    assert_frames_match(spdf, dpdf, f"rolling(window={window})")


@seed(1)
@SMOKE
@given(**BM25_CASES)
def test_bm25_random_differential_smoke(spark, duck, terms, k1, b, topk):
    test_bm25_random_differential.hypothesis.inner_test(
        spark, duck, terms, k1, b, topk
    )


@seed(1)
@SMOKE
@given(**CUSUM_CASES)
def test_cusum_random_differential_smoke(spark, duck, etype, k, h):
    test_cusum_random_differential.hypothesis.inner_test(
        spark, duck, etype, k, h
    )


@seed(1)
@SMOKE
@given(**MULTITOUCH_CASES)
def test_multitouch_random_differential_smoke(
    spark, duck, touch_events, purchase_event, lookback_days
):
    test_multitouch_random_differential.hypothesis.inner_test(
        spark, duck, touch_events, purchase_event, lookback_days
    )


@seed(1)
@SMOKE
@given(**LINKAGE_CASES)
def test_fuzzy_linkage_random_differential_smoke(
    spark, duck, prefix_len, max_dist, use_nation_block
):
    test_fuzzy_linkage_random_differential.hypothesis.inner_test(
        spark, duck, prefix_len, max_dist, use_nation_block
    )


@seed(1)
@SMOKE
@given(**RETENTION_CASES)
def test_retention_random_differential_smoke(
    spark, duck, cohort_event, activity_event, threshold, horizon
):
    test_retention_random_differential.hypothesis.inner_test(
        spark, duck, cohort_event, activity_event, threshold, horizon
    )


@seed(1)
@SMOKE
@given(**ROLLING_CASES)
def test_rolling_actives_random_differential_smoke(spark, duck, window):
    test_rolling_actives_random_differential.hypothesis.inner_test(
        spark, duck, window
    )

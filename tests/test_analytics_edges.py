"""Constructed-data edge cases for the analytics operators: the random
differentials (test_random_analytics.py) vary PARAMETERS over the
fixture corpus; these vary the DATA — empty relations, constant
series, single-row users — where off-by-one window math, var=0
divisions, or empty-aggregate seeds would crash or diverge.  Each case
still runs the full Spark-vs-DuckDB differential: the constructed
pandas frame is registered as the `events` view on the DuckDB side.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from pyspark.sql import functions as F

from core2_spark.operators.cusum import cusum_alarms, cusum_oracle_sql
from core2_spark.plans import plan_text
from core2_spark.queries.analytics_q import (
    retention_cohorts,
    retention_oracle_sql,
    rolling_actives,
    rolling_actives_oracle_sql,
)
from core2_spark.queries.registry import all_queries
from tests.conftest import SF_DIR
from tests.parity import assert_frames_match

SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


def _events(spark, rows):
    pyrows = [
        (e, ts.to_pydatetime() if isinstance(ts, pd.Timestamp) else ts, u, t, v)
        for e, ts, u, t, v in rows
    ]
    return spark.createDataFrame(pyrows, SCHEMA)


def _pdf(rows):
    return pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
    ).astype({"ts": "datetime64[us]"})


def _duck(rows):
    con = duckdb.connect()
    con.register("events", _pdf(rows))
    return con


TS = pd.Timestamp("2024-01-01 12:00:00")


def _compare_all(spark, rows):
    """Run the three data-shape-sensitive pipelines on constructed
    rows, each against its DuckDB mirror."""
    ev = _events(spark, rows)
    con = _duck(rows)
    cases = [
        (
            cusum_alarms(
                ev.filter(F.col("event_type") == "click"),
                series_col="user_id",
                order_col="ts",
                id_col="event_id",
                value_col="value",
                k=5.0,
                h=50.0,
            ),
            cusum_oracle_sql(k=5.0, h=50.0),
            "cusum",
        ),
        (
            retention_cohorts(ev, cohort_min_value=0.0, horizon_days=3),
            retention_oracle_sql(cohort_min_value=0.0, horizon_days=3),
            "retention",
        ),
        (
            rolling_actives(ev, window_days=7),
            rolling_actives_oracle_sql(window_days=7),
            "rolling",
        ),
    ]
    for df, sql, name in cases:
        assert_frames_match(df.toPandas(), con.execute(sql).df(), name)
    con.close()


@pytest.mark.slow
def test_empty_events(spark):
    _compare_all(spark, [])


@pytest.mark.slow
def test_constant_series_no_alarms_no_nan(spark):
    """A constant series has var=0 (z-score path must exclude, not
    NaN) and every CUSUM increment is −k ≤ 0, so S stays 0: zero
    alarms, bit-identically on both engines."""
    rows = [
        (i, TS + pd.Timedelta(minutes=i), 1, "click", 42.42) for i in range(20)
    ]
    _compare_all(spark, rows)
    ev = _events(spark, rows)
    alarms = cusum_alarms(
        ev,
        series_col="user_id",
        order_col="ts",
        id_col="event_id",
        value_col="value",
        k=5.0,
        h=0.0,  # even at alarm level 0, constant series never alarms
    )
    assert alarms.count() == 0


@pytest.mark.slow
def test_single_event_per_user(spark):
    """One event per user: CUSUM C₁ = −n·k < 0 → no alarm; retention
    collapses to offset 0 with rate 1.0; rolling window counts the
    user on all 7 end days clipped to the data's last day."""
    rows = [
        (1, TS, 1, "click", 10.0),
        (2, TS, 2, "purchase", 10.0),
    ]
    _compare_all(spark, rows)


@pytest.mark.slow
def test_same_instant_ties_are_deterministic(spark):
    """Multiple clicks at the SAME timestamp for one user: the CUSUM
    window order falls back to event_id, so both engines must walk
    the ties identically."""
    rows = [(i, TS, 1, "click", float(100 + 50 * i)) for i in range(8)]
    _compare_all(spark, rows)


def test_spiky_series_alarms_match(spark):
    """A flat series with a late spike run: alarms fire exactly where
    both engines' exact-decimal prefix sums cross n·h."""
    rows = [
        (i, TS + pd.Timedelta(minutes=i), 1, "click", 10.0) for i in range(30)
    ] + [
        (100 + j, TS + pd.Timedelta(minutes=100 + j), 1, "click", 400.0)
        for j in range(6)
    ]
    ev = _events(spark, rows)
    con = _duck(rows)
    sp = cusum_alarms(
        ev,
        series_col="user_id",
        order_col="ts",
        id_col="event_id",
        value_col="value",
        k=5.0,
        h=50.0,
    ).toPandas()
    dk = con.execute(cusum_oracle_sql(k=5.0, h=50.0)).df()
    assert_frames_match(sp, dk, "spike")
    assert len(sp) > 0  # the spike must actually alarm
    con.close()


def test_cusum_nonmonotone_ids_walk_time_order(spark):
    """event_ids deliberately REVERSED against time: the prefix-min
    must walk (ts, id) — the same sequence as the cumulative sum —
    not id order.  With a spike early in time but late in id space,
    an id-ordered min computes a different statistic; both engines
    must agree on the time-ordered one, and the alarms must equal a
    plain-Python replay of the true CUSUM recursion."""
    n = 20
    values = [300.0, 280.0] + [10.0] * (n - 2)  # spike FIRST in time
    rows = [
        (n - i, TS + pd.Timedelta(minutes=i), 1, "click", values[i])
        for i in range(n)
    ]  # ids n..1 descend while time ascends
    ev = _events(spark, rows)
    con = _duck(rows)
    sp = cusum_alarms(
        ev,
        series_col="user_id",
        order_col="ts",
        id_col="event_id",
        value_col="value",
        k=5.0,
        h=50.0,
    ).toPandas()
    dk = con.execute(cusum_oracle_sql(k=5.0, h=50.0)).df()
    assert_frames_match(sp, dk, "nonmonotone-ids")
    con.close()
    # independent ground truth: the textbook recursion in plain Python
    mean = sum(values) / n
    s_stat, alarm_ids = 0.0, []
    for i in range(n):
        s_stat = max(0.0, s_stat + values[i] - mean - 5.0)
        if s_stat > 50.0:
            alarm_ids.append(n - i)
    assert sorted(sp["event_id"]) == sorted(alarm_ids), (
        sorted(sp["event_id"]), sorted(alarm_ids))


@pytest.mark.slow
def test_bm25_and_linkage_degenerate_inputs(spark):
    """Empty corpus, all-empty-text corpus, and empty customer table:
    the operators must return empty results with the right schema —
    not divide by zero (avgdl), not float(None), not crash."""
    from core2_spark.operators.bm25 import bm25_topk
    from core2_spark.operators.linkage import blocked_fuzzy_pairs

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    out = bm25_topk(empty_docs, ("spark",))
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "doc_id", "bm25_score", "matched_terms"]

    blank_docs = spark.createDataFrame(
        [(1, ""), (2, "")], "doc_id long, text string")
    assert bm25_topk(blank_docs, ("spark",)).count() == 0

    empty_cust = spark.createDataFrame(
        [], "c_custkey long, c_name string, c_nationkey int")
    assert blocked_fuzzy_pairs(
        empty_cust, key_col="c_custkey", name_col="c_name",
        block_cols=("c_nationkey",)).count() == 0


@pytest.mark.slow
def test_quoted_event_types_through_every_oracle_builder(spark):
    """Event-type strings containing single quotes and backslashes
    flow through every parameterized oracle builder that interpolates
    them (retention, linear multitouch) AND the Spark side, full
    differential — the r9 advisor's sql_quote class, now swept over
    the remaining builders (VERDICT r10 task 7)."""
    from core2_spark.queries.analytics_q import (
        linear_multitouch,
        multitouch_oracle_sql,
    )

    touch, buy = "o'clock", "pur'cha\\se"
    rows = []
    eid = 0
    for u in (1, 2):
        for m in range(4):
            rows.append((eid, TS + pd.Timedelta(hours=m), u, touch, 1.0))
            eid += 1
        rows.append((eid, TS + pd.Timedelta(hours=9), u, buy, 250.0))
        eid += 1
    ev = _events(spark, rows)
    con = _duck(rows)
    assert_frames_match(
        retention_cohorts(
            ev, cohort_event=buy, cohort_min_value=0.0,
            activity_event=buy, horizon_days=3,
        ).toPandas(),
        con.execute(
            retention_oracle_sql(
                cohort_event=buy, cohort_min_value=0.0,
                activity_event=buy, horizon_days=3,
            )
        ).df(),
        "retention-quoted",
    )
    sp = linear_multitouch(
        ev, touch_events=(touch,), purchase_event=buy, lookback_days=3
    ).toPandas()
    dk = con.execute(
        multitouch_oracle_sql(
            touch_events=(touch,), purchase_event=buy, lookback_days=3
        )
    ).df()
    assert_frames_match(sp, dk, "multitouch-quoted")
    assert len(sp) == 1  # the quoted channel actually got credit
    con.close()


def test_quoted_terms_through_bm25_oracle_builder(spark):
    """BM25 with a query term containing a single quote: the builder
    must emit valid SQL and both engines must score it identically."""
    import duckdb as _duckdb

    from core2_spark.operators.bm25 import bm25_oracle_sql, bm25_topk

    docs = [
        (1, "don't stop the don't machine"),
        (2, "plain words only here"),
        (3, "don't and more filler tokens"),
    ]
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    con = _duckdb.connect()
    con.register("documents", pd.DataFrame(docs, columns=["doc_id", "text"]))
    assert_frames_match(
        bm25_topk(sdf, ("don't",), topk=5).toPandas(),
        con.execute(bm25_oracle_sql(("don't",), topk=5)).df(),
        "bm25-quoted",
    )
    # degenerate: a term absent from the corpus → empty on both sides
    assert_frames_match(
        bm25_topk(sdf, ("absent'term",), topk=5).toPandas(),
        con.execute(bm25_oracle_sql(("absent'term",), topk=5)).df(),
        "bm25-absent",
    )
    con.close()


def test_linkage_quoted_names_and_degenerate_params(spark):
    """Fuzzy linkage over names containing quotes (data-side: the
    oracle interpolates no data, but the prefix/levenshtein logic must
    agree on weird characters), plus the degenerate prefix_len=0
    (block collapses to the equality columns alone) and max_dist=0
    (exact-name pairs only)."""
    import duckdb as _duckdb

    from core2_spark.operators.linkage import (
        blocked_fuzzy_oracle_sql,
        blocked_fuzzy_pairs,
    )

    names = [
        (1, "O'Brien#0001", 7),
        (2, "O'Brien#0002", 7),
        (3, "O'Brien#0002", 7),   # exact duplicate name
        (4, "O'Brien#9999", 7),
        (5, "O'Brien#0001", 3),   # same name, different block
        (6, 'Sm"ith\\#0001', 7),
    ]
    sdf = spark.createDataFrame(names, "c_custkey long, c_name string, c_nationkey int")
    con = _duckdb.connect()
    con.register(
        "customer",
        pd.DataFrame(names, columns=["c_custkey", "c_name", "c_nationkey"]),
    )
    for prefix_len, max_dist in ((3, 2), (0, 2), (3, 0)):
        kwargs = dict(
            key_col="c_custkey",
            name_col="c_name",
            block_cols=("c_nationkey",),
            prefix_len=prefix_len,
            max_dist=max_dist,
        )
        sp = blocked_fuzzy_pairs(sdf, **kwargs).toPandas()
        dk = con.execute(
            blocked_fuzzy_oracle_sql(table="customer", **kwargs)
        ).df()
        assert_frames_match(sp, dk, f"linkage-p{prefix_len}-d{max_dist}")
    # max_dist=0 finds exactly the planted same-name same-block pair
    exact = blocked_fuzzy_pairs(
        sdf, key_col="c_custkey", name_col="c_name",
        block_cols=("c_nationkey",), prefix_len=3, max_dist=0,
    ).toPandas()
    assert set(zip(exact["left_key"], exact["right_key"])) == {(2, 3)}
    con.close()


def test_quoted_stages_through_funnel_and_runs_builders(spark):
    """The funnel/consecutive-runs differential SQL builders must
    survive stage names with embedded quotes (they route through
    sql_quote like the product builders)."""
    from core2_spark.operators.sequences import consecutive_runs, funnel
    from tests.test_random_sequences import _funnel_sql, _runs_sql

    s1, s2 = "sign'up", "bu'y"
    rows = [
        (1, TS, 1, s1, 1.0),
        (2, TS + pd.Timedelta(hours=1), 1, s2, 1.0),
        (3, TS + pd.Timedelta(hours=2), 1, s2, 1.0),
        (4, TS + pd.Timedelta(hours=3), 1, s2, 1.0),
        (5, TS, 2, s1, 1.0),
    ]
    ev = _events(spark, rows)
    con = _duck(rows)
    assert_frames_match(
        funnel(ev, [s1, s2], horizon="INTERVAL 3 DAYS").toPandas(),
        con.execute(_funnel_sql([s1, s2], 3)).df(),
        "funnel-quoted",
    )
    assert_frames_match(
        consecutive_runs(ev, s2, min_run=3).toPandas(),
        con.execute(_runs_sql(s2, 3)).df(),
        "runs-quoted",
    )
    con.close()


def test_bm25_single_corpus_scan(spark):
    """bm25_topk tokenizes the corpus exactly ONCE: doc length is the
    map-side size(filter(split(...))) carried through the tf explode,
    and df is a window over tf — pre-r11 the plan held THREE explode
    generators (a whole-stream length aggregate plus a duplicated tf
    subtree under the idf broadcast)."""
    plan = plan_text(all_queries()["text_bm25_search_topk"](spark, SF_DIR))
    assert plan.count("Arguments: explode") == 1, plan
    # one physical scan (each scan prints once in the tree and once in
    # the detail section; Location lines appear once per scan)
    assert plan.count("Location: InMemoryFileIndex") == 1, plan


@pytest.mark.parametrize("text,expected_nonempty", [
    ("a b  c", 3),          # double space → empty token filtered
    ("", 0),
    ("   ", 0),
])
def test_bm25_mapside_dl_matches_exploded_count(spark, text, expected_nonempty):
    """The map-side dl expression equals the old exploded count."""
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    dl = df.select(
        F.size(
            F.filter(F.split(F.col("text"), " "), lambda x: x != "")
        ).alias("dl")
    ).first()["dl"]
    assert dl == expected_nonempty

"""Physical-plan audits: the scale properties SURVEY.md §4 promises.

These tests read `.explain("formatted")` output and assert the plan
shape that must survive a 100× scale-up: predicate pushdown into the
Parquet scan, column pruning, broadcast joins for dimension sides, and
no cartesian products in the LSH/kNN pipelines.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from core2_spark.plans import plan_text
from core2_spark.queries.registry import all_queries
from tests.conftest import SF_DIR

QUERIES = all_queries()


def plan_of(df: DataFrame) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q1_filter_pushdown_and_column_pruning(spark):
    plan = plan_of(QUERIES["tpch_q1_pricing_summary"](spark, SF_DIR))
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1].splitlines()[0]
    # Column pruning: unused lineitem columns must not be read.
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "l_orderkey" not in read_schema
    assert "l_quantity" in read_schema


def test_q1_partial_aggregation(spark):
    """Map-side combine before the shuffle (partial → final)."""
    plan = plan_of(QUERIES["tpch_q1_pricing_summary"](spark, SF_DIR))
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_q3_broadcasts_customer_side(spark):
    plan = plan_of(QUERIES["tpch_q3_shipping_priority"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan  # top-k fused, no global sort


def test_q5_no_cartesian_all_dims_broadcast(spark):
    plan = plan_of(QUERIES["tpch_q5_region_revenue"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_scan_projection_prunes_columns(spark):
    plan = plan_of(QUERIES["project_compute"](spark, SF_DIR))
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "l_shipdate" not in read_schema  # untouched column pruned
    assert "PushedFilters" in plan


def test_minhash_lsh_no_cartesian(spark):
    """The near-dup pipeline must be equi-join-only at any scale."""
    plan = plan_of(QUERIES["dedup_minhash_lsh"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_knn_no_shuffle_of_embeddings(spark):
    """Brute-force kNN: single scan + TakeOrderedAndProject; the only
    ordering reduction is top-k, never a full sort/shuffle of vectors."""
    plan = plan_of(QUERIES["knn_brute_force_cosine"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_bitemporal_asof_filter_pushdown(spark):
    """As-of visibility predicates are plain column filters — they
    reach the scan (only the derived version columns are filtered
    post-derivation, but base o_orderdate filters push down)."""
    plan = plan_of(QUERIES["temporal_asof_system"](spark, SF_DIR))
    assert "PushedFilters" in plan


def test_window_topk_partitions_by_group(spark):
    plan = plan_of(QUERIES["window_topk_per_group"](spark, SF_DIR))
    # partitionBy o_custkey → hashpartitioning exchange, not single-partition
    assert "hashpartitioning(o_custkey" in plan


@pytest.mark.parametrize(
    "name",
    [
        "dedup_ngram_jaccard",
        "embedding_cosine_near_dup",
        "knn_lsh_bucketed",
        "curation_decontaminate_ngram",
        "curation_decontaminate_substring",
        "stream_cdc_log_tail",
    ],
)
def test_llm_pipelines_no_cartesian(spark, name):
    plan = plan_of(QUERIES[name](spark, SF_DIR))
    assert "CartesianProduct" not in plan


def test_interval_overlap_join_is_equi_not_nested_loop(spark):
    """The binned interval join must plan as a hash/sort-merge equi-join
    on (bin, key) — never the nested-loop a raw range predicate gets."""
    plan = plan_of(QUERIES["join_interval_overlap_binned"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_interval_overlap_join_guard(spark):
    """Intervals spanning more than max_bins_per_interval bins refuse."""
    import pytest as _pytest

    from core2_spark.operators.interval_join import interval_overlap_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "2024-12-31 00:00:00")],
        "id int, s string, e string",
    ).select("id", F.col("s").cast("timestamp").alias("s"), F.col("e").cast("timestamp").alias("e"))
    right = left.select(
        F.col("id").alias("rid"), F.col("s").alias("rs"), F.col("e").alias("re")
    )
    j = interval_overlap_join(
        left, right, "s", "e", "rs", "re", bin_seconds=60, max_bins_per_interval=100
    )
    with _pytest.raises(Exception, match="bins"):
        j.count()


def test_q8_snowflake_all_dims_broadcast(spark):
    """Q8's 7-table snowflake: every dimension side broadcast, zero
    cartesian products — the one shuffle is the final aggregate."""
    plan = plan_of(QUERIES["tpch_q8_market_share"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 4


def test_q21_single_orderkey_window_after_partial_agg(spark):
    """Q21's double-correlation rewrite: per-(order,supplier) partial
    aggregate shrinks line-level rows BEFORE the order-level window —
    the window shuffle moves aggregated rows, not lineitem."""
    plan = plan_of(QUERIES["tpch_q21_waiting_suppliers"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "Window" in plan
    assert "hashpartitioning(l_orderkey" in plan
    # partial + final aggregate pairs around each exchange
    assert plan.count("HashAggregate") >= 4


def test_q13_left_join_preserves_zero_order_customers(spark):
    """Q13 must plan a real outer join (anti-join rewrite would drop
    the c_count=0 population) followed by two aggregation levels."""
    plan = plan_of(QUERIES["tpch_q13_customer_distribution"](spark, SF_DIR))
    assert "LeftOuter" in plan or "BuildRight" in plan
    assert plan.count("HashAggregate") >= 3


def test_plan_audit_helpers(spark):
    """core2_spark.plans: audit() passes clean plans, names offenders,
    and pushed_filters() surfaces the scan-level predicate."""
    from core2_spark import plans

    q3 = QUERIES["tpch_q3_shipping_priority"](spark, SF_DIR)
    text = plans.audit(q3, require=("TakeOrderedAndProject",))
    assert "BroadcastHashJoin" in text

    scan = QUERIES["tpch_q6_forecast_revenue"](spark, SF_DIR)
    assert "l_shipdate" in plans.pushed_filters(scan) or "PushedFilters" in plans.plan_text(scan)

    # a deliberate cross join must be named by the audit
    a = spark.range(3)
    b = spark.range(3).withColumnRenamed("id", "id2")
    with pytest.raises(AssertionError, match="forbidden"):
        plans.audit(a.crossJoin(b))


def test_ivf_cell_assignment_plan_bounded_at_4096_clusters(spark):
    """The IVF coarse quantizer must not inline centroids as plan
    literals: with n_clusters=4096 (d=16) the old expression form
    built k*d ~ 65k literal nodes and Catalyst plan construction blew
    up before any data was read.  The broadcast-matrix pandas-UDF form
    carries ONE ArrowEvalPython node whatever k is — assert the
    optimized plan stays metadata-sized and mentions no literal
    centroid arrays."""
    from core2_spark import similarity

    cents = similarity.deterministic_planes(4096, 16)
    df = spark.createDataFrame(
        [(i, [float(i % 7)] * 16) for i in range(32)], "vec_id long, embedding array<double>"
    )
    assign = similarity.cell_assigner(df, cents)
    out = df.select("vec_id", assign(F.col("embedding")).alias("cell"))
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert len(plan) < 10_000, f"plan blew up: {len(plan)} chars"
    assert "ArrowEvalPython" in out._jdf.queryExecution().executedPlan().toString()
    # and it still computes the argmax assignment
    assert out.count() == 32


def test_mview_inlist_recompute_pushes_key_filter(spark, tmp_path):
    """The mview refresh's IN-list fast path must push the affected-key
    filter into the scan: over a CLUSTERED compact the recompute reads
    a plain parquet scan with PushedFilters In(bucket, ...) — the
    scale claim mviews.py makes, enforced."""
    from pyspark.sql import functions as FF

    from core2_spark import mviews
    from core2_spark.engine import Engine, Put

    eng = Engine(spark, str(tmp_path / "mvplan"))
    rows = spark.range(4000).select(
        FF.col("id"),
        (FF.col("id") % 100).alias("bucket"),
        (FF.col("id") * 2.0).alias("v"),
    )
    eng.submit_tx([Put("t", rows)])
    eng.compact("t", sort_by=("bucket",), sort_files=4)

    snap = eng.db()
    cond = mviews._inlist_condition(
        [{"bucket": 3}, {"bucket": 7}], ["bucket"]
    )
    plan = plan_of(snap.table("t").filter(cond))
    assert "PushedFilters: [In(bucket" in plan
    assert "Exchange" not in plan  # fresh compact: plain scan, no window


def test_lateral_topk_decorrelates_to_window(spark):
    """The LATERAL per-row ORDER BY..LIMIT must decorrelate into the
    partitioned-window top-k — never a per-outer-row re-execution or a
    cartesian product."""
    plan = plan_of(QUERIES["join_lateral_topk"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan


@pytest.mark.parametrize("compact", [False, True])
def test_asof_discovery_pushes_id_inlist(spark, tmp_path, compact):
    """The refresh's as-of group-discovery read restricts the table to
    the changed ids with a literal IN-list pushed into the table scan
    (row-group stat + bloom pruning on id): into the compact scan when
    a compact at the view's clock serves the read, into the version
    files' scan otherwise."""
    from datetime import datetime

    from pyspark.sql import functions as FF

    from core2_spark import mviews
    from core2_spark.engine import Engine, Put

    eng = Engine(spark, str(tmp_path / "asofplan"))
    rows = spark.range(2000).select(
        FF.col("id"),
        (FF.col("id") % 50).alias("bucket"),
        (FF.col("id") * 1.0).alias("v"),
    )
    eng.submit_tx([Put("t", rows)])
    eng.create_materialized_view(
        "agg", "t", ["bucket"], {"n": ("count", "*")}
    )
    if compact:
        eng.compact("t")
    eng.submit_tx([Put("t", rows.filter("id IN (3, 77)"))])
    as_of = datetime.fromisoformat(mviews._load_meta(eng, "agg")["as_of"])
    snap = eng.db()
    feed = snap.changes("t", since=as_of)
    affected = mviews._affected_keys(
        snap, "t", ["bucket"], as_of, feed, None, [3, 77, 1500]
    )
    pushed = [
        line.strip() for line in plan_of(affected).splitlines()
        if "PushedFilters" in line
    ]
    assert any("In(id, [1500,3,77])" in line for line in pushed), pushed
    if compact:
        assert any(line.startswith("PushedFilters: [In(id") for line in pushed)
    # id 1500 is not in the feed but IS in the list: its as-of bucket 0
    assert sorted(r["bucket"] for r in affected.collect()) == [0, 3, 27]


def test_vacuum_decision_scan_is_narrow_and_partition_pruned(spark, tmp_path):
    """Round 6: the partitioned-vacuum decision scan must read only
    (id, sys_start, seqs) — never data columns — and prune partitions
    above the horizon day.  Audited on the same plan the vacuum
    builds."""
    from pyspark.sql import functions as FF

    from core2_spark import temporal as bt
    from core2_spark.engine import Engine, Put

    eng = Engine(spark, str(tmp_path / "vacplan"))
    mk = lambda tag: spark.createDataFrame(
        [(i, tag, float(i)) for i in range(50)], "id long, v string, x double"
    )
    eng.submit_tx([Put("t", mk("a"))], tx_time="2024-01-01 00:00:01")
    eng.submit_tx([Put("t", mk("b"))], tx_time="2024-02-01 00:00:01")
    eng.submit_tx([Put("t", mk("c"))], tx_time="2024-06-01 00:00:01")
    import datetime as dt

    horizon_day = dt.date(2024, 3, 1)
    probe = spark.read.option("mergeSchema", "true").parquet(
        str(tmp_path / "vacplan" / "t")
    )
    narrow = probe.filter(FF.col(bt.SYS_DAY) <= FF.lit(horizon_day)).select(
        "id", bt.SYS_START, bt.SYS_DAY, bt.TX_SEQ, bt.ROW_SEQ
    )
    plan = plan_of(narrow)
    # data columns (v, x) never reach the scan schema
    assert "ReadSchema" in plan and " v:" not in plan and " x:" not in plan
    import re

    # the day bound lands in PartitionFilters (dir-level pruning —
    # the June partition is never listed; inputFiles() is relation-
    # level and can't show this, the plan text does)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m is not None, plan
    assert bt.SYS_DAY in m.group(1) and "<=" in m.group(1), m.group(1)


def test_round7_query_plans_have_no_nested_loops(spark):
    """Plan audits for the round-7 surface: document pull, semantic
    dedup, interpolation gap fill — all equi-join/window shaped; a
    BroadcastNestedLoop or CartesianProduct anywhere means a rewrite
    regressed to a quadratic plan.  (The seeds cross join in semantic
    dedup is a BROADCAST of k=8 rows — explicitly allowed; assert the
    big sides never nest.)"""
    for name in ("datalog_pull_nested", "ts_gap_fill_interpolate"):
        plan = plan_of(QUERIES[name](spark, SF_DIR))
        assert "BroadcastNestedLoop" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_gopher_rules_is_map_side_only(spark):
    """The quality-rules scorer must be a pure map-side pipeline: no
    join, no aggregate, no shuffle except the final ORDER BY's range
    exchange."""
    plan = plan_of(QUERIES["curation_gopher_quality_rules"](spark, SF_DIR))
    assert "Join" not in plan and "HashAggregate" not in plan
    import re

    # exactly ONE exchange: the final ORDER BY's range repartitioning
    assert len(re.findall(r"\bExchange \(", plan)) == 1, plan
    assert "rangepartitioning" in plan, plan


def test_triangle_count_wedge_joins_are_hash_joins(spark):
    """The ordered wedge join must plan as equi hash/sort-merge joins;
    the only non-equi node allowed is the final 1x1 scalar combine
    (broadcast-trivial by construction)."""
    plan = plan_of(QUERIES["graph_triangle_count"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    # the scalar combine is a BroadcastNestedLoopJoin over two 1-row
    # aggregates — at most that ONE node may appear (formatted explain
    # prints every node twice: tree + numbered detail; count details)
    assert plan.count(") BroadcastNestedLoopJoin") <= 1
    # both wedge joins are real equi joins
    assert (
        plan.count("HashJoin") + plan.count("SortMergeJoin") >= 3
    ), plan


@pytest.mark.parametrize(
    "name", ["events_funnel_ordered", "events_error_burst_runs"]
)
def test_sequence_queries_no_cartesian(spark, name):
    plan = plan_of(QUERIES[name](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "text_bm25_search_topk",
        "entity_fuzzy_match_blocked",
        "events_retention_cohorts",
        "ts_zscore_anomalies",
        "events_attribution_last_touch",
        "events_attribution_linear_multitouch",
        "ts_cusum_changepoint",
    ],
)
def test_analytics_queries_no_cartesian_no_python_udf(spark, name):
    """The analytics family (BM25 / fuzzy linkage / cohorts / z-score /
    attribution / CUSUM) must stay equi-join + window shaped: no
    cartesian, no nested loop (the blocking keys and by-keys are real
    equi conjuncts Catalyst must extract), and no Python row/batch
    eval anywhere — these are pure JVM column-algebra pipelines."""
    plan = plan_of(QUERIES[name](spark, SF_DIR))
    assert "CartesianProduct" not in plan, name
    assert "BroadcastNestedLoopJoin" not in plan, name
    assert "EvalPython" not in plan, name  # Batch/ArrowEvalPython


def test_fuzzy_match_blocking_becomes_equi_join(spark):
    """The Levenshtein threshold must ride on an equi join over the
    blocking key (nation x name prefix) — never a theta-only join."""
    plan = plan_of(QUERIES["entity_fuzzy_match_blocked"](spark, SF_DIR))
    assert plan.count("HashJoin") + plan.count("SortMergeJoin") >= 1, plan


@pytest.mark.parametrize(
    "name", ["agg_histogram_equi_width", "events_rolling_7d_actives"]
)
def test_scalar_bounds_are_broadcast(spark, name):
    """The scalar bounds row (histogram min/max, rolling-window max
    day) joins the fact via ONE 1-row broadcast nested loop (the
    allowed scalar-combine shape) — the aggregate itself stays
    map-side combinable."""
    plan = plan_of(QUERIES[name](spark, SF_DIR))
    assert "CartesianProduct" not in plan, name
    assert plan.count(") BroadcastNestedLoopJoin") <= 1, plan


def test_sketch_aggregate_not_rekeyed_by_partkey(spark):
    """agg_approx_sketches must keep its sketch aggregate keyed by
    l_returnflag ONLY: mixing countDistinct into the same groupBy
    makes Spark re-key the first aggregate level on (l_returnflag,
    l_partkey), shuffling a 52-word HLL register array plus a
    percentile buffer per fine-grained group (~60k rows of 56
    columns, twice) — measured 4.1-4.9 s vs 0.9-1.5 s split at
    sf0.1.  The split form computes the exact distinct in its own
    narrow two-level aggregate and joins the 3-row results."""
    df = all_queries()["agg_approx_sketches"](spark, SF_DIR)
    plan = plan_text(df)
    import re

    matches = re.findall(
        r"ObjectHashAggregate[\s\S]*?Keys \[(\d+)\]: \[([^\]]*)\]", plan
    )
    # vacuous-pass guard (ADVICE r12): the sketch aggregate MUST plan
    # as ObjectHashAggregate — zero matches would mean the regex (or a
    # Spark formatted-plan change) silently stopped checking anything
    assert matches, "no ObjectHashAggregate Keys found in plan:\n" + plan
    for _, keys in matches:
        assert "l_partkey" not in keys, (
            "sketch aggregate re-keyed by l_partkey — the distinct "
            "aggregate leaked back into the sketch groupBy:\n" + keys
        )
    # and the exact distinct must still be computed (narrow agg path)
    assert "count(distinct l_partkey" in plan or "count(l_partkey" in plan

"""Focused guards for the r11 optimization-round changes: each test
pins the NEW internal shape (cache hit, plan fragment, fallback branch)
so a regression to the slow form fails loudly.  Result equivalence is
separately covered by the oracle suite (every touched query keeps its
oracle pair)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from core2_spark.catalog import load_table
from core2_spark.plans import plan_text
from core2_spark.queries.registry import all_queries

SF_DIR = "/root/testdata/sf0.001"


def test_schema_cache_reuses_schema_not_relation(spark):
    """load_table memoizes the inferred SCHEMA per (app, dir, table)
    so footer inference runs once per table, while every build still
    gets its OWN relation object.  Both halves are regression guards:
    the first r11 form cached the DataFrame itself, and sharing one
    LogicalRelation across the bench's 10 concurrent query threads
    serialized them on JVM-side instance locks (headline wall
    2.3 s -> 4.2 s with no sequential regression)."""
    from core2_spark.catalog import _SCHEMA_CACHE

    a = load_table(spark, SF_DIR, "orders")
    b = load_table(spark, SF_DIR, "orders")
    assert a is not b  # fresh relation per build — no shared plan locks
    assert a.schema == b.schema
    assert any(
        k[2] == "orders" and k[1].endswith("sf0.001") for k in _SCHEMA_CACHE
    )
    # events memoizes the RAW read schema and re-normalizes ts on hit
    e1 = load_table(spark, SF_DIR, "events")
    e2 = load_table(spark, SF_DIR, "events")
    assert e1 is not e2
    assert dict(e1.dtypes)["ts"] == "timestamp"
    assert e1.schema == e2.schema
    # cached-schema relation still computes (sanity action)
    assert b.count() > 0 and e2.count() > 0


def test_decontamination_spreads_before_shingling(spark):
    """Both decontamination queries must spread the corpus across
    cores BEFORE the gram/shingle explode: a compact corpus scans as
    one parquet split, and the r11 sweep measured the 40-char shingle
    pass serialized on a single task without the explicit round-robin
    repartition (REPARTITION_BY_NUM opts out of AQE coalescing)."""
    qs = all_queries()
    for name in (
        "curation_decontaminate_ngram",
        "curation_decontaminate_substring",
    ):
        plan = plan_text(qs[name](spark, SF_DIR))
        assert "RoundRobinPartitioning" in plan, name


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


def test_connected_components_string_ids_fallback(spark):
    """Non-numeric node ids take the join-based convergence check (no
    label sum to compare) — same fixpoint, multi-hop chain."""
    from core2_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        [("b", "c"), ("c", "d"), ("x", "y"), ("a", "b")],
        ["a_id", "b_id"],
    )
    got = {
        (r["node"], r["component"])
        for r in connected_components(edges).collect()
    }
    assert got == {
        ("a", "a"),
        ("b", "a"),
        ("c", "a"),
        ("d", "a"),
        ("x", "x"),
        ("y", "x"),
    }


def test_connected_components_numeric_sum_check(spark):
    """Numeric ids take the monotone label-sum convergence check; a
    chain forces genuine multi-iteration propagation."""
    from core2_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 9)] + [(20, 21)],
        ["a_id", "b_id"],
    )
    got = {
        (r["node"], r["component"])
        for r in connected_components(edges).collect()
    }
    assert got == {(i, 1) for i in range(1, 10)} | {(20, 20), (21, 20)}


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

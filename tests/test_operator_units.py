"""Operator unit tests in the reference's style (SURVEY.md §5.1):
tiny literal relations in → exact expected rows out, one block per
operator family [upstream: core2 `operator/*_test.clj`].  These
complement the oracle tests with hand-computed expectations that don't
depend on any other engine.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def rows(df, *cols):
    # None sorts first (keyed by (is_not_none, value-or-0-ish))
    return sorted(
        (tuple(r[c] for c in cols) for r in df.collect()),
        key=lambda t: tuple((v is not None, v if v is not None else 0) for v in t),
    )


def test_join_all_variants_literal(spark):
    l = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, lv string")
    r = spark.createDataFrame([(2, "x"), (3, "y"), (3, "z"), (4, "w")], "rk int, rv string")
    on = l["k"] == r["rk"]
    assert rows(l.join(r, on, "inner"), "k", "rv") == [(2, "x"), (3, "y"), (3, "z")]
    assert rows(l.join(r, on, "left"), "k", "rv") == [(1, None), (2, "x"), (3, "y"), (3, "z")]
    assert rows(l.join(r, on, "full"), "k", "rv") == [
        (None, "w"), (1, None), (2, "x"), (3, "y"), (3, "z"),
    ]
    assert rows(l.join(r, on, "left_semi"), "k") == [(2,), (3,)]
    assert rows(l.join(r, on, "left_anti"), "k") == [(1,)]
    assert l.crossJoin(r).count() == 12


def test_set_ops_bag_semantics_literal(spark):
    a = spark.createDataFrame([(1,), (1,), (2,), (3,)], "x int")
    b = spark.createDataFrame([(1,), (2,), (2,)], "x int")
    assert rows(a.unionAll(b), "x") == [(1,), (1,), (1,), (2,), (2,), (2,), (3,)]
    # bag intersection: multiplicity = min(2,1)=1 for x=1, min(1,2)=1 for x=2
    assert rows(a.intersectAll(b), "x") == [(1,), (2,)]
    # bag difference: 2 ones minus 1 one = 1 one; 1 two minus 2 twos = 0
    assert rows(a.exceptAll(b), "x") == [(1,), (3,)]
    assert rows(a.intersect(b), "x") == [(1,), (2,)]
    assert rows(a.subtract(b), "x") == [(3,)]


def test_unwind_ordinality_literal(spark):
    df = spark.createDataFrame([(1, ["a", "b"]), (2, []), (3, None)],
                               "id int, xs array<string>")
    assert rows(df.select("id", F.explode("xs").alias("x")), "id", "x") == [
        (1, "a"), (1, "b"),
    ]
    assert rows(df.select("id", F.explode_outer("xs").alias("x")), "id", "x") == [
        (1, "a"), (1, "b"), (2, None), (3, None),
    ]
    assert rows(
        df.select("id", F.posexplode("xs").alias("p", "x")), "id", "p", "x"
    ) == [(1, 0, "a"), (1, 1, "b")]


def test_three_valued_logic_literal(spark):
    df = spark.createDataFrame([(1, 10), (2, None), (3, 30)], "id int, v int")
    # WHERE keeps only TRUE — the NULL comparison row drops
    assert rows(df.filter(F.col("v") > 15), "id") == [(3,)]
    assert rows(df.filter(~(F.col("v") > 15)), "id") == [(1,)]
    assert rows(df.filter((F.col("v") > 15).isNull()), "id") == [(2,)]
    # null-safe equality matches NULL to NULL
    assert rows(df.filter(F.col("v").eqNullSafe(F.lit(None))), "id") == [(2,)]
    # aggregates skip NULLs; count(*) doesn't
    agg = df.agg(F.count("*").alias("n"), F.count("v").alias("nv"),
                 F.sum("v").alias("s")).collect()[0]
    assert (agg["n"], agg["nv"], agg["s"]) == (3, 2, 40)


def test_bitemporal_visibility_literal(spark):
    from core2_spark import temporal as bt

    versions = spark.createDataFrame(
        [
            # id 1: v1 known Jan–Feb, superseded by v2 from Feb
            (1, "v1", "2024-01-01", "2024-02-01", "2024-01-01", "2099-01-01"),
            (1, "v2", "2024-02-01", "2099-01-01", "2024-01-15", "2099-01-01"),
            # id 2: fact valid only during January, known since Jan 1
            (2, "w1", "2024-01-01", "2099-01-01", "2024-01-01", "2024-02-01"),
        ],
        "id int, tag string, system_time_start string, system_time_end string,"
        " app_time_start string, app_time_end string",
    )
    for c in bt.TEMPORAL_COLS:
        versions = versions.withColumn(c, F.col(c).cast("timestamp"))

    # System Jan 20, app Jan 20: id1→v1 (v2 not yet known), id2→w1
    got = rows(bt.scan_as_of(versions, "2024-01-20", "2024-01-20"), "id", "tag")
    assert got == [(1, "v1"), (2, "w1")]
    # System Mar 1, app Jan 20: id1→v2 (retroactively valid from Jan 15)
    got = rows(bt.scan_as_of(versions, "2024-03-01", "2024-01-20"), "id", "tag")
    assert got == [(1, "v2"), (2, "w1")]
    # System Mar 1, app Mar 1: id2's fact expired end of January
    got = rows(bt.scan_as_of(versions, "2024-03-01", "2024-03-01"), "id", "tag")
    assert got == [(1, "v2")]


def test_period_predicates_literal(spark):
    from core2_spark.functions import periods

    df = spark.createDataFrame(
        [(1, 0, 10, 5, 15), (2, 0, 10, 10, 20), (3, 0, 10, 2, 8), (4, 12, 14, 0, 10)],
        "id int, a_s int, a_e int, b_s int, b_e int",
    )
    out = {
        r["id"]: (r["ov"], r["ct"], r["pr"], r["ip"], r["sc"])
        for r in df.select(
            "id",
            periods.overlaps(F.col("a_s"), F.col("a_e"), F.col("b_s"), F.col("b_e")).alias("ov"),
            periods.contains_period(F.col("a_s"), F.col("a_e"), F.col("b_s"), F.col("b_e")).alias("ct"),
            periods.precedes(F.col("a_s"), F.col("a_e"), F.col("b_s"), F.col("b_e")).alias("pr"),
            periods.immediately_precedes(F.col("a_s"), F.col("a_e"), F.col("b_s"), F.col("b_e")).alias("ip"),
            periods.succeeds(F.col("a_s"), F.col("a_e"), F.col("b_s"), F.col("b_e")).alias("sc"),
        ).collect()
    }
    assert out[1] == (True, False, False, False, False)   # plain overlap
    assert out[2] == (False, False, True, True, False)    # meets exactly
    assert out[3] == (True, True, False, False, False)    # contains
    assert out[4] == (False, False, False, False, True)   # after


def test_fixpoint_literal(spark):
    from core2_spark.operators.recursion import fixpoint

    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src int, dst int")

    def step(frontier):
        return (
            frontier.alias("f")
            .join(edges.alias("e"), F.col("f.dst") == F.col("e.src"))
            .select(F.col("f.src").alias("src"), F.col("e.dst").alias("dst"))
        )

    closure = fixpoint(edges, step, key_cols=["src", "dst"])
    assert rows(closure, "src", "dst") == [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
    ]


def test_connected_components_labels(spark):
    from core2_spark.operators.components import connected_components

    # two chains and an isolated pair: {0-1-2-3}, {10-11}, {20-21-22}
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (10, 11), (21, 20), (21, 22)],
        "a_id long, b_id long",
    )
    got = {
        (r["node"], r["component"])
        for r in connected_components(edges).collect()
    }
    assert got == {
        (0, 0), (1, 0), (2, 0), (3, 0),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    }


def test_interval_join_matches_naive_on_random_intervals(spark):
    """Property: binned interval join ≡ cross-join + overlap filter on
    seeded random intervals (varied widths, shared keys, bin-boundary
    alignment included)."""
    import random
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    from core2_spark.operators.interval_join import interval_overlap_join

    rng = random.Random(9)
    base = datetime(2024, 1, 1)

    def mk(n, prefix):
        rows = []
        for i in range(n):
            start = base + timedelta(seconds=rng.randrange(0, 7200, 60))
            width = rng.choice([60, 300, 600, 1800])  # includes bin-exact
            rows.append((i, rng.randrange(3), start, start + timedelta(seconds=width)))
        return spark.createDataFrame(
            rows, f"{prefix}_id long, key long, {prefix}_s timestamp, {prefix}_e timestamp"
        )

    left, right = mk(40, "l"), mk(40, "r")
    binned = {
        (r["l_id"], r["r_id"])
        for r in interval_overlap_join(
            left, right, "l_s", "l_e", "r_s", "r_e", keys=("key",), bin_seconds=600
        ).collect()
    }
    naive = {
        (r["l_id"], r["r_id"])
        for r in left.join(right.withColumnRenamed("key", "rkey"))
        .filter(
            (F.col("key") == F.col("rkey"))
            & (F.col("l_s") < F.col("r_e"))
            & (F.col("r_s") < F.col("l_e"))
        )
        .collect()
    }
    assert binned == naive and len(naive) > 0


def test_connected_components_matches_union_find_on_random_graphs(spark):
    """Property: distributed label propagation ≡ driver-side union-find
    on seeded random graphs."""
    import random

    from core2_spark.operators.components import connected_components

    rng = random.Random(17)
    n_nodes, n_edges = 60, 45
    edges = [
        (rng.randrange(n_nodes), rng.randrange(n_nodes)) for _ in range(n_edges)
    ]
    edges = [(a, b) for a, b in edges if a != b]

    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    in_graph = {a for e in edges for a in e}
    expected = {n: find(n) for n in in_graph}
    # canonical label = min node id in the component
    comp_min: dict[int, int] = {}
    for n, root in expected.items():
        comp_min[root] = min(comp_min.get(root, n), n)
    expected = {n: comp_min[find(n)] for n in in_graph}

    df = spark.createDataFrame(edges, "a_id long, b_id long")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert got == expected


def test_pagerank_parameterized_bounded_plan(spark):
    """Round 7: PageRank iterations are a parameter; localCheckpoint
    every k steps keeps the standing Catalyst plan bounded, so plan
    size — and analysis cost — is flat in the iteration count (the
    fixpoint operator's discipline).  Values must be unaffected by
    where checkpoints land."""
    from pyspark.sql import functions as F

    from core2_spark.operators.pagerank import pagerank

    nodes = spark.range(25).select(F.col("id").alias("node"))
    edges = nodes.select(
        F.col("node").alias("src"), ((F.col("node") * 3 + 1) % 25).alias("dst")
    ).unionAll(
        nodes.select(
            F.col("node").alias("src"),
            ((F.col("node") * F.col("node") + 2) % 25).alias("dst"),
        )
    )

    # checkpoint cadence does not change the numbers
    a = pagerank(nodes, edges, iterations=8, checkpoint_every=3)
    b = pagerank(nodes, edges, iterations=8, checkpoint_every=100)
    ra = {r["node"]: r["rank"] for r in a.collect()}
    rb = {r["node"]: r["rank"] for r in b.collect()}
    assert ra.keys() == rb.keys()
    assert all(abs(ra[k] - rb[k]) < 1e-12 for k in ra)
    assert abs(sum(ra.values()) - 1.0) < 1e-6  # mass conserved (no dangling)

    # plan-size probe: 30 iterations must not plan deeper than 12 —
    # lineage is truncated at each checkpoint
    def plan_chars(df):
        return len(df._jdf.queryExecution().analyzed().toString())

    p12 = plan_chars(pagerank(nodes, edges, iterations=12))
    p30 = plan_chars(pagerank(nodes, edges, iterations=30))
    assert p30 <= 1.5 * p12, (p12, p30)


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

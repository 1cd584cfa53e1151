#!/usr/bin/env python
"""Bitemporal overhead on a real analytical query.

Ingests lineitem (sf0.1, ~600k rows) into an engine version table as
one transaction, then times TPC-H Q1's aggregation three ways, warm,
best-of-3:

- plain:     straight parquet scan (the non-temporal baseline);
- live:      Snapshot.table() — current-state resolution (per-id
             latest-version window) feeding the same aggregation;
- compacted: after Engine.compact() — reads the materialized current
             state, which should price at the plain scan.

Run: python scripts/probe_engine_overhead.py
Recorded in PERF.md (round-5).
"""

from __future__ import annotations

import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def q1_agg(df):
    from pyspark.sql import functions as F

    return (
        df.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.avg("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def best_of(fn, n: int = 3) -> float:
    best = None
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return best


def main() -> None:
    from pyspark.sql import functions as F

    from core2_spark.catalog import load_table
    from core2_spark.engine import Engine, Put
    from core2_spark.session import get_spark

    spark = get_spark(app_name="engine-overhead-probe", shuffle_partitions=8)
    root = os.path.join(REPO, "_data", "engine_overhead_probe")
    shutil.rmtree(root, ignore_errors=True)

    lineitem = load_table(spark, SF_DIR, "lineitem")
    n = lineitem.count()
    eng = Engine(spark, root)
    rows = lineitem.withColumn(
        "id",
        F.col("l_orderkey") * 10 + F.col("l_linenumber"),
    )
    eng.submit_tx([Put("lineitem", rows)], tx_time="2024-01-01 00:00:01")

    plain = lambda: q1_agg(lineitem).collect()
    live = lambda: q1_agg(eng.db().table("lineitem")).collect()
    plain()
    live()  # warm
    t_plain = best_of(plain)
    t_live = best_of(live)

    eng.compact("lineitem")
    compacted = lambda: q1_agg(eng.db().table("lineitem")).collect()
    compacted()
    t_compact = best_of(compacted)

    # merge-on-read: a small post-compact update (1,000 of 600k ids)
    # makes the compact stale; the default read should price near the
    # compacted scan, not the full live window
    delta = rows.limit(1000).withColumn("l_quantity", F.col("l_quantity") + 1)
    eng.submit_tx([Put("lineitem", delta)], tx_time="2024-01-02 00:00:01")
    merge = lambda: q1_agg(eng.db().table("lineitem")).collect()
    merge()
    t_merge = best_of(merge)

    print(f"rows: {n}")
    print(f"{'path':>15} {'best-of-3':>10} {'vs plain':>9}")
    for name, t in (
        ("plain", t_plain),
        ("live", t_live),
        ("compacted", t_compact),
        ("merge-on-read", t_merge),
    ):
        print(f"{name:>15} {t:>9.2f}s {t / t_plain:>8.2f}x")


if __name__ == "__main__":
    main()

"""Probe: incremental materialized-view refresh vs full recompute.

Builds an engine table from sf0.1 lineitem (~600k rows), materializes
a 10,000-group aggregate view, commits a small delta (1,000 updated
rows), and times the incremental refresh against a from-scratch
recompute of the same view.  The incremental path's aggregation work
is bounded by the affected groups (IN-list pushed into the scan);
the remaining full-table term is the column-pruned group-discovery
pass — this probe shows where the crossover sits in practice.

Usage: python scripts/probe_mview_refresh.py
"""

from __future__ import annotations

import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from core2_spark import mviews
from core2_spark.engine import Engine, Put

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
ROOT = os.path.join(REPO, "_data", "probe_mview")


def main() -> None:
    spark = (
        SparkSession.builder.master("local[16]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.driver.memory", "24g")
        .getOrCreate()
    )
    shutil.rmtree(ROOT, ignore_errors=True)
    factor = int(os.environ.get("PROBE_MVIEW_FACTOR", "10"))
    li = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        # (orderkey, linenumber) is NOT unique in the synthetic fixture,
        # and colliding ids would smear version history across buckets —
        # assign surrogate ids instead; ×factor row multiplication to
        # reach a scale where aggregation cost beats per-job overhead
        .withColumn("_rep", F.explode(F.sequence(F.lit(1), F.lit(factor))))
        .select(
            F.monotonically_increasing_id().alias("id"),
            (F.col("l_partkey") % 10000).alias("bucket"),
            F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
        )
        .localCheckpoint(eager=True)  # pin ids for the delta reuse below
    )
    n = li.count()
    eng = Engine(spark, ROOT)
    eng.submit_tx([Put("li", li)])
    # count_distinct is the representative EXPENSIVE aggregate: its
    # full recompute expands + reshuffles every row, while the
    # incremental path pays that only for affected groups' rows —
    # cheap scan-bound aggregates (sum/count) are included too
    aggs = {
        "n": ("count", "*"),
        "total": ("sum", "price"),
        "prices": ("count_distinct", "price"),
    }

    t0 = time.time()
    eng.create_materialized_view("rev", "li", ["bucket"], aggs)
    t_create = time.time() - t0
    # the realistic pairing: a compacted hot table.  The refresh's
    # recompute then rides merge-on-read (stale compact + delta
    # window over changed ids only) and the group filter pushes into
    # the compact's plain parquet scan instead of re-windowing every
    # version row.
    eng.compact("li")

    def one_round(label: str, delta):
        eng.submit_tx([Put("li", delta)])
        t0 = time.time()
        stats = eng.refresh_materialized_view("rev")
        t_inc = time.time() - t0
        assert stats["mode"] == "incremental", stats

        t0 = time.time()
        full = mviews._compute(eng.db().table("li"), ["bucket"], aggs)
        full.write.mode("overwrite").parquet(ROOT + "/_full_probe")
        t_full = time.time() - t0

        a = sorted(tuple(r) for r in eng.materialized_view("rev").collect())
        b = sorted(
            tuple(r) for r in spark.read.parquet(ROOT + "/_full_probe").collect()
        )
        assert a == b, "incremental view diverged from full recompute"
        print(
            f"{label}: rows={n} groups=10000 "
            f"affected={stats['refreshed_groups']} create={t_create:.2f}s "
            f"incremental={t_inc:.2f}s full={t_full:.2f}s "
            f"ratio={t_full / t_inc:.2f}x"
        )

    bump = F.lit(1).cast("decimal(18,2)")
    # spread delta: 1,000 rows scattered over ~1,000 groups
    one_round(
        "spread", li.orderBy("id").limit(1000).withColumn("price", F.col("price") + bump)
    )
    # concentrated delta: every row of 10 groups (~600 rows)
    one_round(
        "concentrated",
        li.filter(F.col("bucket") < 10).withColumn("price", F.col("price") + bump),
    )
    shutil.rmtree(ROOT, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()

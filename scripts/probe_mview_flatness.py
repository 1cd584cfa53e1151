"""Probe: how does mview refresh time grow with table size at a fixed delta?

Group discovery reads the changed ids' rows of the table at the view's
clock (an id IN-list pushed into the scan), and the recompute reads
the affected groups' rows of the current state.  Neither is bounded by
the delta alone: this probe shows how much of the refresh still grows
with the table.

Method: build engine tables at 1× and 8× row counts from sf0.1
lineitem (same 10,000-group key space), commit an IDENTICAL 1,000-row
delta to each, and time `refresh_materialized_view` warm (best of 3,
recommitting an equivalent delta per repetition).  Report the 8×/1×
refresh-time ratio — ≈1.0 means flat, ≈8 would mean the refresh is
proportional to the table.

Usage: SPARK_GRAFT_CPUS=4 python scripts/probe_mview_flatness.py
(local[$SPARK_GRAFT_CPUS], the engine's session settings; driver heap
from $SPARK_DRIVER_MEM, default 8g).  Results recorded in PERF.md.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from core2_spark.engine import Engine, Put
from core2_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
BASE = os.path.join(REPO, "_data", "probe_mview_flat")
DELTA_ROWS = 1000


def build(spark, root: str, factor: int) -> Engine:
    shutil.rmtree(root, ignore_errors=True)
    li = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .withColumn("_rep", F.explode(F.sequence(F.lit(1), F.lit(factor))))
        .select(
            F.monotonically_increasing_id().alias("id"),
            (F.col("l_partkey") % 10000).alias("bucket"),
            F.col("l_extendedprice").cast("double").alias("price"),
        )
    )
    eng = Engine(spark, root)
    eng.submit_tx([Put("li", li)])
    eng.create_materialized_view(
        "rev", "li", ["bucket"], {"n": ("count", "*"), "total": ("sum", "price")}
    )
    return eng


def timed_refresh(spark, eng: Engine, rep: int) -> float:
    delta = (
        spark.range(DELTA_ROWS)
        .select(
            (F.col("id") + rep * DELTA_ROWS).alias("id"),
            (F.col("id") % 10000).alias("bucket"),
            F.lit(1.0).alias("price"),
        )
    )
    eng.submit_tx([Put("li", delta)])
    t0 = time.monotonic()
    stats = eng.refresh_materialized_view("rev")
    wall = time.monotonic() - t0
    assert stats["mode"] == "incremental", stats
    return wall


def main() -> None:
    spark = get_spark(app_name="probe-mview-flatness")
    spark.sparkContext.setLogLevel("ERROR")
    results = {}
    for label, factor in (("1x", 1), ("8x", 8)):
        eng = build(spark, f"{BASE}_{label}", factor)
        walls = [timed_refresh(spark, eng, rep) for rep in range(3)]
        results[label] = min(walls)
        print(f"{label}: table rows ≈ {600000 * factor}, "
              f"refresh walls {['%.2f' % w for w in walls]} s, "
              f"best {results[label]:.2f} s")
    ratio = results["8x"] / results["1x"]
    print(f"8x/1x refresh ratio at fixed {DELTA_ROWS}-row delta: {ratio:.2f} "
          f"(≈1.0 = flat, ≈8 = proportional to the table)")


if __name__ == "__main__":
    main()

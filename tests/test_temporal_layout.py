"""Version-table layout at scale: partitioning the bitemporal table by
system-time year makes as-of scans prune whole partitions — the
file-layout stand-in for core2's temporal kd-tree (SURVEY.md §4)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from core2_spark import temporal as bt
from core2_spark.catalog import load_tables
from core2_spark.sinks import write_partitioned
from tests.conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_asof_scan_prunes_time_partitions(spark):
    o = load_tables(spark, SF_DIR, ("orders",))["orders"]
    versions = bt.put(
        o.select(F.col("o_orderkey").alias("id"), "o_totalprice", "o_orderdate"),
        tx_time=F.col("o_orderdate"),
    ).withColumn("sys_year", F.year(bt.SYS_START))

    path = os.path.join(REPO, "_data", "versions_by_year")
    write_partitioned(versions, path, ["sys_year"])

    vdf = spark.read.parquet(path)
    asof = bt.scan_as_of(vdf, system_time="1996-06-01").filter(
        F.col("sys_year") <= 1996  # year derived from the as-of bound
    )
    plan = asof._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "sys_year" in plan.split("PartitionFilters")[1]
    # correctness: identical rows to the unpartitioned as-of scan
    expected = bt.scan_as_of(versions.drop("sys_year"), system_time="1996-06-01").count()
    assert asof.count() == expected


def test_engine_version_table_prunes_partitions_on_asof(spark, tmp_path):
    """Engine appends are day-partitioned on system_time_start; an
    as-of read must show the redundant `_sys_day` bound in the scan's
    PartitionFilters so files from later days are never opened."""
    from core2_spark.engine import Engine, Put

    root = str(tmp_path / "eng")
    eng = Engine(spark, root)
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    eng.submit_tx([Put("t", df)], tx_time="2024-03-01T00:00:00")
    eng.submit_tx([Put("t", df)], tx_time="2024-06-01T00:00:00")
    eng.submit_tx([Put("t", df)], tx_time="2024-09-01T00:00:00")

    import os

    days = [n for n in os.listdir(os.path.join(root, "t")) if n.startswith("_sys_day=")]
    assert len(days) == 3, days

    snap = eng.db()
    asof = snap.table("t", system_time="2024-04-01T00:00:00",
                      app_time="2024-04-01T00:00:00")
    plan = asof._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_sys_day" in plan, plan[:2000]
    # pruning must not change answers: only the March versions visible
    assert {(r["id"], r["v"]) for r in asof.collect()} == {(1, "a"), (2, "b")}
    # and the layout column never leaks into query outputs
    assert "_sys_day" not in asof.columns
    assert "_sys_day" not in snap.history("t").columns


def test_manifest_pruning_drops_out_of_range_files(spark, tmp_path):
    """Round-5: driver-side manifest pruning — an as-of read's plan
    must list ONLY the files whose `_sys_day` is in range (the file
    index, schema merge and footer reads are O(listed files), so
    PartitionFilters alone still pays O(all history) at plan time;
    measured flat at 10x history depth in
    scripts/probe_history_depth.py).  changes() prunes on both
    bounds.  Answers are unchanged."""
    from datetime import datetime

    from core2_spark.engine import Engine, Put

    root = str(tmp_path / "eng")
    eng = Engine(spark, root)
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    eng.submit_tx([Put("t", df)], tx_time="2024-03-01T00:00:00")
    eng.submit_tx([Put("t", df)], tx_time="2024-06-01T00:00:00")
    eng.submit_tx([Put("t", df)], tx_time="2024-09-01T00:00:00")
    snap = eng.db()

    asof = snap.table(
        "t", system_time="2024-04-01T00:00:00", app_time="2024-04-01T00:00:00"
    )
    files = asof.inputFiles()
    assert files and all("_sys_day=2024-03-01" in f for f in files), files

    tail = snap.changes("t", since="2024-08-01T00:00:00")
    tail_files = tail.inputFiles()
    assert tail_files and all(
        "_sys_day=2024-09-01" in f for f in tail_files
    ), tail_files
    assert tail.count() == 2

    mid = snap.changes(
        "t", since="2024-05-01T00:00:00", until="2024-07-01T00:00:00"
    )
    assert {f.split("_sys_day=")[1][:10] for f in mid.inputFiles()} == {"2024-06-01"}

    # pruned-to-zero still resolves (schema survives, zero rows)
    nothing = snap.table(
        "t", system_time="2024-01-01T00:00:00", app_time="2024-01-01T00:00:00"
    )
    assert nothing.count() == 0
    assert set(nothing.columns) == {"id", "v"}

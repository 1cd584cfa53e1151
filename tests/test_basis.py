"""Repeatable reads: a Basis pins the file manifest, so appends after
acquisition are invisible to reads at that basis (core2's
log-position + clock semantics, §3.3)."""

from __future__ import annotations

import os
import shutil

from core2_spark.basis import acquire_basis

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA_DIR = os.path.join(REPO, "_data", "basis_test")


def test_basis_pins_file_manifest(spark):
    shutil.rmtree(DATA_DIR, ignore_errors=True)
    os.makedirs(DATA_DIR, exist_ok=True)
    tbl = f"{DATA_DIR}/tbl"
    spark.createDataFrame([(1, "a")], "id long, s string").write.mode("append").parquet(tbl)

    # a basis reads with the schema it is given, never a footer's
    schemas = {"tbl": spark.read.parquet(tbl).schema.json()}
    basis = acquire_basis({"tbl": tbl}, "2024-06-01T00:00:00", schemas)
    assert basis.read(spark, "tbl").count() == 1

    # Append after basis acquisition — a new transaction.
    spark.createDataFrame([(2, "b")], "id long, s string").write.mode("append").parquet(tbl)

    # Reads at the old basis are repeatable; a new basis sees the append.
    assert basis.read(spark, "tbl").count() == 1
    basis2 = acquire_basis({"tbl": tbl}, "2024-06-02T00:00:00", schemas)
    assert basis2.read(spark, "tbl").count() == 2
    # the pinned clock travels with the basis (deterministic "now")
    assert basis.current_time.isoformat() == "2024-06-01T00:00:00"


def test_mixed_legacy_and_partitioned_layout_unions_both(spark):
    """ADVICE r4 (high): a legacy flat-file engine root that gains a
    day-partitioned append must keep serving the legacy rows.  The old
    basePath read silently dropped every flat leaf from the scan —
    history() and table() lost the pre-migration data with no error."""
    from datetime import datetime

    from core2_spark.engine import Engine, Put
    from core2_spark import temporal as bt
    from pyspark.sql import functions as F

    root = f"{DATA_DIR}/legacy_root"
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)

    # Simulate a pre-partitioning engine write: flat files directly in
    # the table dir, full version schema, no _sys_day column/dirs.
    legacy = bt.put(
        spark.createDataFrame(
            [(1, "legacy-a"), (2, "legacy-b")], "id long, v string"
        ),
        tx_time=datetime(2024, 1, 1, 0, 0, 1),
    ).withColumn(bt.TOMBSTONE, F.lit(False)).withColumn(bt.TX_SEQ, F.lit(0))
    legacy.write.mode("append").parquet(f"{root}/trades")
    assert not any(
        bt.SYS_DAY in p for p, _d, _n in os.walk(f"{root}/trades")
    )

    # Re-open the root (footer-based clock recovery) and append — the
    # new write lands in _sys_day= partition directories.
    eng = Engine(spark, root)
    basis = eng.submit_tx(
        [Put("trades", spark.createDataFrame([(3, "new-c")], "id long, v string"))]
    )
    assert any(
        bt.SYS_DAY in p for p, _d, _n in os.walk(f"{root}/trades")
    )

    db = eng.db(basis)
    hist_ids = {r["id"] for r in db.history("trades").select("id").collect()}
    cur = {(r["id"], r["v"]) for r in db.table("trades").collect()}
    assert hist_ids == {1, 2, 3}, "legacy flat files dropped from history"
    assert cur == {(1, "legacy-a"), (2, "legacy-b"), (3, "new-c")}
    # SQL over the same snapshot sees all three rows too
    assert db.sql("SELECT count(*) AS n FROM trades").collect()[0]["n"] == 3

"""Scale-operator tests: salted skew join correctness, bucketed
co-located joins (no shuffle), partitioned-write pruning."""

from __future__ import annotations

import io
import os
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from core2_spark.catalog import load_tables
from core2_spark.operators.skew import salted_count_per_key, salted_join
from core2_spark.sinks import write_bucketed_table, write_partitioned
from tests.conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_salted_join_matches_plain_join(spark):
    t = load_tables(spark, SF_DIR, ("orders", "customer"))
    plain = (
        t["orders"]
        .join(t["customer"].select("c_custkey", "c_mktsegment"),
              t["orders"].o_custkey == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"))
    )
    salted = (
        salted_join(
            t["orders"].withColumnRenamed("o_custkey", "k"),
            t["customer"].select(F.col("c_custkey").alias("k"), "c_mktsegment"),
            on="k",
            salt_buckets=4,
        )
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"))
    )
    assert {tuple(r) for r in plain.collect()} == {tuple(r) for r in salted.collect()}


def test_salted_aggregation_matches_plain(spark):
    t = load_tables(spark, SF_DIR, ("lineitem",))
    plain = {
        (r["l_returnflag"], r["n"])
        for r in t["lineitem"].groupBy("l_returnflag").agg(F.count("*").alias("n")).collect()
    }
    salted = {
        (r["l_returnflag"], r["n"])
        for r in salted_count_per_key(t["lineitem"], "l_returnflag", 4).collect()
    }
    assert plain == salted


def test_bucketed_join_needs_no_shuffle(spark):
    """Two tables bucketed on the join key: the join plans with zero
    Exchange — the co-location discipline for repeated big joins."""
    import shutil

    t = load_tables(spark, SF_DIR, ("orders", "lineitem"))
    for name in ("b_orders", "b_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(os.path.join(REPO, "spark-warehouse", name), ignore_errors=True)
    write_bucketed_table(t["orders"], "b_orders", "o_orderkey", 8)
    write_bucketed_table(
        t["lineitem"].withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem",
        "o_orderkey",
        8,
    )
    joined = (
        spark.table("b_orders")
        .hint("merge")  # force sort-merge: shows bucketing removed the shuffle
        .join(spark.table("b_lineitem"), "o_orderkey")
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert plan.count("Bucketed: true") == 2, plan
    assert joined.count() > 0


def test_partitioned_write_prunes(spark):
    t = load_tables(spark, SF_DIR, ("orders",))
    path = os.path.join(REPO, "_data", "orders_by_status")
    write_partitioned(t["orders"], path, ["o_orderstatus"])
    pruned = spark.read.parquet(path).filter(F.col("o_orderstatus") == "O")
    plan = _plan(pruned)
    # partition filter applied at scan, not as a post-filter
    assert "PartitionFilters" in plan and "o_orderstatus" in plan.split("PartitionFilters")[1].splitlines()[0]
    assert pruned.count() > 0


def test_bloom_filters_written_to_parquet(spark):
    """The bloom option must actually reach the files.  This pyarrow
    build doesn't expose bloom offsets, so assert by construction: the
    bloom-enabled write of identical data is strictly larger (the
    serialized filter), and reads return identical rows."""
    import glob
    import os

    from core2_spark.sinks import write_with_bloom_filters

    t = load_tables(spark, SF_DIR, ("orders",))
    plain_path = os.path.join(REPO, "_data", "orders_plain")
    bloom_path = os.path.join(REPO, "_data", "orders_bloom")
    one = t["orders"].coalesce(1)
    one.select("o_orderkey", "o_custkey").write.mode("overwrite").parquet(plain_path)
    write_with_bloom_filters(one, bloom_path, ["o_orderkey", "o_custkey"])
    size = lambda p: sum(  # noqa: E731
        os.path.getsize(f) for f in glob.glob(f"{p}/*.parquet")
    )
    assert size(bloom_path) > size(plain_path)
    assert (
        spark.read.parquet(bloom_path).filter(F.col("o_custkey") == 7).count()
        == spark.read.parquet(plain_path).filter(F.col("o_custkey") == 7).count()
    )


def test_sorted_layout_enables_file_skipping(spark):
    """Range-partitioned sorted layout: per-file min/max spans must be
    (near-)disjoint so range predicates prune files via footer stats."""
    import glob

    import pyarrow.parquet as pq

    from core2_spark.sinks import write_sorted_layout

    t = load_tables(spark, SF_DIR, ("orders",))
    path = os.path.join(REPO, "_data", "orders_sorted")
    write_sorted_layout(t["orders"], path, "o_orderdate", n_files=4)
    spans = []
    for f in glob.glob(f"{path}/*.parquet"):
        meta = pq.ParquetFile(f).metadata
        rg = meta.row_group(0)
        col = next(
            rg.column(i)
            for i in range(rg.num_columns)
            if rg.column(i).path_in_schema == "o_orderdate"
        )
        spans.append((col.statistics.min, col.statistics.max))
    spans.sort()
    assert len(spans) >= 3
    for (lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2  # disjoint ranges → footer stats prune files


def test_arrow_ipc_source_roundtrip(spark):
    import pyarrow as pa
    import pyarrow.feather

    from core2_spark.sources import read_arrow_ipc

    path = os.path.join(REPO, "_data", "ref.arrow")
    table = pa.table({"k": [1, 2, 3], "name": ["a", "b", "c"]})
    pa.feather.write_feather(table, path)
    df = read_arrow_ipc(spark, path)
    assert {(r["k"], r["name"]) for r in df.collect()} == {(1, "a"), (2, "b"), (3, "c")}


def test_arrow_ipc_size_guard(spark):
    import pytest

    from core2_spark.sources import read_arrow_ipc

    path = os.path.join(REPO, "_data", "ref.arrow")  # written by the roundtrip test
    with pytest.raises(ValueError, match="driver-side reference-data"):
        read_arrow_ipc(spark, path, max_bytes=10)


def test_quadratic_pair_join_block_guard(spark):
    import pytest

    from core2_spark import dedup

    docs = load_tables(spark, SF_DIR, ("documents",))["documents"]
    # real blocks are small → guard passes silently
    dedup.assert_bounded_blocks(docs, ("lang", "source"))
    # a tiny cap trips it, naming the LSH twin
    with pytest.raises(ValueError, match="dedup_ngram_jaccard_lsh"):
        dedup.assert_bounded_blocks(
            docs, ("lang",), max_block_rows=5, lsh_twin="dedup_ngram_jaccard_lsh"
        )


def test_zorder_layout_prunes_on_both_dimensions(spark):
    """Z-order clustering must shrink per-file min/max spans on BOTH
    clustered columns, so footer stats prune files for predicates on
    either — the multi-column upgrade over single-column range sort."""
    import glob

    import pyarrow.parquet as pq

    from core2_spark.sinks import write_zordered

    orders = load_tables(spark, SF_DIR, ("orders",))["orders"]
    path = os.path.join(REPO, "_data", "zorder_test")
    write_zordered(orders, path, ["o_totalprice", "o_custkey"], n_files=8)

    spans = {"o_totalprice": [], "o_custkey": []}
    glob_min = {c: float("inf") for c in spans}
    glob_max = {c: float("-inf") for c in spans}
    for f in glob.glob(path + "/*.parquet"):
        md = pq.ParquetFile(f).metadata
        for col in spans:
            lo, hi = float("inf"), float("-inf")
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                stats = next(
                    g.column(i).statistics
                    for i in range(g.num_columns)
                    if g.column(i).path_in_schema == col
                )
                lo, hi = min(lo, stats.min), max(hi, stats.max)
            spans[col].append((lo, hi))
            glob_min[col] = min(glob_min[col], lo)
            glob_max[col] = max(glob_max[col], hi)

    for col, file_spans in spans.items():
        assert len(file_spans) >= 4
        total = glob_max[col] - glob_min[col]
        avg_span = sum(hi - lo for lo, hi in file_spans) / len(file_spans)
        # unclustered files would each span ~100% of the range;
        # z-ordered files must average well under it on BOTH columns
        assert avg_span < 0.65 * total, f"{col}: avg span {avg_span} vs {total}"


def test_clustered_compact_files_cover_narrow_key_ranges(spark, tmp_path):
    """Engine.compact(sort_by=...) range-partitions + sorts the
    current-state materialization so each file's footer min/max on the
    key spans a narrow slice — the property that lets key predicates
    (mview IN-lists, point lookups) skip whole files, where an
    unsorted compact's files all span the full domain and stats prune
    nothing."""
    import os

    import pyarrow.parquet as pq

    from core2_spark.engine import Engine, Put

    eng = Engine(spark, str(tmp_path / "clustered"))
    rows = spark.range(5000).select(
        F.col("id"),
        (F.col("id") % 1000).alias("bucket"),
        (F.col("id") * 2).alias("v"),
    )
    eng.submit_tx([Put("t", rows.repartition(8))])
    path = eng.compact("t", sort_by=("bucket",), sort_files=4)

    spans = []
    for f in sorted(os.listdir(path)):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, f)).metadata
        lo, hi = None, None
        for rg in range(md.num_row_groups):
            for c in range(md.num_columns):
                col = md.row_group(rg).column(c)
                if col.path_in_schema == "bucket" and col.statistics:
                    s = col.statistics
                    lo = s.min if lo is None else min(lo, s.min)
                    hi = s.max if hi is None else max(hi, s.max)
        if lo is not None:
            spans.append((lo, hi))
    assert len(spans) >= 2  # actually clustered into multiple files
    # each file covers a narrow slice of the 0..999 domain
    assert all(hi - lo < 500 for lo, hi in spans), spans
    # and the clustered compact answers identically
    got = {(r["id"], r["bucket"], r["v"]) for r in eng.db().table("t").collect()}
    want = {(r["id"], r["bucket"], r["v"]) for r in rows.collect()}
    assert got == want

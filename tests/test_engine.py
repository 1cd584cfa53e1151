"""End-to-end Engine facade tests: the reference's three entry points
(submit-tx → basis, SQL at a basis, Datalog at a basis) round-tripping
through the real write path."""

from __future__ import annotations

import os
import shutil
from collections import Counter

import pytest

from core2_spark.engine import Delete, Engine, Erase, Put

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.join(REPO, "_data", "engine_test")


@pytest.fixture
def engine(spark):
    shutil.rmtree(ROOT, ignore_errors=True)
    return Engine(spark, ROOT)


def test_submit_tx_sql_datalog_and_time_travel(spark, engine):
    trades_v1 = spark.createDataFrame(
        [(1, "AAPL", 100.0), (2, "MSFT", 200.0), (3, "GOOG", 300.0)],
        "id long, sym string, px double",
    )
    basis1 = engine.submit_tx([Put("trades", trades_v1)])

    # current-state view at basis1
    db1 = engine.db(basis1)
    assert {(r["id"], r["px"]) for r in db1.table("trades").collect()} == {
        (1, 100.0), (2, 200.0), (3, 300.0),
    }

    # tx2: correct AAPL price (new version), delete GOOG
    fix = spark.createDataFrame([(1, "AAPL", 111.0)], "id long, sym string, px double")
    ids = spark.createDataFrame([(3,)], "id long")
    basis2 = engine.submit_tx([Put("trades", fix), Delete("trades", ids)])

    db2 = engine.db(basis2)
    assert {(r["id"], r["px"]) for r in db2.table("trades").collect()} == {
        (1, 111.0), (2, 200.0),
    }

    # repeatable reads: basis1 still answers with the old state
    assert {(r["id"], r["px"]) for r in engine.db(basis1).table("trades").collect()} == {
        (1, 100.0), (2, 200.0), (3, 300.0),
    }

    # SQL entry point over basis views (AAPL corrected to 111 < 150,
    # GOOG deleted → only MSFT survives the filter)
    rows = db2.sql("SELECT sym, px FROM trades WHERE px > 150 ORDER BY sym").collect()
    assert [(r["sym"], r["px"]) for r in rows] == [("MSFT", 200.0)]

    # Datalog entry point over the same basis
    dl_rows = db2.q(
        {
            "find": ["?sym", "?px"],
            "where": [
                ("trades", {"id": "?id", "sym": "?sym", "px": "?px"}),
                (">", "?px", 150),
            ],
        }
    ).collect()
    assert {(r["sym"], r["px"]) for r in dl_rows} == {
        (r["sym"], r["px"]) for r in rows
    }

    # history keeps every version (FOR ALL SYSTEM_TIME)
    assert engine.db(basis2).history("trades").count() == 5  # 3 puts + fix + tombstone

    # erase physically removes id=1's whole history
    basis3 = engine.submit_tx([Erase("trades", spark.createDataFrame([(1,)], "id long"))])
    db3 = engine.db(basis3)
    assert {r["id"] for r in db3.table("trades").collect()} == {2}
    assert {r["id"] for r in db3.history("trades").select("id").distinct().collect()} == {2, 3}


def test_sql_datalog_agree_on_aggregates(spark, engine):
    df = spark.createDataFrame(
        [(i, "grp%d" % (i % 3), float(i * 10)) for i in range(30)],
        "id long, g string, v double",
    )
    basis = engine.submit_tx([Put("m", df)])
    db = engine.db(basis)
    via_sql = {
        (r["g"], r["n"], r["s"])
        for r in db.sql("SELECT g, COUNT(*) AS n, SUM(v) AS s FROM m GROUP BY g").collect()
    }
    via_dl = {
        (r["g"], r["n"], r["s"])
        for r in db.q(
            {
                "find": ["?g", ("count", "?id", "n"), ("sum", "?v", "s")],
                "where": [("m", {"id": "?id", "g": "?g", "v": "?v"})],
            }
        ).collect()
    }
    assert via_sql == via_dl


def test_call_transaction_function(spark, engine):
    """core2 `:call`: a deterministic tx-fn reads the pre-tx snapshot
    and emits further ops applied in the same transaction."""
    from pyspark.sql import functions as F

    acct = spark.createDataFrame([(1, 100.0), (2, 50.0)], "id long, bal double")
    engine.submit_tx([Put("accounts", acct)])

    def apply_interest(snapshot):
        cur = snapshot.table("accounts")
        bumped = cur.withColumn("bal", F.round(F.col("bal") * 1.1, 2))
        return [Put("accounts", bumped)]

    from core2_spark.engine import Call

    basis = engine.submit_tx([Call(apply_interest)])
    got = {(r["id"], r["bal"]) for r in engine.db(basis).table("accounts").collect()}
    assert got == {(1, 110.0), (2, 55.0)}


def test_engine_sql_temporal_dialect(spark, engine):
    """FOR SYSTEM_TIME AS OF inside Engine SQL resolves against the
    version history at the basis."""
    v1 = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id long, px double")
    b1 = engine.submit_tx([Put("quotes", v1)], tx_time="2024-03-01")
    v2 = spark.createDataFrame([(1, 11.0)], "id long, px double")
    b2 = engine.submit_tx([Put("quotes", v2)], tx_time="2024-04-01")

    db = engine.db(b2)
    asof_march = db.sql(
        "SELECT id, px FROM quotes FOR SYSTEM_TIME AS OF "
        "TIMESTAMP '2024-03-15 00:00:00' ORDER BY id"
    ).collect()
    assert [(r["id"], r["px"]) for r in asof_march] == [(1, 10.0), (2, 20.0)]

    current = db.sql("SELECT id, px FROM quotes ORDER BY id").collect()
    assert [(r["id"], r["px"]) for r in current] == [(1, 11.0), (2, 20.0)]

    n_all = db.sql(
        "SELECT COUNT(*) AS n FROM quotes FOR SYSTEM_TIME ALL"
    ).collect()[0]["n"]
    assert n_all == 3


def test_retroactive_correction_app_time(spark, engine):
    """Bitemporal's killer feature: a February transaction records a
    fact valid during January (retroactive correction).  Queries asking
    "what was true in January, as we knew it in January" exclude it;
    "as we know it now" include it."""
    jan_fact = spark.createDataFrame([(1, 100.0)], "id long, px double")
    engine.submit_tx([Put("marks", jan_fact)], tx_time="2024-01-10")

    correction = spark.createDataFrame([(1, 95.0)], "id long, px double")
    engine.submit_tx(
        [Put("marks", correction, app_start="2024-01-01", app_end="2024-02-01")],
        tx_time="2024-02-10",
    )
    db = engine.db()

    # January knowledge of January: the original mark
    as_known_jan = db.table("marks", system_time="2024-01-20", app_time="2024-01-20")
    assert [(r["id"], r["px"]) for r in as_known_jan.collect()] == [(1, 100.0)]

    # current knowledge of January: the correction (newer system
    # version covering Jan 20) wins
    corrected = db.table("marks", system_time="2024-03-01", app_time="2024-01-20")
    assert [(r["id"], r["px"]) for r in corrected.collect()] == [(1, 95.0)]

    # current knowledge of March: correction expired end of January →
    # the open-ended original carries forward
    as_of_march = db.table("marks", system_time="2024-03-01", app_time="2024-03-01")
    assert [(r["id"], r["px"]) for r in as_of_march.collect()] == [(1, 100.0)]


def test_compact_current_state_routing(spark, engine):
    """compact() materializes current state; default reads at the
    compacted clock become plain scans (no window), stale compacts are
    bypassed, explicit as-of reads never use the compact."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    def plan_of(df):
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    v1 = spark.createDataFrame(
        [(1, "AAPL", 100.0), (2, "MSFT", 200.0)], "id long, sym string, px double"
    )
    engine.submit_tx([Put("trades", v1)], tx_time="2024-01-01 00:00:01")
    fix = spark.createDataFrame([(1, "AAPL", 111.0)], "id long, sym string, px double")
    engine.submit_tx([Put("trades", fix)], tx_time="2024-01-01 00:00:02")
    engine.compact("trades")

    fresh = engine.db().table("trades")
    assert {(r["id"], r["px"]) for r in fresh.collect()} == {(1, 111.0), (2, 200.0)}
    assert "row_number" not in plan_of(fresh)  # plain scan, no window

    # explicit as-of: always the live resolution (window present)
    asof = engine.db().table("trades", system_time="2024-01-01 00:00:01")
    assert "row_number" in plan_of(asof)
    assert {(r["id"], r["px"]) for r in asof.collect()} == {(1, 100.0), (2, 200.0)}

    # a newer tx makes the compact stale → fallback to live resolution
    fix2 = spark.createDataFrame([(2, "MSFT", 222.0)], "id long, sym string, px double")
    engine.submit_tx([Put("trades", fix2)], tx_time="2024-01-01 00:00:03")
    stale = engine.db().table("trades")
    assert "row_number" in plan_of(stale)
    assert {(r["id"], r["px"]) for r in stale.collect()} == {(1, 111.0), (2, 222.0)}

    # re-compact at the new clock (overwrites the old compact safely)
    engine.compact("trades")
    again = engine.db().table("trades")
    assert "row_number" not in plan_of(again)
    assert {(r["id"], r["px"]) for r in again.collect()} == {(1, 111.0), (2, 222.0)}

    # compaction dir must not be listed as a table
    assert "_current" not in engine._all_tables()


def test_changes_feed(spark, engine):
    """Snapshot.changes: versions committed in (since, until], tagged
    put/delete in log order — the downstream-consumer CDC view."""
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    engine.submit_tx([Put("t", v1)], tx_time="2024-01-01 00:00:01")
    v2 = spark.createDataFrame([(1, "a2")], "id long, v string")
    engine.submit_tx([Put("t", v2)], tx_time="2024-01-01 00:00:02")
    ids = spark.createDataFrame([(2,)], "id long")
    engine.submit_tx([Delete("t", ids)], tx_time="2024-01-01 00:00:03")

    db = engine.db()
    # everything after tx1
    feed = db.changes("t", since="2024-01-01 00:00:01")
    got = {(r["id"], r["_change"]) for r in feed.collect()}
    assert got == {(1, "put"), (2, "delete")}
    # bounded window: only tx2
    feed2 = db.changes("t", since="2024-01-01 00:00:01", until="2024-01-01 00:00:02")
    assert {(r["id"], r["_change"]) for r in feed2.collect()} == {(1, "put")}
    # a consumer replaying the full feed from epoch sees log order
    full = db.changes("t", since="2000-01-01 00:00:00")
    assert full.count() == 4


def test_optimize_compacts_files_preserving_history(spark, engine):
    """optimize() must shrink the file count without changing any
    query answer — current state, history, and as-of all identical."""
    import glob

    for i in range(5):
        df = spark.createDataFrame([(i, f"v{i}")], "id long, v string")
        engine.submit_tx([Put("t", df)], tx_time=f"2024-01-01 00:00:0{i + 1}")
    ids = spark.createDataFrame([(0,)], "id long")
    engine.submit_tx([Delete("t", ids)], tx_time="2024-01-01 00:00:06")

    before_files = len(glob.glob(f"{ROOT}/t/**/*.parquet", recursive=True))
    db = engine.db()
    cur_before = {(r["id"], r["v"]) for r in db.table("t").collect()}
    hist_before = db.history("t").count()
    asof_before = {
        (r["id"], r["v"])
        for r in db.table("t", system_time="2024-01-01 00:00:03").collect()
    }

    engine.optimize("t", target_files=1)
    after_files = len(glob.glob(f"{ROOT}/t/**/*.parquet", recursive=True))
    assert after_files < before_files and after_files == 1

    db2 = engine.db()
    assert {(r["id"], r["v"]) for r in db2.table("t").collect()} == cur_before
    assert db2.history("t").count() == hist_before
    assert {
        (r["id"], r["v"])
        for r in db2.table("t", system_time="2024-01-01 00:00:03").collect()
    } == asof_before


class _NoScanSpark:
    """Proxy that fails the test the moment anything touches
    ``spark.read`` — opening a database must be metadata-only (a
    100 TB version table cannot afford a max(system_time_start)
    column scan before the first query)."""

    def __init__(self, real):
        self._real = real

    def __getattr__(self, name):
        if name == "read":
            raise AssertionError("Engine open ran a Spark read — open must be metadata-only")
        return getattr(self._real, name)


def test_reopen_is_metadata_only_and_recovers_clock(spark, engine):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    engine.submit_tx([Put("t1", df)])
    engine.submit_tx([Put("t2", df)], tx_time="2024-06-01T00:00:00")
    expected = engine._last_tx_time

    # normal path: _log.json manifest — zero Spark activity on open
    eng2 = Engine(_NoScanSpark(spark), ROOT)
    assert eng2._last_tx_time == expected
    assert eng2._tx_counter == engine._tx_counter

    # legacy root (no manifest): the clock comes from parquet FOOTER
    # statistics via pyarrow, the same recovered clock; the schemas no
    # log records are inferred once, at open (Engine._adopt_schemas)
    import os

    os.remove(os.path.join(ROOT, "_log.json"))
    eng3 = Engine(spark, ROOT)
    assert eng3._last_tx_time == expected
    assert eng3._table_schemas == engine._table_schemas


def test_erase_and_optimize_leave_no_temp_dirs(spark, engine):
    df = spark.createDataFrame(
        [(i, f"s{i}") for i in range(10)], "id long, v string"
    )
    engine.submit_tx([Put("t", df)])
    ids = spark.createDataFrame([(1,), (2,)], "id long")
    engine.submit_tx([Erase("t", ids)])
    engine.optimize("t", target_files=2)
    db = engine.db()
    assert db.table("t").count() == 8
    import os

    leftovers = [n for n in os.listdir(ROOT) if n.startswith(("_tmp_", "_old_"))]
    assert not leftovers, leftovers


def test_optimize_zorder_clusters_and_preserves_answers(spark, engine):
    df = spark.createDataFrame(
        [(i, f"s{i}") for i in range(40)], "id long, v string"
    )
    engine.submit_tx([Put("t", df)])
    db = engine.db()
    before = {(r["id"], r["v"]) for r in db.table("t").collect()}
    engine.optimize("t", target_files=2, zorder_by=("id",))
    db2 = engine.db()
    assert {(r["id"], r["v"]) for r in db2.table("t").collect()} == before
    # the clustering key never leaks into the stored schema
    assert "_z" not in db2.history("t").columns


def test_concurrent_writer_detected(spark, engine):
    """The tx log is single-writer: a second Engine committing to the
    same root makes the first engine's next commit fail loudly instead
    of silently overwriting the log head."""
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    engine.submit_tx([Put("t", df)])

    interloper = Engine(spark, ROOT)
    interloper.submit_tx([Put("t", df)])

    with pytest.raises(RuntimeError, match="concurrent writer"):
        engine.submit_tx([Put("t", df)])

    # a fresh engine over the same root continues from the new head
    resumed = Engine(spark, ROOT)
    basis = resumed.submit_tx([Put("t", df)])
    assert resumed.db(basis).history("t").count() == 3


def test_conflict_rollback_leaves_no_phantom_rows(spark, engine):
    """ADVICE r4 (medium): a transaction that loses the persist-time
    single-writer race must leave ZERO visible rows — the pre-write
    check's guarantee — not a phantom partially-committed transaction.
    The Call op commits an interloper transaction between this
    engine's pre-write check and its persist, landing exactly in the
    window the advisory identified."""
    from core2_spark.engine import Call

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    engine.submit_tx([Put("t", df)])

    interloper = Engine(spark, ROOT)

    def sabotage(_snap):
        interloper.submit_tx(
            [Put("t", spark.createDataFrame([(3, "c")], "id long, v string"))]
        )
        return [
            Erase("t", spark.createDataFrame([(1,)], "id long")),
            Put("t", spark.createDataFrame([(9, "phantom")], "id long, v string")),
        ]

    with pytest.raises(RuntimeError, match="concurrent writer"):
        engine.submit_tx([Call(sabotage)])

    # The losing transaction left nothing: no phantom put, and the
    # erase it performed was rolled back (id=1's history restored).
    fresh = Engine(spark, ROOT)
    hist = fresh.db().history("t")
    ids = {r["id"] for r in hist.select("id").collect()}
    assert ids == {1, 2, 3}, f"phantom or lost rows after failed tx: {ids}"
    vals = {r["v"] for r in fresh.db().table("t").collect()}
    assert vals == {"a", "b", "c"}


def test_failed_tx_restores_clock_for_next_commit(spark, engine):
    """A non-conflict failure mid-transaction rolls the logical clock
    back too, so the writer keeps committing as if the failed tx never
    happened."""
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    engine.submit_tx([Put("t", df)])

    class Boom(Exception):
        pass

    from core2_spark.engine import Call

    def explode(_snap):
        raise Boom()

    with pytest.raises(Boom):
        engine.submit_tx([Call(explode)])

    basis = engine.submit_tx(
        [Put("t", spark.createDataFrame([(2, "b")], "id long, v string"))]
    )
    assert engine.db(basis).history("t").count() == 2


def test_crash_mid_rewrite_recovered_on_open(spark, engine):
    """ADVICE r4 (medium): between _rewrite_atomic's two renames the
    table dir is absent and the data lives only in _old_<name>; a
    crash there must be repaired at the next open, not rmtree'd."""
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    engine.submit_tx([Put("t", df)])

    # Simulate the crash window: table renamed away, swap never done.
    import os

    path = os.path.join(ROOT, "t")
    os.rename(path, os.path.join(ROOT, "_old_t"))
    assert not os.path.exists(path)

    # recovery is age-gated (a young strand may be a live peer's
    # in-flight swap): reclaim immediately for the test
    recovered = Engine(spark, ROOT, reclaim_after_s=0.0)
    assert os.path.exists(path)
    assert not os.path.exists(os.path.join(ROOT, "_old_t"))
    assert {r["id"] for r in recovered.db().table("t").collect()} == {1, 2}


def test_refresh_resumes_after_other_writer(spark, engine):
    """Engine.refresh() re-reads the log head so a writer tripped by
    the single-writer token resumes after the other writer instead of
    erroring permanently."""
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    engine.submit_tx([Put("t", df)])

    other = Engine(spark, ROOT)
    other.submit_tx([Put("t", spark.createDataFrame([(2, "b")], "id long, v string"))])

    with pytest.raises(RuntimeError, match="concurrent writer"):
        engine.submit_tx([Put("t", df)])

    engine.refresh()
    basis = engine.submit_tx(
        [Put("t", spark.createDataFrame([(3, "c")], "id long, v string"))]
    )
    assert engine.db(basis).history("t").count() == 3
    # and the resumed writer's clock is after the other writer's
    assert {r["id"] for r in engine.db(basis).table("t").collect()} == {1, 2, 3}


def test_auto_compaction_bounds_file_count(spark):
    """N small appends with auto_compact_files=N keep the table's
    parquet file count bounded while answers stay identical."""
    import os

    root = ROOT + "_autocompact"
    shutil.rmtree(root, ignore_errors=True)
    eng = Engine(spark, root, auto_compact_files=6)
    for i in range(10):
        eng.submit_tx(
            [Put("t", spark.createDataFrame([(i, f"v{i}")], "id long, v string"))]
        )

    n_files = sum(
        1
        for _r, _d, names in os.walk(os.path.join(root, "t"))
        for f in names
        if f.endswith(".parquet")
    )
    assert n_files <= 6, f"auto-compaction did not bound files: {n_files}"
    rows = {(r["id"], r["v"]) for r in eng.db().table("t").collect()}
    assert rows == {(i, f"v{i}") for i in range(10)}


def test_engine_open_leaves_session_parquet_conf_alone(spark, engine):
    """ADVICE r4 (low): opening an Engine must not change parquet
    timestamp encoding for unrelated writes in the shared session —
    the TIMESTAMP_MICROS requirement is scoped to engine writes."""
    key = "spark.sql.parquet.outputTimestampType"
    before = spark.conf.get(key)
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    engine.submit_tx([Put("t", df)])
    assert spark.conf.get(key) == before


def test_failed_tx_removes_tables_it_created(spark, engine):
    """Rollback covers table creation: a failed transaction whose Put
    targeted a brand-new table must remove the table directory, not
    leave an empty/partial table visible to _all_tables."""
    import os

    from core2_spark.engine import Call

    df = spark.createDataFrame([(1, "a")], "id long, v string")
    engine.submit_tx([Put("t", df)])

    interloper = Engine(spark, ROOT)

    def sabotage(_snap):
        interloper.submit_tx([Put("t", df)])
        return [
            Put("brand_new", spark.createDataFrame([(7, "x")], "id long, v string"))
        ]

    with pytest.raises(RuntimeError, match="concurrent writer"):
        engine.submit_tx([Call(sabotage)])

    assert not os.path.exists(os.path.join(ROOT, "brand_new"))
    fresh = Engine(spark, ROOT)
    assert "brand_new" not in fresh._all_tables()
    assert fresh.db().history("t").count() == 2


def test_replica_converges_by_applying_change_feed(spark):
    """§3.3 log shipping: a replica engine that tails the source's
    changes() feed in disjoint (since, until] slices converges to the
    source's exact bitemporal state — current state, history, AND
    as-of reads answer identically."""
    src_root, dst_root = ROOT + "_cdc_src", ROOT + "_cdc_dst"
    shutil.rmtree(src_root, ignore_errors=True)
    shutil.rmtree(dst_root, ignore_errors=True)
    src = Engine(spark, src_root)
    dst = Engine(spark, dst_root)

    src.submit_tx(
        [Put("t", spark.createDataFrame(
            [(1, "a"), (2, "b")], "id long, v string"))],
        tx_time="2024-01-10 00:00:00",
    )
    src.submit_tx(
        [Put("t", spark.createDataFrame([(1, "a2")], "id long, v string"))],
        tx_time="2024-02-10 00:00:00",
    )
    src.submit_tx(
        [Delete("t", spark.createDataFrame([(2,)], "id long"))],
        tx_time="2024-03-10 00:00:00",
    )

    # two disjoint slices, applied in log order
    feed = src.db()
    dst.apply_changes(
        "t", feed.changes("t", since="2024-01-01", until="2024-02-01")
    )
    dst.apply_changes(
        "t", feed.changes("t", since="2024-02-01", until="2024-12-31")
    )

    s_db, d_db = src.db(), dst.db()
    cur = lambda db: {(r["id"], r["v"]) for r in db.table("t").collect()}
    assert cur(d_db) == cur(s_db) == {(1, "a2")}
    hist = lambda db: {
        (r["id"], r["v"], r["system_time_start"])
        for r in db.history("t").collect()
    }
    assert hist(d_db) == hist(s_db)
    asof = lambda db: {
        (r["id"], r["v"])
        for r in db.table(
            "t", system_time="2024-02-15", app_time="2024-02-15"
        ).collect()
    }
    assert asof(d_db) == asof(s_db) == {(1, "a2"), (2, "b")}
    # the replica's clock advanced to the feed head: new local writes
    # land strictly after the replicated history
    b = dst.submit_tx(
        [Put("t", spark.createDataFrame([(3, "c")], "id long, v string"))]
    )
    assert dst.db(b).table("t").count() == 2  # id 1 + new id 3


def test_schema_cache_serves_evolved_tables_without_footer_sweep(spark):
    """Round-5 merged-schema cache: the engine folds every written
    schema into _log.json, so basis reads pass an explicit schema
    (absent fields NULL) instead of a per-file mergeSchema footer
    sweep.  Schema evolution, tombstones (narrow schema), re-open from
    disk, and rollback of the cache on a failed tx all behave."""
    import json as _json
    import os

    root = ROOT + "_schemas"
    shutil.rmtree(root, ignore_errors=True)
    eng = Engine(spark, root)
    eng.submit_tx([Put("t", spark.createDataFrame([(1, "a")], "id long, v string"))])
    eng.submit_tx(
        [Put("t", spark.createDataFrame(
            [(2, "b", 9.5)], "id long, v string, extra double"))]
    )
    eng.submit_tx([Delete("t", spark.createDataFrame([(1,)], "id long"))])

    # the cache is populated and persisted
    with open(os.path.join(root, "_log.json")) as f:
        meta = _json.load(f)
    assert "t" in meta["schemas"] and meta["schemas"]["t"] is not None
    cached_fields = {
        f["name"] for f in _json.loads(meta["schemas"]["t"])["fields"]
    }
    assert {"id", "v", "extra", "app_time_start", "_tombstone"} <= cached_fields

    db = eng.db()
    assert db.basis.schemas.get("t") is not None
    hist = {(r["id"], r["v"], r["extra"]) for r in
            db.history("t").select("id", "v", "extra").collect()}
    assert (1, "a", None) in hist and (2, "b", 9.5) in hist
    assert {(r["id"], r["extra"]) for r in db.table("t").collect()} == {(2, 9.5)}

    # a re-opened engine reads the cache back from disk
    eng2 = Engine(spark, root)
    assert eng2.db().basis.schemas.get("t") is not None
    assert eng2.db().table("t").count() == 1

    # failed transactions roll the cache back with everything else
    from core2_spark.engine import Call

    interloper = Engine(spark, root)

    def sabotage(_snap):
        interloper.submit_tx(
            [Put("t", spark.createDataFrame([(3, "c")], "id long, v string"))]
        )
        return [
            Put("t", spark.createDataFrame(
                [(4, "d", True)], "id long, v string, phantom_col boolean"))
        ]

    before = dict(eng2._table_schemas)
    with pytest.raises(RuntimeError, match="concurrent writer"):
        eng2.submit_tx([Call(sabotage)])
    assert eng2._table_schemas == before
    assert "phantom_col" not in _json.dumps(eng2._table_schemas)

    # a legacy root the engine didn't create is adopted at open: its
    # inferred schema is recorded, and reads and writes use it
    legacy = ROOT + "_schemas_legacy"
    shutil.rmtree(legacy, ignore_errors=True)
    os.makedirs(os.path.join(legacy, "old_table"))
    from core2_spark import temporal as bt2
    from pyspark.sql import functions as F2

    bt2.put(
        spark.createDataFrame([(1, "x")], "id long, v string"),
        tx_time="2024-01-01",
    ).withColumn(bt2.TOMBSTONE, F2.lit(False)).withColumn(
        bt2.TX_SEQ, F2.lit(0)
    ).write.mode("append").parquet(os.path.join(legacy, "old_table"))
    leg = Engine(spark, legacy)
    adopted = _json.loads(leg._table_schemas["old_table"])
    assert {"id", "v", "_tombstone", "_tx_seq"} <= {f["name"] for f in adopted["fields"]}
    leg.submit_tx(
        [Put("old_table", spark.createDataFrame([(2, "y")], "id long, v string"))]
    )
    widened = {f["name"] for f in _json.loads(leg._table_schemas["old_table"])["fields"]}
    assert {"id", "v", "_tombstone", "_tx_seq", "_row_seq"} <= widened  # adopted
    assert leg.db().history("old_table").count() == 2


@pytest.mark.parametrize("shape", ["struct", "array_of_struct", "records"])
def test_struct_widening_stays_recorded(spark, tmp_path, shape):
    """A write that adds a field to a struct (also one inside an array)
    widens the recorded schema instead of dropping it: the table stays
    recorded, so reads keep passing an explicit schema, and the older
    file reads the new field as NULL."""
    eng = Engine(spark, str(tmp_path / "db"))
    if shape == "records":
        eng.sql_dml("INSERT INTO t RECORDS {id: 1, nest: {a: 1}}")
        eng.sql_dml("INSERT INTO t RECORDS {id: 2, nest: {a: 2, b: 'x'}}")
        b_of = lambda r: r["nest"]["b"]
    elif shape == "struct":
        for ddl, row in (
            ("id long, nest struct<a: long>", (1, (1,))),
            ("id long, nest struct<a: long, b: string>", (2, (2, "x"))),
        ):
            eng.submit_tx([Put("t", spark.createDataFrame([row], ddl))])
        b_of = lambda r: r["nest"]["b"]
    else:
        for ddl, row in (
            ("id long, nest array<struct<a: long>>", (1, [(1,)])),
            ("id long, nest array<struct<a: long, b: string>>", (2, [(2, "x")])),
        ):
            eng.submit_tx([Put("t", spark.createDataFrame([row], ddl))])
        b_of = lambda r: r["nest"][0]["b"]
    for e in (eng, Engine(spark, eng.root)):
        assert e._table_schemas["t"] is not None
        assert '"b"' in e.db().basis.schemas["t"]
        rows = e.db().table("t").collect()
        assert sorted((r["id"], b_of(r)) for r in rows) == [(1, None), (2, "x")]


def _foreign_versions(spark, path, ddl, rows, at):
    """Append version rows to ``path`` the way a writer other than the
    engine would: plain parquet, no log, no pending manifest."""
    from pyspark.sql import functions as F2

    from core2_spark import temporal as bt2

    bt2.put(spark.createDataFrame(rows, ddl), tx_time=at).withColumn(
        bt2.TOMBSTONE, F2.lit(False)
    ).write.mode("append").parquet(path)


def test_open_adopts_a_root_the_engine_did_not_write(spark, tmp_path):
    """Version files written by something else are adopted at open: one
    inference records the merged schema, reads use it, the next commit
    persists it and a later open runs no Spark read.  A table whose
    files do not merge is left out and does not stop the open."""
    import json as _json
    import os

    root = str(tmp_path / "foreign")
    path = os.path.join(root, "t")
    _foreign_versions(spark, path, "id long, v string", [(1, "a")], "2024-01-01")
    _foreign_versions(spark, path, "id long, w double", [(2, 2.5)], "2024-01-02")
    bad = os.path.join(root, "bad")
    _foreign_versions(spark, bad, "id long", [(1,)], "2024-01-01")
    _foreign_versions(spark, bad, "id string", [("x",)], "2024-01-01")
    with pytest.warns(RuntimeWarning, match="'bad' left unread"):
        eng = Engine(spark, root)
    assert set(eng._table_schemas) == {"t"}
    assert {"id", "v", "w"} <= {
        f["name"] for f in _json.loads(eng._table_schemas["t"])["fields"]
    }
    assert sorted(tuple(r) for r in eng.db().table("t").select("id", "v", "w").collect()) == [
        (1, "a", None), (2, None, 2.5)
    ]
    eng.submit_tx([Put("u", spark.createDataFrame([(1,)], "id long"))])
    with open(os.path.join(root, "_log.json")) as f:
        assert _json.load(f)["schemas"]["t"] == eng._table_schemas["t"]
    shutil.rmtree(bad)
    reopened = Engine(_NoScanSpark(spark), root)
    assert reopened._table_schemas == eng._table_schemas


def test_a_table_whose_files_do_not_merge_is_refused(spark, tmp_path):
    """A table left unadopted at open has no record, so a write would
    record only its own columns and every later read or rewrite would
    drop the columns only the old files hold: writes, rewrites and
    what-ifs of it are refused and leave its files untouched, and a
    refresh neither infers it again nor warns again."""
    import os
    import warnings

    root = str(tmp_path / "foreign")
    bad = os.path.join(root, "bad")
    _foreign_versions(spark, bad, "id long, c long", [(1, 7)], "2024-01-01")
    _foreign_versions(spark, bad, "id long, c string", [(2, "x")], "2024-01-01")

    def files():
        return {
            os.path.join(d, n): os.path.getsize(os.path.join(d, n))
            for d, _s, ns in os.walk(bad) for n in ns
        }

    before = files()
    with pytest.warns(RuntimeWarning, match="'bad' left unread"):
        eng = Engine(spark, root)
    put = Put("bad", spark.createDataFrame([(3, "v")], "id long, v string"))
    with pytest.raises(ValueError, match="do not merge"):
        eng.submit_tx([put])
    with pytest.raises(ValueError, match="do not merge"):
        eng.db().with_tx([put])
    with pytest.raises(ValueError, match="do not merge"):
        eng.submit_tx([Erase("bad", spark.createDataFrame([(1,)], "id long"))])
    with pytest.raises(ValueError, match="do not merge"):
        eng.optimize("bad")
    with pytest.raises(ValueError, match="do not merge"):
        eng.vacuum("bad", older_than="2024-06-01")
    assert files() == before
    eng.submit_tx([Put("u", spark.createDataFrame([(1,)], "id long"))])
    assert set(eng._table_schemas) == {"u"}
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        eng.refresh()
    with pytest.raises(ValueError, match="do not merge"):
        eng.submit_tx([put])
    assert files() == before


def test_a_first_write_onto_files_the_open_did_not_see_conflicts(spark, tmp_path):
    """Files that appear in a table after the open, with no record,
    are a concurrent writer's: a first write onto them is refused as a
    conflict instead of recording its own columns alone, and after a
    refresh adopts them the write keeps every column."""
    import os

    from core2_spark.engine import ConcurrentWriterError

    root = str(tmp_path / "db")
    eng = Engine(spark, root)
    _foreign_versions(
        spark, os.path.join(root, "late"), "id long, c long", [(1, 7)], "2024-01-01"
    )
    put = Put("late", spark.createDataFrame([(2, "v")], "id long, v string"))
    with pytest.raises(ConcurrentWriterError, match="refresh"):
        eng.submit_tx([put])
    eng.refresh()
    eng.submit_tx([put])
    assert sorted(tuple(r) for r in eng.db().table("late").select("id", "c", "v").collect()) == [
        (1, 7, None), (2, None, "v")
    ]


def test_adoption_leaves_out_files_of_a_pending_transaction(spark, tmp_path):
    """Files a pending manifest lists belong to a transaction the log
    does not hold and that may still roll back: adoption, at open and
    at refresh, infers no type from them, and a table whose only files
    are pending stays unrecorded."""
    import json as _json
    import os
    from datetime import datetime

    from pyspark.sql import functions as FF

    from core2_spark import temporal as btmod

    root = str(tmp_path / "db")
    eng = Engine(spark, root)
    eng.submit_tx([Put("t", spark.createDataFrame([(1, "a")], "id long, v string"))])
    log = os.path.join(root, "_log.json")
    with open(log) as f:
        meta = _json.load(f)
    del meta["schemas"]  # a log written before schemas were recorded
    with open(log, "w") as f:
        _json.dump(meta, f)

    # a live peer mid-transaction: manifest written, files published,
    # log not yet advanced
    peer = Engine(spark, root)
    t_peer = datetime.fromisoformat("2030-01-01 00:00:01")
    pending = peer._pending_path()
    published = []
    for table, ddl, row in [
        ("t", "id long, v string, phantom_col boolean", (2, "b", True)),
        ("n", "id long, w double", (1, 2.5)),
    ]:
        rows = (
            btmod.put(spark.createDataFrame([row], ddl), tx_time=t_peer)
            .withColumn(btmod.TOMBSTONE, FF.lit(False))
            .withColumn(btmod.TX_SEQ, FF.lit(0))
            .withColumn(btmod.ROW_SEQ, FF.monotonically_increasing_id())
        )
        path = os.path.join(root, table)
        staging, moves = peer._stage_rows(path, rows)
        published += [d for _s, d in moves]
        peer._write_pending(pending, t_peer, published, [])
        peer._publish_staged(path, staging, moves)

    for opened in (Engine(spark, root), eng):
        if opened is eng:
            eng.refresh()
        assert set(opened._table_schemas) == {"t"}
        assert "phantom_col" not in opened._table_schemas["t"]
    eng.submit_tx([Put("u", spark.createDataFrame([(1,)], "id long"))])
    with open(log) as f:
        persisted = _json.load(f)["schemas"]
    assert set(persisted) == {"t", "u"}
    assert "phantom_col" not in persisted["t"]


@pytest.mark.parametrize("via", ["ops", "call"])
def test_erase_then_a_lazy_read_of_the_table(spark, tmp_path, via):
    """An op written after an Erase may read the files the Erase's swap
    removes (a Put of the pre-transaction rows, a Call's lazy ops): the
    transaction computes it before the swap."""
    from core2_spark.engine import Call

    eng = Engine(spark, str(tmp_path / "db"))
    eng.submit_tx([Put("u", spark.createDataFrame(
        [(i, f"v{i}") for i in range(1, 7)], "id long, v string"))])
    ids = spark.createDataFrame([(5,), (6,)], "id long")
    if via == "ops":
        pre = eng.db()
        ops = [Erase("u", ids), Put("u", pre.table("u").filter("id = 5"))]
    else:
        ops = [Call(lambda snap: [
            Erase("u", ids), Put("u", snap.table("u").filter("id = 5"))
        ])]
    eng.submit_tx(ops)
    db = eng.db()
    assert sorted(tuple(r) for r in db.table("u").collect()) == [
        (i, f"v{i}") for i in range(1, 6)
    ]
    assert db.history("u").filter("id = 5").count() == 1  # the re-put only


@pytest.mark.slow
def test_randomized_transaction_sequence_differential(spark):
    """Hardening for the round-5 write-path machinery (rollback,
    schema cache, manifest pruning, deferred Erase cleanup): a fixed-
    seed random sequence of transactions — multi-op Puts (with schema
    evolution), Deletes, Erases, and injected FAILING transactions —
    must leave the engine in exactly the state of a clean engine that
    replays only the successful transactions.  Compared on history,
    current state, an as-of read, and the persisted schema cache."""
    import random

    from core2_spark.engine import Call

    rng = random.Random(20240814)
    root_a = ROOT + "_fuzz_a"
    root_b = ROOT + "_fuzz_b"
    shutil.rmtree(root_a, ignore_errors=True)
    shutil.rmtree(root_b, ignore_errors=True)
    a = Engine(spark, root_a)
    b = Engine(spark, root_b)

    def mk_rows(ids, with_extra):
        if with_extra:
            return spark.createDataFrame(
                [(i, f"v{i}", float(i)) for i in ids],
                "id long, v string, extra double",
            )
        return spark.createDataFrame([(i, f"v{i}") for i in ids], "id long, v string")

    committed = []  # (ops-recipe, tx_time) replayed on b afterwards
    t = 0
    for step in range(10):
        t += 1
        tx_time = f"2024-0{1 + t // 28}-{1 + t % 28:02d} 00:00:00"
        recipe = []
        for _ in range(rng.randint(1, 3)):
            kind = rng.choice(["put", "put", "delete", "erase"])
            ids = rng.sample(range(8), rng.randint(1, 3))
            recipe.append((kind, ids, rng.random() < 0.3))

        def build(engine_obj):
            ops = []
            for kind, ids, extra in recipe:
                if kind == "put":
                    ops.append(Put("t", mk_rows(ids, extra)))
                elif kind == "delete":
                    ops.append(
                        Delete("t", spark.createDataFrame([(i,) for i in ids], "id long"))
                    )
                else:
                    ops.append(
                        Erase("t", spark.createDataFrame([(i,) for i in ids], "id long"))
                    )
            return ops

        # interleave compaction on A only: reads after this go through
        # fresh-compact, merge-on-read, or (post-Erase) invalidation —
        # B never compacts, so equality proves those paths exact
        if step in (2, 5, 7):
            try:
                a.compact("t")
            except Exception:
                pass  # table may not exist yet at step 2

        fail = step in (3, 6, 8)  # deterministic failure injection
        if fail:
            interloper = Engine(spark, root_a)

            def sabotage(_snap, _ops=build(a)):
                interloper.submit_tx(
                    [Put("noise", mk_rows([99], False))], tx_time=tx_time
                )
                return _ops

            with pytest.raises(RuntimeError, match="concurrent writer"):
                a.submit_tx([Call(sabotage)])
            a.refresh()
            committed.append(("noise_put", tx_time))
        else:
            a.submit_tx(build(a), tx_time=tx_time)
            committed.append((recipe, tx_time))

    # clean replay of only the successful transactions
    for recipe, tx_time in committed:
        if recipe == "noise_put":
            b.submit_tx([Put("noise", mk_rows([99], False))], tx_time=tx_time)
        else:
            ops = []
            for kind, ids, extra in recipe:
                if kind == "put":
                    ops.append(Put("t", mk_rows(ids, extra)))
                elif kind == "delete":
                    ops.append(
                        Delete("t", spark.createDataFrame([(i,) for i in ids], "id long"))
                    )
                else:
                    ops.append(
                        Erase("t", spark.createDataFrame([(i,) for i in ids], "id long"))
                    )
            b.submit_tx(ops, tx_time=tx_time)

    da, db_ = a.db(), b.db()
    key = lambda df: sorted(
        (r["id"], str(r["v"]), str(r["system_time_start"]), str(r["_tombstone"]))
        for r in df.collect()
    )
    assert key(
        da.history("t").select("id", "v", "system_time_start", "_tombstone")
    ) == key(
        db_.history("t").select("id", "v", "system_time_start", "_tombstone")
    )
    cur = lambda db: sorted((r["id"], r["v"]) for r in db.table("t").collect())
    assert cur(da) == cur(db_)
    asof = lambda db: sorted(
        (r["id"], r["v"])
        for r in db.table("t", system_time="2024-01-06", app_time="2024-01-06").collect()
    )
    assert asof(da) == asof(db_)
    assert a._table_schemas == b._table_schemas


def test_bloom_filter_columns_written_and_answers_unchanged(spark):
    """SURVEY §4 bloom parity: core2 keeps a bloom filter per
    column/block [upstream: bloom.clj]; the Parquet analogue is the
    writer option the engine now applies for its configured
    point-lookup columns.  The bloom is physically present (file size
    grows by the filter bytes vs the same data without) and answers
    are unchanged."""
    import os

    def total_size(root):
        return sum(
            os.path.getsize(os.path.join(r, n))
            for r, _d, ns in os.walk(root)
            for n in ns
            if n.endswith(".parquet")
        )

    rows = spark.range(0, 20000).selectExpr("id", "id * 2 AS v")
    plain_root, bloom_root = ROOT + "_nobloom", ROOT + "_bloom"
    shutil.rmtree(plain_root, ignore_errors=True)
    shutil.rmtree(bloom_root, ignore_errors=True)
    plain = Engine(spark, plain_root)
    bloomed = Engine(spark, bloom_root, bloom_filter_columns=("id",))
    plain.submit_tx([Put("t", rows)], tx_time="2024-01-01 00:00:01")
    bloomed.submit_tx([Put("t", rows)], tx_time="2024-01-01 00:00:01")

    assert total_size(bloom_root) > total_size(plain_root) + 10_000, (
        total_size(bloom_root),
        total_size(plain_root),
    )
    point = bloomed.db().table("t").filter("id = 12345").collect()
    assert [(r["id"], r["v"]) for r in point] == [(12345, 24690)]
    # the bloom option survives compaction rewrites too
    bloomed.optimize("t", target_files=1)
    assert total_size(bloom_root) > 0
    assert bloomed.db().table("t").filter("id = 777").collect()[0]["v"] == 1554


def test_merge_on_read_stale_compact(spark):
    """Round-5 merge-on-read: with a STALE compact, the default read
    resolves only ids touched since the compact and anti-joins the
    rest from the compact — answers identical to live resolution, and
    the plan actually reads the _current directory."""
    root = ROOT + "_mor"
    shutil.rmtree(root, ignore_errors=True)
    eng = Engine(spark, root)
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(50)], "id long, v string"
    )
    eng.submit_tx([Put("t", base)], tx_time="2024-01-01 00:00:01")
    eng.compact("t")

    # post-compact delta: update 3 ids, delete 2, insert 1 new
    eng.submit_tx(
        [
            Put("t", spark.createDataFrame(
                [(1, "upd1"), (2, "upd2"), (3, "upd3"), (100, "new")],
                "id long, v string")),
            Delete("t", spark.createDataFrame([(10,), (11,)], "id long")),
        ],
        tx_time="2024-01-02 00:00:01",
    )

    db = eng.db()
    merged = db.table("t")
    assert any("_current" in f for f in merged.inputFiles()), "merge path not taken"
    got = {(r["id"], r["v"]) for r in merged.collect()}
    expect = {(i, f"v{i}") for i in range(50) if i not in (1, 2, 3, 10, 11)}
    expect |= {(1, "upd1"), (2, "upd2"), (3, "upd3"), (100, "new")}
    assert got == expect
    # live resolution (explicit times bypass every compact) agrees
    live = {
        (r["id"], r["v"])
        for r in db.table(
            "t", system_time="2024-01-02 00:00:01", app_time="2024-01-02 00:00:01"
        ).collect()
    }
    assert got == live
    # SQL over the snapshot rides the same fast path
    assert db.sql("SELECT COUNT(*) AS n FROM t").collect()[0]["n"] == len(expect)


def test_merge_on_read_never_rescans_pre_compact_history(spark):
    """The O(files) pin behind merge-on-read: resolving the touched
    ids must read ONLY the compact base + post-compact day files —
    never the pre-compact version log.  (The r9 1,200-day probe found
    the resolution side re-opening every table file — a 1,232-task
    stage inside each incremental mview refresh; under the
    no-app-bounds invariant a touched id's visible version is always
    post-t0, so the old files are provably irrelevant.)"""
    root = ROOT + "_mor_files"
    shutil.rmtree(root, ignore_errors=True)
    eng = Engine(spark, root)
    for d in range(1, 6):  # five pre-compact days
        eng.submit_tx(
            [Put("t", spark.createDataFrame(
                [(i, f"d{d}v{i}") for i in range(10)], "id long, v string"))],
            tx_time=f"2024-01-0{d} 00:00:01",
        )
    eng.compact("t")
    eng.submit_tx(
        [Put("t", spark.createDataFrame(
            [(1, "tail1"), (99, "tail99")], "id long, v string"))],
        tx_time="2024-01-09 00:00:01",
    )
    merged = eng.db().table("t")
    files = merged.inputFiles()
    assert any("_current" in f for f in files), "merge path not taken"
    log_files = [f for f in files if "_current" not in f]
    assert log_files, "tail day files must be read"
    # the compact clock's OWN day stays in range (a later same-day tx
    # lands there); every strictly earlier day must be pruned
    bad = [
        f for f in log_files
        if not ("_sys_day=2024-01-09" in f or "_sys_day=2024-01-05" in f)
    ]
    assert not bad, f"pre-compact history files in the plan: {bad[:3]}"
    got = {(r["id"], r["v"]) for r in merged.collect()}
    expect = {(i, f"d5v{i}") for i in range(10) if i != 1}
    expect |= {(1, "tail1"), (99, "tail99")}
    assert got == expect


def test_merge_on_read_ignores_inflight_future_rows(spark):
    """Regression pin for the failover-fuzz load-sensitive torn read:
    a concurrent writer's PUBLISHED-BUT-UNLOGGED files (SYS_START
    beyond the basis) used to count an id as 'touched since the
    compact', anti-joining its row out of the compact base while the
    basis-time resolution over recent files could not see its real
    (in-base, pre-compact) version — the row vanished until the
    in-flight tx logged.  The touched-id set must be bounded at the
    basis clock."""
    from pyspark.sql import functions as F

    from core2_spark import temporal as bt

    root = ROOT + "_mor_inflight"
    shutil.rmtree(root, ignore_errors=True)
    eng = Engine(spark, root)
    eng.submit_tx(
        [Put("t", spark.createDataFrame(
            [(1, "a"), (2, "a")], "id long, v string"))],
        tx_time="2024-01-01 00:00:01",
    )
    eng.compact("t")
    eng.submit_tx(
        [Put("t", spark.createDataFrame([(3, "b")], "id long, v string"))],
        tx_time="2024-01-02 00:00:01",
    )  # compact now STALE: default reads take merge-on-read
    # Simulate a peer mid-commit: publish rows for id=1 at a FUTURE tx
    # time exactly the way _submit_tx_once does (files + pending
    # manifest), but never advance the log.
    from datetime import datetime

    future = datetime.fromisoformat("2024-01-03 00:00:01")
    rows = (
        bt.put(
            spark.createDataFrame([(1, "inflight")], "id long, v string"),
            tx_time=future,
        )
        .withColumn(bt.TOMBSTONE, F.lit(False))
        .withColumn(bt.TX_SEQ, F.lit(0))
        .withColumn(bt.ROW_SEQ, F.monotonically_increasing_id())
        .withColumn(bt.SYS_DAY, F.to_date(F.col(bt.SYS_START)))
    )
    from core2_spark.engine import _Tx

    eng._append(_Tx(eng._pending_path(), set(), t=future), "t", rows)
    reader = Engine(spark, root)
    merged = reader.db().table("t")
    assert any("_current" in f for f in merged.inputFiles())
    got = {(r["id"], r["v"]) for r in merged.collect()}
    assert got == {(1, "a"), (2, "a"), (3, "b")}, got


def test_compact_pointer_is_atomic_and_versioned(spark):
    """compact() lands each materialization in a fresh immutable dir
    with an os.replace'd (clock, dir) sidecar — a reader can never
    pair one compact's clock with another's data (the old in-place
    swap allowed exactly that between the data swap and the sidecar
    write)."""
    import json
    import os

    root = ROOT + "_compact_ptr"
    shutil.rmtree(root, ignore_errors=True)
    eng = Engine(spark, root)
    eng.submit_tx(
        [Put("t", spark.createDataFrame([(1, "a")], "id long, v string"))],
        tx_time="2024-01-01 00:00:01",
    )
    p1 = eng.compact("t")
    eng.submit_tx(
        [Put("t", spark.createDataFrame([(1, "b")], "id long, v string"))],
        tx_time="2024-01-02 00:00:01",
    )
    p2 = eng.compact("t")
    assert p1 != p2, "compact dirs must be versioned, never reused"
    assert os.path.isdir(p1), "previous compact stays readable (reclaim-gated)"
    with open(os.path.join(root, "_current", "t.json")) as f:
        meta = json.load(f)
    assert os.path.join(root, "_current", meta["dir"]) == p2
    ptr = eng._compact_pointer("t")
    assert ptr == (p2, eng._last_tx_time)
    got = {(r["id"], r["v"]) for r in eng.db().table("t").collect()}
    assert got == {(1, "b")}


def test_reclassify_race_covers_mkdirs_failure(spark):
    """A concurrent whole-table swap can rename a maintenance op's
    in-flight scratch root away; Hadoop's committer then surfaces
    'Mkdirs failed to create' (6-writer dense soak, seeds 1110/1114).
    With the log advanced past this engine's view that MUST reclassify
    to the retryable ConcurrentWriterError; with an unchanged log the
    same message is real corruption and surfaces as itself."""
    from core2_spark.engine import ConcurrentWriterError

    root = ROOT + "_reclass"
    shutil.rmtree(root, ignore_errors=True)
    a = Engine(spark, root)
    a.submit_tx([Put("t", spark.createDataFrame([(1, "x")], "id long, v string"))])
    b = Engine(spark, root)
    b.submit_tx([Put("t", spark.createDataFrame([(2, "y")], "id long, v string"))])
    boom = Exception(
        "An error occurred while calling o1.parquet.\n"
        ": java.io.IOException: Mkdirs failed to create "
        "file:/x/t/_tmp__sys_day%3D2024-01-01_ab/_temporary/0"
    )
    with pytest.raises(ConcurrentWriterError):
        a._reclassify_race(boom)  # log advanced: the op lost a race
    a.refresh()
    assert a._reclassify_race(boom) is None  # unchanged log: surfaces


def test_merge_on_read_disabled_for_app_bounded_tables(spark):
    """A bounded app period can expire with NO new version rows, so
    app-bounded tables must never take the stale-compact path — the
    retroactive-correction semantics stay exact."""
    root = ROOT + "_mor_bounded"
    shutil.rmtree(root, ignore_errors=True)
    eng = Engine(spark, root)
    eng.submit_tx(
        [Put("marks", spark.createDataFrame([(1, 100.0)], "id long, px double"))],
        tx_time="2024-01-10 00:00:00",
    )
    # bounded correction: valid only during January
    eng.submit_tx(
        [
            Put(
                "marks",
                spark.createDataFrame([(1, 95.0)], "id long, px double"),
                app_start="2024-01-01",
                app_end="2024-02-01",
            )
        ],
        tx_time="2024-01-20 00:00:00",
    )
    eng.compact("marks")  # compact at Jan 20: correction visible
    assert eng.db().table("marks").collect()[0]["px"] == 95.0

    # a later no-op-ish tx advances the clock past the correction's
    # app window; current state flips back to 100.0 with NO new
    # version for id=1 — merge-on-read would have answered 95.0
    eng.submit_tx(
        [Put("marks", spark.createDataFrame([(2, 7.0)], "id long, px double"))],
        tx_time="2024-03-05 00:00:00",
    )
    db = eng.db()
    rows = {r["id"]: r["px"] for r in db.table("marks").collect()}
    assert rows[1] == 100.0, "stale compact leaked an expired correction"
    assert not any(
        "_current" in f for f in db.table("marks").inputFiles()
    ), "app-bounded table took the merge path"
    # the flag survives reopen
    assert "marks" in Engine(spark, root)._app_bounded


def test_erase_invalidates_compact(spark):
    """Erase removes history without leaving a version marker — the
    compact must be invalidated, not delta-merged."""
    root = ROOT + "_mor_erase"
    shutil.rmtree(root, ignore_errors=True)
    eng = Engine(spark, root)
    eng.submit_tx(
        [Put("t", spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id long, v string"))],
        tx_time="2024-01-01 00:00:01",
    )
    eng.compact("t")
    eng.submit_tx(
        [Erase("t", spark.createDataFrame([(2,)], "id long"))],
        tx_time="2024-01-02 00:00:01",
    )
    db = eng.db()
    got = {(r["id"], r["v"]) for r in db.table("t").collect()}
    assert got == {(1, "a"), (3, "c")}
    assert not any("_current" in f for f in db.table("t").inputFiles())


def test_delete_or_erase_unknown_table_fails_cleanly(spark, engine):
    """Erase against a table that never existed raises a clear
    ValueError (and rolls back) instead of a raw AnalysisException;
    Delete on a never-put table stays a valid no-op-shaped op."""
    ids = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError, match="unknown table"):
        engine.submit_tx([Erase("nope", ids)])
    # Delete on a never-put table is a VALID op (tombstones hiding
    # nothing — the reference's model), not an error
    engine.submit_tx([Delete("maybe_later", ids)])
    assert engine.db().table("maybe_later").count() == 0
    # the failed transaction left no clock advance: the next commit works
    engine.submit_tx(
        [Put("t", spark.createDataFrame([(1, "a")], "id long, v string"))]
    )
    assert engine.db().table("t").count() == 1


def test_entity_history_and_basis_token_roundtrip(spark, engine):
    """Reference API parity: entity_history(id) returns one entity's
    version rows (rectangles + tombstone marker) in system-time order;
    a basis serializes to a portable token and rehydrates to the exact
    same snapshot — even after later transactions."""
    from core2_spark.basis import basis_to_json

    engine.submit_tx(
        [Put("t", spark.createDataFrame(
            [(1, "a"), (2, "b")], "id long, v string"))],
        tx_time="2024-01-01 00:00:01",
    )
    engine.submit_tx(
        [Put("t", spark.createDataFrame([(1, "a2")], "id long, v string"))],
        tx_time="2024-02-01 00:00:01",
    )
    basis2 = engine.submit_tx(
        [Delete("t", spark.createDataFrame([(1,)], "id long"))],
        tx_time="2024-03-01 00:00:01",
    )

    db = engine.db(basis2)
    hist = db.entity_history("t", 1).collect()
    assert [r["v"] for r in hist] == [None, "a2", "a"]  # tombstone first
    assert hist[0]["_tombstone"] is True
    assert [str(r["system_time_start"])[:7] for r in hist] == [
        "2024-03", "2024-02", "2024-01",
    ]
    oldest_first = db.entity_history("t", 1, newest_first=False).collect()
    assert [r["v"] for r in oldest_first] == ["a", "a2", None]

    # basis token: serialize, commit MORE transactions, rehydrate —
    # the token still answers with the old snapshot
    token = basis_to_json(basis2)
    engine.submit_tx(
        [Put("t", spark.createDataFrame([(9, "later")], "id long, v string"))],
        tx_time="2024-04-01 00:00:01",
    )
    rehydrated = engine.db(engine.rehydrate(token))
    assert {r["id"] for r in rehydrated.table("t").collect()} == {2}
    assert rehydrated.history("t").count() == 4  # 3 puts + tombstone
    # while the live head sees the later write
    assert {r["id"] for r in engine.db().table("t").collect()} == {2, 9}


def test_vacuum_retention_drops_closed_history_only(spark):
    """vacuum(older_than) physically drops versions whose system
    window closed before the horizon; every read with both clocks at
    or after the horizon answers exactly as before.  App-bounded
    tables refuse (their superseded versions can still win outside
    the successor's rectangle)."""
    root = ROOT + "_vacuum"
    shutil.rmtree(root, ignore_errors=True)
    eng = Engine(spark, root)
    mk = lambda rows: spark.createDataFrame(rows, "id long, v string")
    eng.submit_tx([Put("t", mk([(1, "jan1"), (2, "jan2"), (3, "jan3")]))],
                  tx_time="2024-01-01 00:00:01")
    eng.submit_tx([Put("t", mk([(1, "feb1")]))], tx_time="2024-02-01 00:00:01")
    eng.submit_tx([Delete("t", spark.createDataFrame([(3,)], "id long"))],
                  tx_time="2024-02-15 00:00:01")
    eng.submit_tx([Put("t", mk([(1, "jun1"), (4, "jun4")]))],
                  tx_time="2024-06-01 00:00:01")

    db_before = eng.db()
    cur_before = {(r["id"], r["v"]) for r in db_before.table("t").collect()}
    asof_before = {
        (r["id"], r["v"])
        for r in db_before.table(
            "t", system_time="2024-05-01", app_time="2024-05-01"
        ).collect()
    }
    n_before = db_before.history("t").count()  # 7 versions

    eng.vacuum("t", older_than="2024-03-01")
    db = eng.db()
    # dropped: id=1's jan version (superseded in Feb) AND id=3's jan
    # put (superseded by its tombstone on Feb 15 — the tombstone is
    # the system-axis successor).  Kept: feb1 (closed only in June,
    # after the horizon), jun1, jan2 (never superseded), the id=3
    # tombstone (window still open — keeps the id hidden), and jun4.
    assert db.history("t").count() == n_before - 2
    assert {(r["id"], r["v"]) for r in db.table("t").collect()} == cur_before
    assert {
        (r["id"], r["v"])
        for r in db.table(
            "t", system_time="2024-05-01", app_time="2024-05-01"
        ).collect()
    } == asof_before
    left = {r["v"] for r in db.history("t").collect()}
    assert "jan1" not in left and "jan3" not in left

    # app-bounded tables refuse
    eng.submit_tx(
        [Put("m", mk([(9, "x")]), app_start="2024-01-01", app_end="2024-02-01")],
        tx_time="2024-07-01 00:00:01",
    )
    with pytest.raises(ValueError, match="app-time-bounded"):
        eng.vacuum("m", older_than="2024-08-01")


def test_speculative_with_tx(spark, engine):
    """Round-5 with_tx: a speculative snapshot answers as if the ops
    had committed — across table(), sql() with the temporal dialect,
    Datalog, history() and a brand-new table — while the engine's real
    state is untouched; speculative snapshots stack."""
    from core2_spark.engine import Call

    v1 = spark.createDataFrame(
        [(1, "AAPL", 100.0), (2, "MSFT", 200.0), (3, "GOOG", 300.0)],
        "id long, sym string, px double",
    )
    engine.submit_tx([Put("trades", v1)], tx_time="2024-01-01 00:00:01")
    db = engine.db()

    spec = db.with_tx(
        [
            Put("trades", spark.createDataFrame(
                [(1, "AAPL", 111.0)], "id long, sym string, px double")),
            Delete("trades", spark.createDataFrame([(3,)], "id long")),
            Put("alerts", spark.createDataFrame(
                [(7, "price-jump")], "id long, kind string")),
        ]
    )
    # what-if current state
    assert {(r["id"], r["px"]) for r in spec.table("trades").collect()} == {
        (1, 111.0), (2, 200.0),
    }
    # SQL incl. the temporal dialect sees the speculative version too
    assert spec.sql(
        "SELECT COUNT(*) AS n FROM trades FOR SYSTEM_TIME ALL"
    ).collect()[0]["n"] == 4  # 3 puts + spec put (FOR views hide tombstones)
    # the speculative new table is queryable
    assert spec.sql("SELECT kind FROM alerts").collect()[0]["kind"] == "price-jump"
    # Datalog over the overlay
    assert {
        r["sym"]
        for r in spec.q(
            {"find": ["?sym"], "where": [("trades", {"id": "?i", "sym": "?sym"})]}
        ).collect()
    } == {"AAPL", "MSFT"}
    # entity history shows the speculative version on top
    assert [r["px"] for r in spec.entity_history("trades", 1).collect()] == [
        111.0, 100.0,
    ]

    # the REAL engine state is untouched
    assert {(r["id"], r["px"]) for r in db.table("trades").collect()} == {
        (1, 100.0), (2, 200.0), (3, 300.0),
    }
    assert "alerts" not in engine._all_tables()

    # stacking: a second speculative layer (with a Call op) on top
    def bump(snap):
        cur = snap.table("trades")
        from pyspark.sql import functions as F

        return [Put("trades", cur.withColumn("px", F.col("px") + 1))]

    spec2 = spec.with_tx([Call(bump)])
    assert {(r["id"], r["px"]) for r in spec2.table("trades").collect()} == {
        (1, 112.0), (2, 201.0),
    }
    # speculative Erase hides the whole history
    spec3 = spec.with_tx(
        [Erase("trades", spark.createDataFrame([(1,)], "id long"))]
    )
    assert {r["id"] for r in spec3.table("trades").collect()} == {2}
    # erase removed id=1's whole history; id=3 keeps its history
    # (delete preserves versions — only erase destroys)
    assert {r["id"] for r in spec3.history("trades").select("id").collect()} == {2, 3}

    # a speculative snapshot over a FRESH compact still sees the overlay
    engine.compact("trades")
    spec4 = engine.db().with_tx(
        [Put("trades", spark.createDataFrame(
            [(9, "NVDA", 900.0)], "id long, sym string, px double"))]
    )
    assert {r["id"] for r in spec4.table("trades").collect()} == {1, 2, 3, 9}


def _rows(r) -> tuple:
    return tuple(sorted(r.asDict().items()))


def _answers(snap, since) -> dict:
    """Everything a snapshot answers about table t, order-free."""
    return {
        "types": snap.table("t").dtypes,
        "table": sorted(map(_rows, snap.table("t").collect()), key=repr),
        "history": sorted(map(_rows, snap.history("t").collect()), key=repr),
        "changes": sorted(
            map(_rows, snap.changes("t", since=since).collect()), key=repr
        ),
    }


def _differential_ops(spark, case):
    from pyspark.sql import functions as F

    from core2_spark.engine import Assert, Call, Patch

    mk = lambda rows: spark.createDataFrame(rows, "id long, v string, n long")
    ids = lambda *xs: spark.createDataFrame([(x,) for x in xs], "id long")
    return {
        "put_duplicate_ids": [
            Put("t", mk([(1, "x", 10), (1, "y", 11), (1, "z", 12), (5, "e", 5)]))
        ],
        "bounded_delete": [
            Delete(
                "t", ids(2, 9),
                app_start="2024-01-01 12:00:00", app_end="2024-03-01 00:00:00",
            ),
            Put("t", mk([(3, "c2", 30)])),
        ],
        "patch": [Patch("t", ({"id": 3, "v": "p"}, {"id": 6, "n": 60}))],
        "assert_true": [
            Assert("(SELECT COUNT(*) FROM t) = 4"),
            Put("t", mk([(7, "g", 7)])),
        ],
        "assert_false": [
            Assert("(SELECT COUNT(*) FROM t) = 5", "not five"),
            Put("t", mk([(8, "h", 8)])),
        ],
        "call": [
            Call(lambda snap: [
                Put("t", snap.table("t").filter("id > 2")
                    .withColumn("n", F.col("n") * 10)),
                Delete("t", ids(1)),
            ])
        ],
        # a struct gains a field, then a write of that field is cast to it
        "struct_widening": [
            Put("t", spark.createDataFrame([(9, (1,))], "id long, s struct<a: long>")),
            Put("t", spark.createDataFrame(
                [(10, (2, "x"))], "id long, s struct<a: long, b: string>")),
            Put("t", spark.createDataFrame([(11, (3,))], "id long, s struct<b: int>")),
        ],
        # INT columns into BIGINT ones; a new column's first type wins
        "narrower_put": [
            Put("t", spark.createDataFrame([(9, "i", 9, 1)], "id int, v string, n int, m int")),
            Put("t", spark.createDataFrame([(10, 2)], "id long, m long")),
        ],
    }[case]


@pytest.mark.parametrize(
    "case",
    ["put_duplicate_ids", "bounded_delete", "patch", "assert_true",
     "assert_false", "call", "narrower_put", "struct_widening"],
)
def test_with_tx_answers_as_submit_tx(spark, tmp_path, case):
    """One lowering for a what-if and a commit: ``db.with_tx(ops, t)``
    answers table(), history() and changes() exactly as the engine
    does after ``submit_tx(ops, t)`` — duplicate ids within a Put pick
    the same winner, and an Assert aborts both the same way."""
    from core2_spark.engine import TxAssertionError

    eng = Engine(spark, str(tmp_path / "diff"))
    eng.submit_tx(
        [Put("t", spark.createDataFrame(
            [(1, "a", 1), (2, "b", 2), (3, "c", 3), (4, "d", 4)],
            "id long, v string, n long"))],
        tx_time="2024-01-01 00:00:01",
    )
    since, t = "2024-01-01 00:00:01", "2024-01-02 00:00:01"
    ops = _differential_ops(spark, case)
    if case == "assert_false":
        with pytest.raises(TxAssertionError, match="not five"):
            eng.db().with_tx(ops, t)
        with pytest.raises(TxAssertionError, match="not five"):
            eng.submit_tx(ops, t)
        assert eng.db().table("t").count() == 4
        return
    what_if = _answers(eng.db().with_tx(ops, t), since)
    eng.submit_tx(ops, t)
    assert what_if == _answers(eng.db(), since)


@pytest.mark.parametrize("write", ["narrower_put", "narrower_delete", "decimal_put"])
def test_write_casts_to_recorded_types(spark, tmp_path, write):
    """A write whose columns are narrower than, or differ from, the
    types the table records commits cast to those types: the table
    stays readable (no parquet schema to merge), keeps its types and
    stays tracked."""
    eng = Engine(spark, str(tmp_path / "db"))
    eng.submit_tx([Put("t", spark.createDataFrame([(1, 1.5)], "id long, price double"))])
    op, expected = {
        "narrower_put": (
            Put("t", spark.createDataFrame([(2, 2.5)], "id int, price double")),
            [(1, 1.5), (2, 2.5)],
        ),
        "narrower_delete": (Delete("t", spark.createDataFrame([(1,)], "id int")), []),
        "decimal_put": (
            Put("t", spark.sql("SELECT 2L AS id, 2.5 AS price")),
            [(1, 1.5), (2, 2.5)],
        ),
    }[write]
    eng.submit_tx([op])
    for e in (eng, Engine(spark, eng.root)):
        assert e._table_schemas["t"] is not None
        t = e.db().table("t")
        assert dict(t.dtypes) == {"id": "bigint", "price": "double"}
        assert sorted(tuple(r) for r in t.collect()) == expected
        assert e.db().history("t").count() == 2


def test_write_cast_reads_a_dotted_column_name_as_one_name(spark, tmp_path):
    eng = Engine(spark, str(tmp_path / "db"))
    for ddl in ("id long, `a.b` long", "id int, `a.b` int"):
        eng.submit_tx([Put("t", spark.createDataFrame([(1, 2)], ddl))])
    assert dict(eng.db().table("t").dtypes) == {"id": "bigint", "a.b": "bigint"}


@pytest.mark.parametrize("later", ["commit_and_compact", "inflight"])
def test_with_tx_expands_over_the_pinned_rows(spark, tmp_path, later):
    """A what-if at a clock past a later commit expands its Assert and
    Call over the snapshot's own rows: neither a compact taken after
    the basis nor a concurrent writer's published but unlogged rows
    reach the expansion or the speculative reads."""
    from datetime import datetime

    from core2_spark.engine import Assert, Call, _Tx, _version_rows

    eng = Engine(spark, str(tmp_path / "pin"))
    mk = lambda ids: spark.createDataFrame([(i, "a") for i in ids], "id long, v string")
    eng.submit_tx([Put("t", mk([1, 2, 3, 4]))], tx_time="2024-01-01 00:00:01")
    t2 = datetime(2024, 1, 2, 0, 0, 1)
    if later == "commit_and_compact":
        db = eng.db()
        eng.submit_tx([Put("t", mk([5]))], tx_time=t2)
        eng.compact("t")
    else:
        # a peer mid-commit: its rows are published, the log is not
        put = Put("t", mk([5]))
        eng._append(_Tx(eng._pending_path(), set(), t=t2), "t", _version_rows(put, t2, 0))
        db = Engine(spark, eng.root).db()
    seen = []

    def count(snap):
        seen.append(snap.table("t").count())
        return [Put("t", mk([6]))]

    spec = db.with_tx(
        [Assert("(SELECT COUNT(*) FROM t) = 4"), Call(count)],
        "2024-01-03 00:00:01",
    )
    assert seen == [4]
    assert sorted(r["id"] for r in spec.table("t").collect()) == [1, 2, 3, 4, 6]


@pytest.mark.parametrize("op", ["assert", "call", "patch"])
def test_submit_tx_expands_over_the_head_rows(spark, tmp_path, op):
    """The commit twin of the what-if's in-flight case: submit_tx
    expands Assert, Call and Patch over the head's rows read at the tx
    clock, so a peer's published but unlogged rows (system start past
    the head, before the tx clock) reach none of them."""
    from datetime import datetime

    from core2_spark.engine import Assert, Call, Patch, _Tx, _version_rows

    eng = Engine(spark, str(tmp_path / "head"))
    mk = lambda ids, v: spark.createDataFrame([(i, v) for i in ids], "id long, v string")
    eng.submit_tx([Put("t", mk([1, 2, 3, 4], "a"))], tx_time="2024-01-01 00:00:01")
    # a peer mid-commit: its rows are published, the log is not
    t2 = datetime(2024, 1, 2, 0, 0, 1)
    peer = Put("t", mk([4, 5], "peer"))
    eng._append(_Tx(eng._pending_path(), set(), t=t2), "t", _version_rows(peer, t2, 0))
    writer = Engine(spark, eng.root)
    seen = []

    def count(snap):
        seen.append(snap.table("t").count())
        return [Put("t", mk([6], "a"))]

    ops = {
        "assert": [Assert("(SELECT COUNT(*) FROM t) = 4")],
        "call": [Call(count)],
        "patch": [Patch("t", ({"id": 4, "w": "x"},))],
    }[op]
    writer.submit_tx(ops, tx_time="2024-01-03 00:00:01")
    if op == "call":
        assert seen == [4]
    if op == "patch":
        rows = writer.db().table("t").filter("id = 4").collect()
        assert [(r["v"], r["w"]) for r in rows] == [("a", "x")]


def _replica(spark, tmp_path):
    """A replica holding id 1 from a source's feed, and the feed's
    tail (ids 10 and 11) still to apply."""
    src = Engine(spark, str(tmp_path / "src"))
    dst = Engine(spark, str(tmp_path / "dst"))
    mk = lambda ids: spark.createDataFrame([(i, "v") for i in ids], "id long, v string")
    src.submit_tx([Put("t", mk([1]))], tx_time="2024-01-01 00:00:01")
    src.submit_tx([Put("t", mk([10, 11]))], tx_time="2024-01-02 00:00:01")
    feed = src.db()
    dst.apply_changes(
        "t", feed.changes("t", since="2024-01-01", until="2024-01-01 00:00:01")
    )
    return dst, feed.changes("t", since="2024-01-01 00:00:01")


def _ids(eng) -> list:
    return sorted(r["id"] for r in eng.db().table("t").collect())


@pytest.mark.parametrize("writer", ["submit_tx", "apply_changes"])
def test_failed_commit_leaves_no_rows(spark, tmp_path, monkeypatch, writer):
    """A commit whose clock persist fails rolls back everything it
    published, on every write path: after reopen the replica still
    reads only id 1, and the same slice then applies cleanly."""
    dst, tail = _replica(spark, tmp_path)
    rows = spark.createDataFrame([(10, "v"), (11, "v")], "id long, v string")
    write = {
        "submit_tx": lambda: dst.submit_tx([Put("t", rows)]),
        "apply_changes": lambda: dst.apply_changes("t", tail),
    }[writer]

    def fail(*_a, **_k):
        raise OSError("injected persist failure")

    monkeypatch.setattr(dst, "_persist_clock", fail)
    with pytest.raises(OSError, match="injected"):
        write()
    monkeypatch.undo()
    assert _ids(Engine(spark, dst.root)) == [1]
    assert not os.listdir(os.path.join(dst.root, "_pending"))
    write()
    assert _ids(dst) == _ids(Engine(spark, dst.root)) == [1, 10, 11]


@pytest.mark.parametrize("writer", ["submit_tx", "apply_changes"])
def test_crash_between_publish_and_persist_rolls_back_at_open(
    spark, tmp_path, monkeypatch, writer
):
    """A process that dies after publishing and before persisting the
    clock leaves its pending manifest; the next open rolls the
    published rows back, whichever path wrote them."""
    dst, tail = _replica(spark, tmp_path)
    rows = spark.createDataFrame([(10, "v"), (11, "v")], "id long, v string")
    write = {
        "submit_tx": lambda: dst.submit_tx([Put("t", rows)]),
        "apply_changes": lambda: dst.apply_changes("t", tail),
    }[writer]

    class Crash(BaseException):
        pass

    def crash(*_a, **_k):
        raise Crash()

    # the process dies at the persist: nothing after it runs
    monkeypatch.setattr(dst, "_persist_clock", crash)
    monkeypatch.setattr(dst, "_rollback", lambda *_a: None)
    monkeypatch.setattr(dst, "_remove_pending", lambda *_a: None)
    with pytest.raises(Crash):
        write()
    # the published rows are on disk (history shows them) until recovery
    assert Engine(spark, dst.root).db().history("t").count() == 3
    assert os.listdir(os.path.join(dst.root, "_pending"))
    reopened = Engine(spark, dst.root, reclaim_after_s=0)
    assert _ids(reopened) == [1]
    assert reopened.db().history("t").count() == 1
    assert not os.listdir(os.path.join(dst.root, "_pending"))

def test_duplicate_ids_within_one_put_read_repeatably(spark, engine):
    """Within-op duplicate ids have no defined winner (DataFrames are
    unordered), but the _row_seq stamp freezes the choice at write:
    every read of the same basis — current state, SQL, history-based
    recompute — agrees, forever."""
    from pyspark.sql import functions as F

    dup = spark.createDataFrame(
        [(1, "a", 10.0), (1, "b", 20.0), (1, "c", 30.0), (2, "x", 1.0)],
        "id long, tag string, px double",
    )
    engine.submit_tx([Put("trades", dup)])
    snap = engine.db()
    reads = [
        {(r["id"], r["tag"]) for r in snap.table("trades").collect()}
        for _ in range(3)
    ]
    assert reads[0] == reads[1] == reads[2]
    assert len(reads[0]) == 2  # one winner for id 1, plus id 2
    sql_read = {
        (r["id"], r["tag"])
        for r in snap.sql("SELECT id, tag FROM trades").collect()
    }
    assert sql_read == reads[0]
    # a reopened engine over the same files agrees too
    reopened = Engine(spark, engine.root).db()
    assert {
        (r["id"], r["tag"]) for r in reopened.table("trades").collect()
    } == reads[0]


def _parquet_files(root: str, table: str) -> set[str]:
    return {
        os.path.join(d, f)
        for d, _dirs, names in os.walk(os.path.join(root, table))
        for f in names
        if f.endswith(".parquet")
    }


def _files_per_day(root: str, table: str, commit) -> dict[str, int]:
    """Run ``commit()`` and count the parquet files it published into
    ``table``, per ``_sys_day`` directory."""
    before = _parquet_files(root, table)
    commit()
    return dict(
        Counter(
            os.path.basename(os.path.dirname(f))
            for f in _parquet_files(root, table) - before
        )
    )


def _numbered_rows(spark, lo: int, hi: int, parts: int):
    return spark.range(lo, hi, numPartitions=parts).selectExpr(
        "id", "CAST(id AS STRING) AS v", "id * 1.5 AS px"
    )


@pytest.mark.parametrize("write", ["put", "delete", "update", "patch"])
def test_a_small_append_publishes_one_file_per_day(spark, tmp_path, write):
    """An append's file count follows its bytes, not the caller's
    partitioning: a small Put, Delete, UPDATE or PATCH publishes one
    file per system-time day."""
    root = str(tmp_path / "root")
    eng = Engine(spark, root)
    n = 50_000  # per seed day: big enough that a read shuffles into several partitions
    for day in range(4):
        eng.submit_tx(
            [Put("t", _numbered_rows(spark, day * n, day * n + n, 4))],
            tx_time=f"2024-01-1{day} 00:00:00",
        )
    commit = {
        "put": lambda: eng.submit_tx([Put("t", _numbered_rows(spark, 4 * n, 4 * n + 2000, 4).repartition(16))]),
        "delete": lambda: eng.submit_tx([Delete("t", spark.range(0, 2000, 100, numPartitions=8))]),
        "update": lambda: eng.sql_dml("UPDATE t SET px = px + 1 WHERE id % 25000 = 5"),
        "patch": lambda: eng.sql_dml(
            "PATCH INTO t RECORDS {id: 5, px: 1.0}, {id: 50005, v: 'x'}, "
            "{id: 100005, px: 3.0}, {id: 150005, px: 4.0}"
        ),
    }[write]
    assert list(_files_per_day(root, "t", commit).values()) == [1]
    current = {r["id"]: (r["v"], r["px"]) for r in eng.db().table("t").collect()}
    assert len(current) == {"put": 4 * n + 2000, "delete": 4 * n - 20}.get(write, 4 * n)
    assert current[50005] == {
        "update": ("50005", 75008.5), "patch": ("x", 75007.5)
    }.get(write, ("50005", 75007.5))


@pytest.mark.parametrize("aqe", ["true", "false"])
def test_a_replicated_feed_publishes_one_file_per_day(spark, tmp_path, aqe):
    src_root, dst_root = str(tmp_path / "src"), str(tmp_path / "dst")
    src, dst = Engine(spark, src_root), Engine(spark, dst_root)
    for day in ("2024-01-10", "2024-01-11", "2024-01-12"):
        rows = spark.range(0, 500, numPartitions=8).selectExpr("id", f"'{day}' AS v")
        src.submit_tx([Put("t", rows)], tx_time=f"{day} 00:00:00")
    feed = src.db().changes("t", since="2024-01-01", until="2024-12-31")
    key = "spark.sql.adaptive.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, aqe)
    try:
        per_day = _files_per_day(
            dst_root, "t", lambda: dst.apply_changes("t", feed.repartition(16))
        )
    finally:
        spark.conf.set(key, before)
    assert per_day == {
        f"_sys_day=2024-01-1{d}": 1 for d in (0, 1, 2)
    }
    assert dst.db().history("t").count() == 1500


def test_a_bulk_append_still_splits_by_size(spark, tmp_path):
    """Past ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` one
    day's rows are split over several files."""
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    before = spark.conf.get(key)
    root = str(tmp_path / "root")
    eng = Engine(spark, root)
    rows = spark.range(0, 200_000, numPartitions=8).selectExpr(
        "id", "uuid() AS v"
    )
    spark.conf.set(key, "256k")
    try:
        per_day = _files_per_day(root, "t", lambda: eng.submit_tx([Put("t", rows)]))
    finally:
        spark.conf.set(key, before)
    assert len(per_day) == 1 and list(per_day.values())[0] > 1
    assert eng.db().table("t").count() == 200_000


def test_day_partition_rewrite_scratch_names_are_equals_free(
    spark, tmp_path, monkeypatch
):
    """Round 8 (found by the 200-schedule 4-writer soak): Spark's
    hidden-path filter skips `_`-prefixed siblings ONLY when the name
    contains no '=' — a mixed-day vacuum's literal `_tmp__sys_day=...`
    scratch joined partition INFERENCE and failed every concurrent
    reader with CONFLICTING_PARTITION_COLUMN_NAMES for the whole
    scratch write.  Scratch/rollback names must encode '=' away, and a
    crashed swap's encoded `_old_` dir must restore to the REAL
    `_sys_day=` directory."""
    import os
    import shutil

    from core2_spark import engine as engine_mod

    root = str(tmp_path / "vac_names")
    eng = Engine(spark, root)
    mk = lambda rows: spark.createDataFrame(rows, "id long, v string")
    eng.submit_tx([Put("t", mk([(1, "d1a"), (2, "d1b")]))],
                  tx_time="2024-01-01 00:00:01")
    eng.submit_tx([Put("t", mk([(1, "d2a"), (2, "d2b")]))],
                  tx_time="2024-01-02 00:00:01")
    eng.submit_tx([Put("t", mk([(1, "d2c")]))],
                  tx_time="2024-01-02 12:00:01")
    eng.submit_tx([Put("t", mk([(2, "d40")]))],
                  tx_time="2024-02-10 00:00:01")

    # observe every scratch path _rewrite_atomic stamps (os.utime runs
    # right after the tmp write, while the dir is visible to readers)
    stamped: list[str] = []
    real_utime = engine_mod.os.utime

    def spy(path, *a, **k):
        stamped.append(str(path))
        return real_utime(path, *a, **k)

    monkeypatch.setattr(engine_mod.os, "utime", spy)
    eng.vacuum("t", older_than="2024-01-15")  # day 2 is mixed → rewrite
    scratch = [p for p in stamped if "_tmp_" in p or "_old_" in p]
    assert scratch, "expected the mixed-day rewrite to stage scratch"
    assert not any(
        "=" in os.path.basename(p) for p in scratch
    ), f"scratch names visible to partition inference: {scratch}"
    # and no '='-bearing SCRATCH sibling remains afterwards (the real
    # `_sys_day=` partition dirs rely on the same '='-exemption — that
    # is exactly why scratch names must not share it)
    leftovers = [
        e for e in os.listdir(os.path.join(root, "t"))
        if e.startswith("_") and "=" in e
        and not e.startswith("_sys_day=")
    ]
    assert leftovers == []

    # crashed-swap recovery: encoded _old_ restores to the real day dir
    tdir = os.path.join(root, "t")
    day_dir = os.path.join(tdir, "_sys_day=2024-02-10")
    crashed = os.path.join(tdir, "_old__sys_day%3D2024-02-10")
    os.rename(day_dir, crashed)
    recovered = Engine(spark, root, reclaim_after_s=0.0)
    assert os.path.isdir(day_dir) and not os.path.exists(crashed)
    assert (2, "d40") in {
        (r["id"], r["v"]) for r in recovered.db().table("t").collect()
    }


def test_prune_empty_dirs_spares_peer_maintenance_scratch(tmp_path):
    """A rolling-back writer prunes emptied partition dirs but must
    NOT descend into a concurrent engine's `_tmp_`/`_old_` scratch: a
    just-staged Hadoop committer tree is all empty `_temporary/` dirs
    until its tasks open files, and pruning it kills the peer's write
    mid-task ('Mkdirs failed to create' — post-fix 4-writer soak,
    seeds 1042/1085)."""
    import os

    from core2_spark.engine import _prune_empty_dirs

    t = tmp_path / "t"
    # emptied partition dir -> pruned
    (t / "_sys_day=2024-01-01").mkdir(parents=True)
    # nested empty chain inside a partition dir -> pruned bottom-up
    (t / "_sys_day=2024-01-02" / "a" / "b").mkdir(parents=True)
    # peer scratch: staged committer tree, all empty -> UNTOUCHED
    scratch = t / "_tmp__sys_day%3D2024-01-03_abc" / "_temporary" / "0"
    scratch.mkdir(parents=True)
    keys = t / "_tmp_vacuum_keys_def" / "_temporary"
    keys.mkdir(parents=True)
    old = t / "_old__sys_day%3D2024-01-04"
    old.mkdir(parents=True)
    _prune_empty_dirs(str(t))
    assert not (t / "_sys_day=2024-01-01").exists()
    assert not (t / "_sys_day=2024-01-02").exists()
    assert scratch.is_dir() and keys.is_dir() and old.is_dir()


def test_vacuum_partition_drop_is_metadata_only(spark, tmp_path):
    """Partition-wise vacuum (round 6): a _sys_day= partition whose
    versions ALL closed before the horizon is dropped without a rewrite
    of anything else — kept partitions' data files are untouched
    byte-for-byte (same names/sizes/mtimes), only the horizon-straddling
    day is rewritten, and answers at/after the horizon are unchanged."""
    import os

    root = str(tmp_path / "vac_pdrop")
    eng = Engine(spark, root)
    mk = lambda rows: spark.createDataFrame(rows, "id long, v string")
    # day 1: ids 1,2 — both superseded on day 2 → whole partition closes
    eng.submit_tx([Put("t", mk([(1, "d1a"), (2, "d1b")]))],
                  tx_time="2024-01-01 00:00:01")
    # day 2: both ids rewritten; id 1 superseded again SAME day later →
    # day 2 is the straddling (mixed) partition for a Jan-15 horizon
    eng.submit_tx([Put("t", mk([(1, "d2a"), (2, "d2b")]))],
                  tx_time="2024-01-02 00:00:01")
    eng.submit_tx([Put("t", mk([(1, "d2c")]))],
                  tx_time="2024-01-02 12:00:01")
    # day 40: id 2's later version (after the horizon) — partition kept
    eng.submit_tx([Put("t", mk([(2, "d40")]))],
                  tx_time="2024-02-10 00:00:01")

    tdir = os.path.join(root, "t")
    day = lambda d: os.path.join(tdir, f"_sys_day={d}")
    stat_kept = {
        f: (os.path.getsize(os.path.join(day("2024-02-10"), f)),
            os.path.getmtime(os.path.join(day("2024-02-10"), f)))
        for f in os.listdir(day("2024-02-10"))
    }
    before_current = {(r["id"], r["v"]) for r in eng.db().table("t").collect()}

    eng.vacuum("t", older_than="2024-01-15")

    # day 1 dropped wholesale (all versions closed before horizon)
    assert not os.path.exists(day("2024-01-01"))
    # day 40 untouched file-for-file (no rewrite, no read needed)
    assert {
        f: (os.path.getsize(os.path.join(day("2024-02-10"), f)),
            os.path.getmtime(os.path.join(day("2024-02-10"), f)))
        for f in os.listdir(day("2024-02-10"))
    } == stat_kept
    # day 2 (straddler) rewritten: d2a dropped (superseded same day
    # before horizon), d2b and d2c kept
    left = {r["v"] for r in eng.db().history("t").collect()}
    assert left == {"d2b", "d2c", "d40"}
    assert {(r["id"], r["v"]) for r in eng.db().table("t").collect()} == before_current
    # no vacuum scratch left behind
    assert not any(e.startswith("_tmp_") or e.startswith("_old_")
                   for e in os.listdir(tdir))
    # a reopened engine sees the same answers (recovery scan is clean)
    assert {
        (r["id"], r["v"]) for r in Engine(spark, root).db().table("t").collect()
    } == before_current


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@st.composite
def _vacuum_scenario(draw):
    """3-5 transactions at random distinct days over a small id space,
    plus a horizon day somewhere in range."""
    n_tx = draw(st.integers(3, 5))
    days = sorted(
        draw(
            st.lists(
                st.integers(1, 27), min_size=n_tx, max_size=n_tx, unique=True
            )
        )
    )
    txs = []
    for d in days:
        puts = draw(
            st.lists(st.integers(0, 7), min_size=1, max_size=4, unique=True)
        )
        dels = draw(st.lists(st.integers(0, 7), max_size=2, unique=True))
        txs.append((d, puts, dels))
    horizon = draw(st.integers(2, 28))
    return txs, horizon


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(scenario=_vacuum_scenario())
@pytest.mark.slow
def test_vacuum_differential_property(spark, tmp_path_factory, scenario):
    """Partition-wise vacuum (round 6) against the retention contract:
    for ANY op sequence and ANY horizon, every read with both clocks at
    or after the horizon answers exactly as before the vacuum — current
    state, an as-of read pinned at the horizon, and the changes feed
    from the horizon on."""
    txs, horizon_day = scenario
    root = str(tmp_path_factory.mktemp("vacprop") / "eng")
    eng = Engine(spark, root)
    for d, puts, dels in txs:
        ops = [
            Put(
                "t",
                spark.createDataFrame(
                    [(i, f"d{d}v{i}") for i in puts], "id long, v string"
                ),
            )
        ]
        if dels:
            ops.append(
                Delete(
                    "t", spark.createDataFrame([(i,) for i in dels], "id long")
                )
            )
        eng.submit_tx(ops, tx_time=f"2024-01-{d:02d} 00:00:01")
    horizon = f"2024-01-{horizon_day:02d} 00:00:00"

    def observe(db):
        cur = frozenset(
            (r["id"], r["v"]) for r in db.table("t").collect()
        )
        asof = frozenset(
            (r["id"], r["v"])
            for r in db.table("t", system_time=horizon).collect()
        )
        feed = frozenset(
            (r["id"], r["v"], r["_change"])
            for r in db.changes("t", since=horizon).collect()
        )
        return cur, asof, feed

    before = observe(eng.db())
    eng.vacuum("t", older_than=horizon)
    after = observe(eng.db())
    assert after == before
    # and a reopened engine (recovery path) agrees too
    assert observe(Engine(spark, root).db()) == before


def test_pending_manifest_rolls_back_crashed_tx(spark, tmp_path):
    """Round 6 crash atomicity: a tx that published files but died
    before the log advanced is rolled back at the next open — the
    pending manifest lists every file before it becomes visible, so
    no phantom rows survive.  Young manifests (a possibly-live writer)
    are left alone; manifests for committed txs are retired without
    touching data."""
    import json
    import os
    import time
    from datetime import datetime

    from pyspark.sql import functions as FF
    from core2_spark import temporal as btmod

    root = str(tmp_path / "crash")
    eng = Engine(spark, root)
    mk = lambda rows: spark.createDataFrame(rows, "id long, v string")
    eng.submit_tx([Put("t", mk([(1, "committed")]))],
                  tx_time="2024-01-01 00:00:01")

    # simulate a crashed tx: stage + manifest + publish, NO log write
    t_crash = datetime.fromisoformat("2024-01-02 00:00:01")
    rows = (
        btmod.put(mk([(2, "phantom")]), tx_time=t_crash)
        .withColumn(btmod.TOMBSTONE, FF.lit(False))
        .withColumn(btmod.TX_SEQ, FF.lit(0))
        .withColumn(btmod.ROW_SEQ, FF.monotonically_increasing_id())
        .withColumn(btmod.SYS_DAY, FF.to_date(FF.col(btmod.SYS_START)))
    )
    pending = eng._pending_path()
    path = os.path.join(root, "t")
    staging, moves = eng._stage_rows(path, rows)
    eng._write_pending(pending, t_crash, [d for _s, d in moves], [])
    eng._publish_staged(path, staging, moves)

    # the recovered basis clock shields CURRENT reads from the
    # future-stamped phantom, but history (FOR ALL SYSTEM_TIME) shows
    # it — and any later committed tx would advance the clock past it,
    # resurrecting it.  While the manifest is YOUNG (possibly a live
    # writer mid-tx) recovery must leave it alone:
    assert Engine(spark, root).db().history("t").count() == 2
    assert os.path.exists(pending)

    # age the manifest past the crash threshold → next open rolls back
    time_ago = time.time() - 1200  # past the 900s reclaim threshold
    os.utime(pending, (time_ago, time_ago))
    reopened = Engine(spark, root)
    assert not os.path.exists(pending)
    assert {r["id"] for r in reopened.db().table("t").collect()} == {1}
    assert reopened.db().history("t").count() == 1

    # a manifest for a COMMITTED tx retires without touching data
    basis = reopened.submit_tx([Put("t", mk([(3, "ok")]))],
                               tx_time="2024-01-03 00:00:01")
    stale = reopened._pending_path()
    with open(stale, "w") as f:
        json.dump({"tx_time": "2024-01-03 00:00:01", "files": [], "restores": []}, f)
    os.utime(stale, (time_ago, time_ago))
    again = Engine(spark, root)
    assert not os.path.exists(stale)
    assert {r["id"] for r in again.db().table("t").collect()} == {1, 3}


def test_pending_manifest_restores_crashed_erase(spark, tmp_path):
    """A crashed tx whose Erase swap completed (table rewritten, _old_
    kept for deferred cleanup) is UNDONE at open: the manifest's
    restore entry renames the pre-erase image back, and the tx's other
    published files are deleted — full crash rollback, mirroring the
    in-session _rollback."""
    import os
    import time
    from datetime import datetime

    from pyspark.sql import functions as FF
    from core2_spark import temporal as btmod

    root = str(tmp_path / "crash_erase")
    eng = Engine(spark, root)
    mk = lambda rows: spark.createDataFrame(rows, "id long, v string")
    eng.submit_tx([Put("t", mk([(1, "keep"), (2, "target")]))],
                  tx_time="2024-01-01 00:00:01")

    # simulate: tx published one file, then erased id=2 (swap done,
    # _old_ retained), then crashed before the log write
    t_crash = datetime.fromisoformat("2024-01-02 00:00:01")
    path = os.path.join(root, "t")
    rows = (
        btmod.put(mk([(9, "phantom")]), tx_time=t_crash)
        .withColumn(btmod.TOMBSTONE, FF.lit(False))
        .withColumn(btmod.TX_SEQ, FF.lit(0))
        .withColumn(btmod.ROW_SEQ, FF.monotonically_increasing_id())
        .withColumn(btmod.SYS_DAY, FF.to_date(FF.col(btmod.SYS_START)))
    )
    staging, moves = eng._stage_rows(path, rows)
    published = eng._publish_staged(path, staging, moves)
    pending = eng._pending_path()
    old_path = os.path.join(root, "_old_t")
    eng._write_pending(pending, t_crash, published, [[path, old_path]])
    remaining = btmod.erase(
        spark.read.option("mergeSchema", "true").parquet(path),
        spark.createDataFrame([(2,)], "id long"),
        "id",
    )
    kept_old = eng._rewrite_atomic(path, remaining, defer_cleanup=True)
    assert kept_old == old_path and os.path.isdir(old_path)

    os.utime(pending, (time.time() - 1200, time.time() - 1200))
    reopened = Engine(spark, root)
    # erase undone, phantom gone, pre-crash state exact
    assert {(r["id"], r["v"]) for r in reopened.db().table("t").collect()} == {
        (1, "keep"), (2, "target")
    }
    assert not os.path.exists(old_path)
    assert not os.path.exists(pending)


def test_double_erase_one_table_single_tx(spark, tmp_path):
    """Round 7 (ADVICE): two Erase ops on ONE table within a single
    transaction used to share the `_old_<table>` deferred-cleanup
    path — the second rewrite rmtree'd the first's rollback image, so
    a rollback destroyed the pre-tx table.  Now repeated erases
    preserve the FIRST old dir (the pre-tx state) and both the commit
    and the rollback paths are exact."""
    import os

    root = str(tmp_path / "dd")
    eng = Engine(spark, root)
    mk = lambda rows: spark.createDataFrame(rows, "id long, v string")
    eng.submit_tx(
        [Put("t", mk([(1, "a"), (2, "b"), (3, "c")]))],
        tx_time="2024-01-01 00:00:01",
    )
    pre = {(r["id"], r["v"]) for r in eng.db().table("t").collect()}

    # rollback path: two erases succeed, then a third op fails →
    # the pre-tx table (all three rows, full history) must survive
    with pytest.raises(ValueError, match="unknown table"):
        eng.submit_tx(
            [
                Erase("t", spark.createDataFrame([(1,)], "id long")),
                Erase("t", spark.createDataFrame([(2,)], "id long")),
                Erase("never_existed", spark.createDataFrame([(9,)], "id long")),
            ],
            tx_time="2024-01-02 00:00:01",
        )
    assert {(r["id"], r["v"]) for r in eng.db().table("t").collect()} == pre
    assert eng.db().history("t").count() == 3
    assert not os.path.exists(os.path.join(root, "_old_t"))

    # commit path: both erases land in one tx
    eng.submit_tx(
        [
            Erase("t", spark.createDataFrame([(1,)], "id long")),
            Erase("t", spark.createDataFrame([(2,)], "id long")),
        ],
        tx_time="2024-01-03 00:00:01",
    )
    assert {(r["id"], r["v"]) for r in eng.db().table("t").collect()} == {
        (3, "c")
    }
    assert eng.db().history("t").count() == 1
    assert not os.path.exists(os.path.join(root, "_old_t"))
    # and a reopened engine (recovery path) agrees
    assert Engine(spark, root).db().history("t").count() == 1


def test_crashed_loser_manifest_rolls_back_despite_past_tx_time(spark, tmp_path):
    """Round 7 (ADVICE): commitment is verified by txid membership in
    the log's committed set, not by clock comparison.  A crashed
    concurrent LOSER whose tx_time sits at-or-before the winner's
    advanced head used to be classified committed (manifest retired,
    phantom files kept); now it rolls back."""
    import os
    import time
    from datetime import datetime

    from pyspark.sql import functions as FF
    from core2_spark import temporal as btmod

    root = str(tmp_path / "loser")
    eng = Engine(spark, root)
    mk = lambda rows: spark.createDataFrame(rows, "id long, v string")
    eng.submit_tx([Put("t", mk([(1, "w1")]))], tx_time="2024-01-01 00:00:01")
    # the WINNER's head is far ahead of the crashed loser's tx_time
    eng.submit_tx([Put("t", mk([(2, "w2")]))], tx_time="2024-06-01 00:00:01")

    # simulate the loser: published files + manifest at a PAST
    # tx_time, never logged (its txid is not in committed_txids)
    t_loser = datetime.fromisoformat("2024-03-01 00:00:01")
    rows = (
        btmod.put(mk([(9, "phantom")]), tx_time=t_loser)
        .withColumn(btmod.TOMBSTONE, FF.lit(False))
        .withColumn(btmod.TX_SEQ, FF.lit(0))
        .withColumn(btmod.ROW_SEQ, FF.monotonically_increasing_id())
        .withColumn(btmod.SYS_DAY, FF.to_date(FF.col(btmod.SYS_START)))
    )
    path = os.path.join(root, "t")
    pending = eng._pending_path()
    staging, moves = eng._stage_rows(path, rows)
    eng._write_pending(pending, t_loser, [d for _s, d in moves], [])
    eng._publish_staged(path, staging, moves)
    assert eng.db().history("t").count() == 3  # phantom visible pre-recovery

    os.utime(pending, (time.time() - 1200, time.time() - 1200))
    reopened = Engine(spark, root)
    assert not os.path.exists(pending)
    assert {r["id"] for r in reopened.db().table("t").collect()} == {1, 2}
    assert reopened.db().history("t").count() == 2  # phantom rolled back

    # and a COMMITTED tx's surviving manifest (crash after persist,
    # before retire) is retired WITHOUT rollback: re-create the last
    # tx's manifest under its committed txid
    import json

    committed = json.load(open(os.path.join(root, "_log.json")))[
        "committed_txids"
    ]
    # bounded: at most the LAST commit's id survives (its manifest
    # was live at its own persist; the next persist prunes it)
    assert len(committed) <= 1
    basis = reopened.submit_tx(
        [Put("t", mk([(3, "w3")]))], tx_time="2024-07-01 00:00:01"
    )
    log_meta = json.load(open(os.path.join(root, "_log.json")))
    # the committing txid was recorded at the commit point
    # (pruned only at the NEXT persist, after clean retire)
    assert len(log_meta["committed_txids"]) == 1
    tid = log_meta["committed_txids"][0]
    day_dirs = [
        os.path.join(dp, f)
        for dp, dns, fns in os.walk(path)
        for f in fns
        if f.endswith(".parquet")
    ]
    manifest = os.path.join(root, "_pending", f"tx_{tid}.json")
    with open(manifest, "w") as f:
        json.dump(
            {
                "tx_time": "2024-07-01 00:00:01",
                "files": day_dirs,  # superset is fine: committed → untouched
                "restores": [],
            },
            f,
        )
    os.utime(manifest, (time.time() - 1200, time.time() - 1200))
    again = Engine(spark, root)
    assert not os.path.exists(manifest)
    assert {r["id"] for r in again.db().table("t").collect()} == {1, 2, 3}


def test_scratch_dir_age_measures_swap_time(spark, tmp_path):
    """Round 7 (ADVICE): os.rename preserves mtime, so a cold table's
    `_old_` dir used to age past the live-peer reclaim gate the
    instant it was created.  The swap now utimes scratch dirs so the
    gate measures time-since-swap."""
    import os
    import time

    root = str(tmp_path / "utime")
    eng = Engine(spark, root)
    mk = lambda rows: spark.createDataFrame(rows, "id long, v string")
    eng.submit_tx([Put("t", mk([(1, "a"), (2, "b")]))],
                  tx_time="2024-01-01 00:00:01")
    path = os.path.join(root, "t")
    # cold table: last content write was two days ago
    two_days = time.time() - 2 * 86400
    os.utime(path, (two_days, two_days))

    remaining = spark.read.option("mergeSchema", "true").parquet(path)
    old = eng._rewrite_atomic(path, remaining, defer_cleanup=True)
    assert old is not None and os.path.isdir(old)
    # the _old_ dir's age reflects the SWAP, not the cold content
    assert time.time() - os.path.getmtime(old) < 120


def test_information_schema_tables_and_columns(spark, tmp_path):
    """SQL-standard introspection over the basis catalog: tables lists
    base tables and materialized views (as their queryable mview_
    spelling); columns carries ordinal, type, and nullability — all
    from metadata, no data scan."""
    eng = Engine(spark, str(tmp_path / "infos"))
    t = spark.createDataFrame([(1, "a", 1.5)], "id long, name string, v double")
    eng.submit_tx([Put("widgets", t)])
    eng.sql_dml(
        "CREATE MATERIALIZED VIEW w_by_name AS "
        "SELECT name, COUNT(*) AS n FROM widgets GROUP BY name"
    )
    db = eng.db()
    tabs = {
        (r[0], r[1])
        for r in db.sql(
            "SELECT table_name, table_type FROM information_schema.tables"
        ).collect()
    }
    assert ("widgets", "BASE TABLE") in tabs
    assert ("mview_w_by_name", "MATERIALIZED VIEW") in tabs
    cols = [
        tuple(r)
        for r in db.sql(
            "SELECT column_name, ordinal_position, data_type "
            "FROM information_schema.columns WHERE table_name = 'widgets' "
            "ORDER BY ordinal_position"
        ).collect()
    ]
    assert cols == [("id", 1, "bigint"), ("name", 2, "string"), ("v", 3, "double")]


def test_explain_statement(spark, tmp_path):
    """EXPLAIN returns the physical plan of the dialect-rewritten
    query as a one-column relation (rides pgwire/HTTP unchanged)."""
    eng = Engine(spark, str(tmp_path / "expl"))
    t = spark.createDataFrame([(1, "a")], "id long, name string")
    eng.submit_tx([Put("t1", t)])
    rows = eng.db().sql(
        "EXPLAIN SELECT name, COUNT(*) AS n FROM t1 GROUP BY name"
    ).collect()
    text = "\n".join(r[0] for r in rows)
    assert "Physical Plan" in text and "HashAggregate" in text
    # EXPLAIN FORMATTED gives the sectioned form
    rows = eng.db().sql("EXPLAIN FORMATTED SELECT id FROM t1").collect()
    assert any("Physical Plan" in r[0] for r in rows)


def test_show_tables_and_describe(spark, tmp_path):
    eng = Engine(spark, str(tmp_path / "showt"))
    t = spark.createDataFrame([(1, "a")], "id long, name string")
    eng.submit_tx([Put("gadgets", t)])
    db = eng.db()
    tabs = [tuple(r) for r in db.sql("SHOW TABLES").collect()]
    assert ("gadgets", "BASE TABLE") in tabs
    cols = [tuple(r) for r in db.sql("DESCRIBE gadgets").collect()]
    assert cols == [("id", "bigint", "YES"), ("name", "string", "YES")]


def test_changes_refuses_window_below_rewrite_marker(spark, engine):
    """A vacuum physically removes closed version rows, so a CDC
    window opening below the effective destruction bound
    (min(horizon, claim head)) would silently omit deletes — the
    replica-divergence twin of the mview seed-1004 race.  changes()
    must refuse it loudly; windows from the bound forward (the
    retention contract's guarantee) still answer."""
    import pytest as _pytest

    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    engine.submit_tx([Put("t", v1)], tx_time="2024-01-01 00:00:01")
    ids = spark.createDataFrame([(2,)], "id long")
    engine.submit_tx([Delete("t", ids)], tx_time="2024-01-01 00:00:02")
    engine.submit_tx(
        [Put("t", spark.createDataFrame([(3, "c")], "id long, v string"))],
        tx_time="2024-01-01 00:00:03",
    )
    # horizon strictly below head: marker = horizon
    engine.vacuum("t", "2024-01-01 00:00:02")
    db = engine.db()
    with _pytest.raises(ValueError, match="rewritten"):
        db.changes("t", since="2024-01-01 00:00:01")
    # at-or-after the bound: answers as the retention contract promises
    got = {
        (r["id"], r["_change"])
        for r in db.changes("t", since="2024-01-01 00:00:02").collect()
    }
    assert got == {(3, "put")}


def test_crashed_first_tx_on_new_table_leaves_no_husk(spark, tmp_path):
    """A tx that CREATED a table, published files, and died before the
    log advanced must roll back to 'table never existed' — not to an
    empty dir husk that lists in _all_tables and then fails reads with
    UNABLE_TO_INFER_SCHEMA (kill -9 crash fuzz, seed 3031)."""
    import os
    from datetime import datetime

    from pyspark.sql import functions as FF
    from core2_spark import temporal as btmod

    root = str(tmp_path / "crash_husk")
    eng = Engine(spark, root)
    t_crash = datetime.fromisoformat("2024-01-02 00:00:01")
    rows = (
        btmod.put(
            spark.createDataFrame([(2, "phantom")], "id long, v string"),
            tx_time=t_crash,
        )
        .withColumn(btmod.TOMBSTONE, FF.lit(False))
        .withColumn(btmod.TX_SEQ, FF.lit(0))
        .withColumn(btmod.ROW_SEQ, FF.monotonically_increasing_id())
        .withColumn(btmod.SYS_DAY, FF.to_date(FF.col(btmod.SYS_START)))
    )
    pending = eng._pending_path()
    path = os.path.join(root, "t")
    staging, moves = eng._stage_rows(path, rows)
    eng._write_pending(pending, t_crash, [d for _s, d in moves], [])
    eng._publish_staged(path, staging, moves)
    assert os.path.isdir(path)

    eng2 = Engine(spark, root, reclaim_after_s=0.0)
    assert "t" not in eng2._all_tables()
    assert not os.path.exists(path)
    # and a fresh first tx on the same name works normally
    eng2.submit_tx(
        [Put("t", spark.createDataFrame([(1, "real")], "id long, v string"))]
    )
    got = {r["id"]: r["v"] for r in eng2.db().table("t").collect()}
    assert got == {1: "real"}


def test_pending_clock_guard_survives_root_respelling(spark, tmp_path):
    """The bootstrap-clock pending-file subtraction must match files by
    PATH IDENTITY, not string equality: manifests are spelled with the
    WRITER's root string, and a reader opening the same physical root
    through a symlink (or any other respelling) would otherwise miss
    the pop and re-adopt an in-flight tx's SYS_START — the exact torn
    read the guard exists to prevent (advisor, engine.py:584)."""
    import glob
    import json as _json
    import os
    from datetime import datetime

    root = str(tmp_path / "respell")
    eng = Engine(spark, root)
    t1 = datetime.fromisoformat("2024-01-02 00:00:01")
    eng.submit_tx(
        [Put("t", spark.createDataFrame([(1, "x")], "id long, v string"))],
        tx_time=t1,
    )
    files = glob.glob(os.path.join(root, "t", "**", "*.parquet"), recursive=True)
    assert files
    # simulate: writer crashed mid-FIRST-commit — no log, files pending
    os.remove(os.path.join(root, "_log.json"))
    link = str(tmp_path / "respell_link")
    os.symlink(root, link)
    respelled = [os.path.join(link, os.path.relpath(f, root)) for f in files]
    pdir = os.path.join(root, "_pending")
    os.makedirs(pdir, exist_ok=True)

    def write_manifest(meta):
        with open(os.path.join(pdir, "tx_deadbeef.json"), "w") as f:
            _json.dump(meta, f)

    # (a) new-format manifest: recorded writer root, link-spelled files
    write_manifest({"tx_time": t1.isoformat(), "root": link, "files": respelled})
    eng2 = Engine(spark, root)  # default reclaim: manifest treated live
    assert eng2._last_tx_time is None, (
        "link-spelled pending files must still be subtracted from the "
        "fallback clock sweep"
    )
    # (b) legacy manifest without 'root': realpath fallback must match
    write_manifest({"tx_time": t1.isoformat(), "files": respelled})
    eng3 = Engine(spark, root)
    assert eng3._last_tx_time is None


def test_compact_prune_spares_other_tables_live_compact(spark, tmp_path):
    """Compacting table 'u' must never reap a compact dir of table
    'u__events' — the old startswith('u__') prefix test matched the
    sibling table's versioned dirs (advisor, engine.py:2106)."""
    import os
    import time

    root = str(tmp_path / "prefix")
    eng = Engine(spark, root, reclaim_after_s=0.0)
    eng.submit_tx(
        [Put("u", spark.createDataFrame([(1, "a")], "id long, v string"))]
    )
    eng.submit_tx(
        [Put("u__events", spark.createDataFrame([(2, "b")], "id long, v string"))]
    )
    p_ev = eng.compact("u__events")
    time.sleep(0.2)
    p_u1 = eng.compact("u")
    assert os.path.isdir(p_ev), "sibling table's live compact was pruned"
    assert eng._compact_pointer("u__events") is not None
    # superseded versioned dirs of the SAME table still get pruned
    time.sleep(0.2)
    p_u2 = eng.compact("u")
    assert p_u2 != p_u1
    assert not os.path.isdir(p_u1), "superseded own compact must be pruned"
    assert os.path.isdir(p_ev)
    got = {r["v"] for r in eng.db().table("u__events").collect()}
    assert got == {"b"}


def test_compact_prunes_legacy_in_place_dir(spark, tmp_path):
    """On a root upgraded from the in-place layout, the bare
    _current/<table> dir is unreferenced once the sidecar carries a
    'dir' key — compact() must reclaim it instead of leaking a full
    table copy forever (advisor, engine.py:2137)."""
    import os
    import time

    root = str(tmp_path / "legacy")
    eng = Engine(spark, root, reclaim_after_s=0.0)
    eng.submit_tx(
        [Put("t", spark.createDataFrame([(1, "a")], "id long, v string"))]
    )
    legacy = os.path.join(root, "_current", "t")
    os.makedirs(legacy)
    with open(os.path.join(legacy, "part-legacy.parquet"), "w") as f:
        f.write("stub")
    os.utime(legacy, (1, 1))  # well past any reclaim window
    time.sleep(0.2)
    p = eng.compact("t")
    assert os.path.isdir(p)
    assert not os.path.exists(legacy), "legacy in-place dir must be reclaimed"
    # but a legacy dir still referenced by a dir-less sidecar is kept
    other = os.path.join(root, "_current", "t2")
    os.makedirs(other)
    os.utime(other, (1, 1))
    with open(os.path.join(root, "_current", "t2.json"), "w") as f:
        f.write('{"tx_time": "2024-01-01T00:00:00"}')
    time.sleep(0.2)
    eng.compact("t")
    assert os.path.isdir(other), "sidecar-referenced legacy dir must survive"

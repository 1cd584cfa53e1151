"""Incremental materialized views (core2_spark/mviews.py): every
refresh must leave the stored view EQUAL to a from-scratch groupBy of
the table's current state, with the incremental path actually taken
(mode asserted) except where the documented guards force a full
recompute (app-bounded tables, post-view Erase/vacuum)."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, seed, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from core2_spark.engine import Delete, Engine, Erase, Put
from tests.smoke import SMOKE

AGGS = {"n": ("count", "*"), "total": ("sum", "v"), "hi": ("max", "v")}


# unique root per test (and per concurrent pytest invocation): a fixed
# _data path made overlapping runs rmtree each other's engine roots
@pytest.fixture
def engine(spark, tmp_path):
    return Engine(spark, str(tmp_path / "mview_engine"))


def _rows(spark, data):
    return spark.createDataFrame(data, "id long, grp string, v double")


def _nkey(row):  # None sorts before any string
    return tuple((v is not None, v) for v in row)


def _expected(engine):
    return sorted(
        (
            tuple(r)
            for r in engine.db()
            .table("t")
            .groupBy("grp")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("v").alias("total"),
                F.max("v").alias("hi"),
            )
            .collect()
        ),
        key=_nkey,
    )


def _stored(engine):
    return sorted(
        (tuple(r) for r in engine.materialized_view("agg").collect()), key=_nkey
    )


def test_create_refresh_modes_and_equality(spark, engine):
    engine.submit_tx(
        [Put("t", _rows(spark, [(i, f"g{i % 3}", float(i)) for i in range(30)]))]
    )
    engine.create_materialized_view("agg", "t", ["grp"], AGGS)
    assert _stored(engine) == _expected(engine)

    # no new transactions → noop
    assert engine.refresh_materialized_view("agg")["mode"] == "noop"

    # update (group move), insert, delete — one incremental refresh
    engine.submit_tx(
        [
            Put("t", _rows(spark, [(0, "gX", 5.0), (3, "gX", 7.0), (100, "g1", 1.0)])),
            Delete("t", spark.createDataFrame([(6,)], "id long")),
        ]
    )
    stats = engine.refresh_materialized_view("agg")
    assert stats["mode"] == "incremental"
    # touched groups only: g0 (ids 0,3,6 left), g1 (id 100 joined),
    # gX (new).  Delete tombstones contribute NO now-key (their key
    # columns are NULL): id 6's as-of group g0 comes from discovery.
    assert stats["refreshed_groups"] == 3  # g0, g1, gX
    assert _stored(engine) == _expected(engine)

    # a group whose last member leaves disappears from the view
    engine.submit_tx(
        [Delete("t", spark.createDataFrame([(0,), (3,)], "id long"))]
    )
    assert engine.refresh_materialized_view("agg")["mode"] == "incremental"
    assert _stored(engine) == _expected(engine)
    assert not any(r[0] == "gX" for r in _stored(engine))


def test_null_group_keys_are_maintained(spark, engine):
    engine.submit_tx(
        [
            Put(
                "t",
                spark.createDataFrame(
                    [(1, None, 1.0), (2, "a", 2.0), (3, None, 3.0)],
                    "id long, grp string, v double",
                ),
            )
        ]
    )
    engine.create_materialized_view("agg", "t", ["grp"], AGGS)
    # change a NULL-group member: the null-safe join must find the
    # stored NULL row and replace it (a plain equi-join never would)
    engine.submit_tx(
        [
            Put(
                "t",
                spark.createDataFrame(
                    [(1, None, 10.0)], "id long, grp string, v double"
                ),
            )
        ]
    )
    stats = engine.refresh_materialized_view("agg")
    assert stats["mode"] == "incremental"
    assert _stored(engine) == _expected(engine)
    null_rows = [r for r in _stored(engine) if r[0] is None]
    assert null_rows == [(None, 2, 13.0, 10.0)]


def test_erase_and_vacuum_force_full_recompute(spark, engine):
    engine.submit_tx(
        [Put("t", _rows(spark, [(i, f"g{i % 3}", float(i)) for i in range(12)]))]
    )
    engine.create_materialized_view("agg", "t", ["grp"], AGGS)
    engine.submit_tx([Erase("t", spark.createDataFrame([(5,)], "id long"))])
    stats = engine.refresh_materialized_view("agg")
    assert stats["mode"] == "full"
    assert _stored(engine) == _expected(engine)

    # a vacuum AFTER the view's clock forces full on the next refresh
    engine.submit_tx(
        [Put("t", _rows(spark, [(1, "g1", 99.0)]))]
    )
    engine.vacuum("t", engine._last_tx_time)
    stats = engine.refresh_materialized_view("agg")
    assert stats["mode"] == "full"
    assert _stored(engine) == _expected(engine)

    # rewrite clocks survive reopen (persisted in _log.json)
    reopened = Engine(spark, engine.root)
    assert "t" in reopened._rewrites


def test_app_bounded_table_never_incremental(spark, engine):
    engine.submit_tx(
        [Put("t", _rows(spark, [(i, "g0", float(i)) for i in range(6)]))]
    )
    engine.create_materialized_view("agg", "t", ["grp"], AGGS)
    # an app-time-BOUNDED put marks the table: current state can then
    # change with no CDC rows, so incremental refresh would be wrong
    engine.submit_tx(
        [
            Put(
                "t",
                _rows(spark, [(1, "g0", 50.0)]),
                app_start="2024-06-01",
                app_end="2024-07-01",
            )
        ]
    )
    stats = engine.refresh_materialized_view("agg")
    assert stats["mode"] == "full"
    assert _stored(engine) == _expected(engine)


def test_validation_errors(spark, engine):
    engine.submit_tx([Put("t", _rows(spark, [(1, "a", 1.0)]))])
    with pytest.raises(ValueError, match="identifier"):
        engine.create_materialized_view("../x", "t", ["grp"], AGGS)
    with pytest.raises(ValueError, match="at least one group key"):
        engine.create_materialized_view("v", "t", [], AGGS)
    with pytest.raises(ValueError, match="unsupported aggregate"):
        engine.create_materialized_view("v", "t", ["grp"], {"x": ("median", "v")})
    with pytest.raises(ValueError, match="only valid with count"):
        engine.create_materialized_view("v", "t", ["grp"], {"x": ("sum", "*")})
    with pytest.raises(ValueError, match="collides"):
        engine.create_materialized_view("v", "t", ["grp"], {"grp": ("count", "*")})
    with pytest.raises(ValueError, match="no materialized view"):
        engine.materialized_view("absent")


@st.composite
def op_sequence(draw):
    """2-4 rounds of random puts/deletes over ids 0..19 and groups
    g0..g3 (N = NULL group), each optionally followed by maintenance
    (compact — the as-of discovery read then runs on it — or erase /
    vacuum, which must force a FULL refresh via the rewrite clock)."""
    txs = []
    for _ in range(draw(st.integers(2, 4))):
        n_put = draw(st.integers(0, 5))
        puts = [
            (
                draw(st.integers(0, 19)),
                draw(st.sampled_from(["g0", "g1", "g2", "g3", None])),
                float(draw(st.integers(0, 50))),
            )
            for _ in range(n_put)
        ]
        dels = draw(st.lists(st.integers(0, 19), max_size=3))
        maint = draw(
            st.sampled_from([None, None, "compact", "erase", "vacuum"])
        )
        txs.append((puts, dels, maint))
    return txs


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(txs=op_sequence())
@pytest.mark.slow
def test_refresh_matches_full_recompute_under_random_ops(spark, txs):
    import tempfile

    root = tempfile.mkdtemp(prefix="mview_prop_")
    engine = Engine(spark, root)
    engine.submit_tx(
        [Put("t", _rows(spark, [(i, f"g{i % 2}", float(i)) for i in range(10)]))]
    )
    engine.create_materialized_view("agg", "t", ["grp"], AGGS)
    rewritten = False
    for puts, dels, maint in txs:
        ops = []
        if puts:
            ops.append(Put("t", _rows(spark, puts)))
        if dels:
            ops.append(
                Delete(
                    "t",
                    spark.createDataFrame([(i,) for i in dels], "id long"),
                )
            )
        if ops:
            engine.submit_tx(ops)
            stats = engine.refresh_materialized_view("agg")
            assert stats["mode"] == ("full" if rewritten else "incremental")
            rewritten = False
            assert _stored(engine) == _expected(engine)
        if maint == "compact":
            engine.compact("t")
        elif maint == "erase":
            engine.submit_tx(
                [Erase("t", spark.createDataFrame([(0,), (7,)], "id long"))]
            )
            rewritten = True
        elif maint == "vacuum":
            # vacuum at the view's own clock destroys only history the
            # view already reflects — but a marker EQUAL to as_of is
            # indistinguishable from a refresh that raced the vacuum's
            # swap and lied about its as_of (the 3-writer fuzz's
            # seed-1004 divergence), so the guard conservatively takes
            # ONE full recompute per vacuum (>= with handled_rewrite),
            # then returns to incremental
            engine.vacuum("t", engine._last_tx_time)
            rewritten = True
    # final convergence regardless of trailing maintenance
    engine.refresh_materialized_view("agg")
    assert _stored(engine) == _expected(engine)


@seed(1)
@SMOKE
@given(txs=op_sequence())
def test_refresh_matches_full_recompute_under_random_ops_smoke(spark, txs):
    test_refresh_matches_full_recompute_under_random_ops.hypothesis.inner_test(
        spark, txs
    )


@pytest.mark.slow
def test_sql_maintenance_statements(spark, engine):
    """CREATE/REFRESH/DROP MATERIALIZED VIEW through the SQL frontend
    behave exactly like the Engine-method API (same mviews.py path)."""
    engine.submit_tx(
        [Put("t", _rows(spark, [(i, f"g{i % 3}", float(i)) for i in range(12)]))]
    )
    engine.sql_dml(
        "CREATE MATERIALIZED VIEW agg AS "
        "SELECT grp, COUNT(*) AS n, SUM(v) AS total, MAX(v) AS hi "
        "FROM t GROUP BY grp"
    )
    assert _stored(engine) == _expected(engine)

    engine.sql_dml("INSERT INTO t (id, grp, v) VALUES (100, 'g9', 7.0)")
    engine.sql_dml("REFRESH MATERIALIZED VIEW agg")
    assert _stored(engine) == _expected(engine)
    assert any(r[0] == "g9" for r in _stored(engine))

    engine.sql_dml("DROP MATERIALIZED VIEW agg")
    with pytest.raises(ValueError, match="no materialized view"):
        engine.materialized_view("agg")

    # maintenance statements refuse multi-statement transactions
    with pytest.raises(ValueError, match="cannot join"):
        engine.sql_dml_many(
            [
                "INSERT INTO t (id, grp, v) VALUES (101, 'g9', 8.0)",
                "REFRESH MATERIALIZED VIEW agg",
            ]
        )

    # the CREATE shape is a deliberate subset — loud rejections
    for bad, msg in [
        ("CREATE MATERIALIZED VIEW v AS SELECT grp FROM t", "GROUP BY"),
        (
            "CREATE MATERIALIZED VIEW v AS "
            "SELECT grp, SUM(v) AS s FROM t WHERE v > 1 GROUP BY grp",
            "",  # WHERE breaks the FROM <table> GROUP BY shape
        ),
        (
            "CREATE MATERIALIZED VIEW v AS "
            "SELECT upper(grp), COUNT(*) AS n FROM t GROUP BY grp",
            "unsupported select item",
        ),
        (
            "CREATE MATERIALIZED VIEW v AS "
            "SELECT grp, SUM(DISTINCT v) AS s FROM t GROUP BY grp",
            "DISTINCT only supported with COUNT",
        ),
    ]:
        with pytest.raises(ValueError, match=msg):
            engine.sql_dml(bad)


def test_sql_count_distinct_parses(spark, engine):
    engine.submit_tx(
        [Put("t", _rows(spark, [(i, f"g{i % 2}", float(i % 3)) for i in range(10)]))]
    )
    engine.sql_dml(
        "CREATE MATERIALIZED VIEW cd AS "
        "SELECT grp, COUNT(DISTINCT v) AS nv FROM t GROUP BY grp"
    )
    got = sorted(tuple(r) for r in engine.materialized_view("cd").collect())
    want = sorted(
        tuple(r)
        for r in engine.db()
        .table("t")
        .groupBy("grp")
        .agg(F.countDistinct("v").alias("nv"))
        .collect()
    )
    assert got == want


@pytest.mark.slow
def test_auto_refresh_views_tracks_commits(spark, tmp_path):
    """Engine(auto_refresh_views=True): views of touched tables
    refresh after each commit — no manual refresh calls."""
    engine = Engine(spark, str(tmp_path / "auto"), auto_refresh_views=True)
    engine.submit_tx(
        [Put("t", _rows(spark, [(i, f"g{i % 3}", float(i)) for i in range(9)]))]
    )
    engine.create_materialized_view("agg", "t", ["grp"], AGGS)
    assert list(engine.materialized_views()) == ["agg"]

    engine.submit_tx([Put("t", _rows(spark, [(0, "gZ", 9.0)]))])
    # already fresh: the commit refreshed it
    assert engine.refresh_materialized_view("agg")["mode"] == "noop"
    assert _stored(engine) == _expected(engine)
    assert any(r[0] == "gZ" for r in _stored(engine))

    # untouched tables' views are left alone
    engine.submit_tx(
        [Put("other", _rows(spark, [(1, "x", 1.0)]))]
    )
    assert engine.materialized_views()["agg"]["table"] == "t"


@pytest.mark.slow
def test_refresh_with_compact_discovery_path(spark, engine):
    """When a compact exists before the view's clock, the as-of
    discovery read merges the compact with the (c, as_of] version
    slice — same answers, including group moves and ids created after
    the compact."""
    engine.submit_tx(
        [Put("t", _rows(spark, [(i, f"g{i % 3}", float(i)) for i in range(30)]))]
    )
    engine.compact("t")
    # post-compact, pre-view changes (the (c, as_of] slice)
    engine.submit_tx(
        [Put("t", _rows(spark, [(2, "gM", 1.0), (200, "g1", 3.0)]))]
    )
    engine.create_materialized_view("agg", "t", ["grp"], AGGS)
    # post-view changes: group move of a compact-resident id, a move
    # of the slice-resident id, a delete, a brand-new id
    engine.submit_tx(
        [
            Put("t", _rows(spark, [(0, "gX", 5.0), (2, "g0", 2.0), (300, "gX", 4.0)])),
            Delete("t", spark.createDataFrame([(1,)], "id long")),
        ]
    )
    stats = engine.refresh_materialized_view("agg")
    assert stats["mode"] == "incremental"
    assert _stored(engine) == _expected(engine)
    # old groups found via compact (g0 for id 0), via the slice (gM
    # for id 2) — both now correct in the refreshed view
    assert not any(r[0] == "gM" for r in _stored(engine))


def test_mviews_queryable_in_snapshot_sql(spark, engine):
    """Materialized views register as mview_<name> in Snapshot.sql and
    join freely with basis tables."""
    engine.submit_tx(
        [Put("t", _rows(spark, [(i, f"g{i % 3}", float(i)) for i in range(9)]))]
    )
    engine.create_materialized_view(
        "agg", "t", ["grp"], {"n": ("count", "*"), "total": ("sum", "v")}
    )
    rows = engine.db().sql(
        "SELECT t.id, t.grp, m.n, m.total "
        "FROM t JOIN mview_agg m ON m.grp = t.grp "
        "WHERE t.id < 3 ORDER BY t.id"
    ).collect()
    assert [(r["id"], r["n"]) for r in rows] == [(0, 3), (1, 3), (2, 3)]
    # the view reflects ITS clock, not the basis — the seam is visible
    engine.submit_tx([Put("t", _rows(spark, [(100, "g0", 9.0)]))])
    stale = engine.db().sql("SELECT n FROM mview_agg WHERE grp = 'g0'").collect()
    assert stale[0]["n"] == 3  # not refreshed yet
    engine.refresh_materialized_view("agg")
    fresh = engine.db().sql("SELECT n FROM mview_agg WHERE grp = 'g0'").collect()
    assert fresh[0]["n"] == 4


def test_failed_tx_leaves_refresh_noop(spark, engine):
    """A rolled-back transaction rewinds the clock and leaves no CDC
    rows — the next refresh must be a noop and the view stays equal."""
    engine.submit_tx(
        [Put("t", _rows(spark, [(i, f"g{i % 2}", float(i)) for i in range(6)]))]
    )
    engine.create_materialized_view("agg", "t", ["grp"], AGGS)
    # the Put appends first; the Erase on a never-existing table then
    # fails the transaction, rolling the append back
    with pytest.raises(ValueError, match="nothing to erase"):
        engine.submit_tx(
            [
                Put("t", _rows(spark, [(0, "gX", 9.0)])),
                Erase("never_there", spark.createDataFrame([(1,)], "id long")),
            ]
        )
    assert engine.refresh_materialized_view("agg")["mode"] == "noop"
    assert _stored(engine) == _expected(engine)


def test_approx_count_distinct_agg(spark, engine):
    """approx_count_distinct views stay consistent under incremental
    refresh: affected groups recompute from scratch, so the sketch is
    re-estimated over the group's full current rows (never merged
    across refreshes) — stored always equals a direct aggregate."""
    engine.submit_tx(
        [Put("t", _rows(spark, [(i, f"g{i % 2}", float(i % 5)) for i in range(40)]))]
    )
    engine.create_materialized_view(
        "acd", "t", ["grp"], {"vals": ("approx_count_distinct", "v")}
    )
    engine.submit_tx([Put("t", _rows(spark, [(0, "g0", 99.0), (100, "g1", 77.0)]))])
    assert engine.refresh_materialized_view("acd")["mode"] == "incremental"
    got = sorted(tuple(r) for r in engine.materialized_view("acd").collect())
    want = sorted(
        tuple(r)
        for r in engine.db()
        .table("t")
        .groupBy("grp")
        .agg(F.approx_count_distinct("v").alias("vals"))
        .collect()
    )
    assert got == want


def test_recover_stranded_mview_rewrite(spark, engine):
    """A crash inside _rewrite_atomic's rename window on
    _mviews/<name>/data strands the view in _old_data; reopening the
    engine must repair it (ADVICE r5: _recover_rewrites previously
    scanned only the table root and _current)."""
    import os

    engine.submit_tx(
        [Put("t", _rows(spark, [(i, f"g{i % 2}", float(i)) for i in range(6)]))]
    )
    engine.create_materialized_view("agg", "t", ["grp"], AGGS)
    before = _stored(engine)
    base = os.path.join(engine.root, "_mviews", "agg")
    data, old = os.path.join(base, "data"), os.path.join(base, "_old_data")
    # simulate the mid-swap crash: data renamed away, tmp never renamed
    # in.  Recovery is age-gated (a young strand may be a LIVE peer's
    # in-flight swap), so open with reclaim_after_s=0 to reclaim now.
    os.rename(data, old)
    reopened = Engine(spark, engine.root, reclaim_after_s=0.0)
    assert os.path.isdir(data) and not os.path.exists(old)
    assert (
        sorted(
            (tuple(r) for r in reopened.materialized_view("agg").collect()),
            key=_nkey,
        )
        == before
    )
    # completed-swap leftover: _old_data alongside a live data dir is dropped
    import shutil

    shutil.copytree(data, old)
    Engine(spark, engine.root, reclaim_after_s=0.0)
    assert os.path.isdir(data) and not os.path.exists(old)


def test_auto_refresh_failure_does_not_raise_after_commit(spark, tmp_path):
    """View-refresh failure after a durable commit must NOT raise (a
    retrying caller would double-apply the tx): the basis returns, the
    failure lands in engine.last_refresh_errors, and a warning fires."""
    import os
    import shutil
    import warnings as w

    engine = Engine(spark, str(tmp_path / "arf"), auto_refresh_views=True)
    engine.submit_tx(
        [Put("t", _rows(spark, [(i, f"g{i % 2}", float(i)) for i in range(6)]))]
    )
    engine.create_materialized_view("agg", "t", ["grp"], AGGS)
    # sabotage the view so its refresh fails: valid meta, but the key
    # column no longer exists in the table
    meta_path = os.path.join(engine.root, "_mviews", "agg", "meta.json")
    import json

    with open(meta_path) as f:
        meta = json.load(f)
    meta["keys"] = ["no_such_column"]
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        basis = engine.submit_tx([Put("t", _rows(spark, [(100, "g0", 9.0)]))])
    assert basis is not None  # tx durable, basis returned
    assert "agg" in engine.last_refresh_errors
    assert any("auto-refresh" in str(c.message) for c in caught)
    # the new row IS committed (no double-apply hazard)
    assert engine.db(basis).table("t").filter("id = 100").count() == 1
    shutil.rmtree(os.path.join(engine.root, "_mviews", "agg"))


def test_auto_refresh_transient_failure_retries_at_fresh_head(
    spark, tmp_path, monkeypatch
):
    """Round 8: a TRANSIENT auto-refresh failure (the swap-race class —
    a concurrent vacuum yanked files under the refresh scan) is
    retried ONCE at the fresh head before surfacing; a first-attempt
    failure followed by a clean retry leaves last_refresh_errors empty
    and no RuntimeWarning."""
    import warnings as w

    from core2_spark import mviews

    engine = Engine(spark, str(tmp_path / "arfr"), auto_refresh_views=True)
    engine.submit_tx(
        [Put("t", _rows(spark, [(i, f"g{i % 2}", float(i)) for i in range(6)]))]
    )
    engine.create_materialized_view("agg", "t", ["grp"], AGGS)

    calls = {"n": 0}
    real_refresh = mviews.refresh

    def flaky(eng, name, *a, **k):
        calls["n"] += 1
        if calls["n"] == 1:
            raise FileNotFoundError(
                "PATH_NOT_FOUND: No such file or directory (simulated "
                "concurrent vacuum swap)"
            )
        return real_refresh(eng, name, *a, **k)

    monkeypatch.setattr(mviews, "refresh", flaky)
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        engine.submit_tx([Put("t", _rows(spark, [(100, "g0", 9.0)]))])
    assert calls["n"] == 2  # failed once, retried at the fresh head
    assert engine.last_refresh_errors == {}
    assert not any("auto-refresh" in str(c.message) for c in caught)
    # the retry actually refreshed: the view reflects the new row
    got = {r["grp"]: r for r in engine.materialized_view("agg").collect()}
    assert got["g0"]["n"] == 4  # ids 0,2,4 + the new 100


def test_mview_reference_case_insensitive(spark, engine):
    """FROM MVIEW_AGG resolves like mview_agg (SQL identifiers fold;
    ADVICE r5: the gate was case-insensitive but the rename was not)."""
    engine.submit_tx(
        [Put("t", _rows(spark, [(i, f"g{i % 2}", float(i)) for i in range(4)]))]
    )
    engine.create_materialized_view("agg", "t", ["grp"], AGGS)
    rows = engine.db().sql(
        "SELECT grp, n FROM MVIEW_AGG ORDER BY grp"
    ).collect()
    assert [(r["grp"], r["n"]) for r in rows] == [("g0", 2), ("g1", 2)]


def test_view_written_with_an_idkeys_sidecar_refreshes(spark, engine):
    """A view directory in the earlier layout — an ``idkeys/``
    id→keys sidecar beside the data and ``idkeys_seq`` in its meta —
    refreshes incrementally and exactly: the sidecar is never read
    (its files here are not even parquet) and the engine opens over
    it."""
    import json
    import os

    from core2_spark import mviews

    engine.submit_tx(
        [Put("t", _rows(spark, [(i, f"g{i % 3}", float(i)) for i in range(12)]))]
    )
    engine.create_materialized_view("agg", "t", ["grp"], AGGS)
    sidecar = os.path.join(engine.root, "_mviews", "agg", "idkeys")
    for sub in ("base", "delta/_mv_seq=1"):
        os.makedirs(os.path.join(sidecar, sub))
        with open(os.path.join(sidecar, sub, "part-0.parquet"), "w") as f:
            f.write("not parquet")
    with open(os.path.join(sidecar, "base_seq"), "w") as f:
        f.write("1")
    path = mviews._meta_path(engine, "agg")
    with open(path) as f:
        meta = json.load(f)
    meta["idkeys_seq"] = 1
    with open(path, "w") as f:
        json.dump(meta, f)

    engine = Engine(spark, engine.root)
    engine.submit_tx(
        [
            Put("t", _rows(spark, [(0, "gX", 5.0), (100, "g1", 1.0)])),
            Delete("t", spark.createDataFrame([(4,)], "id long")),
        ]
    )
    stats = engine.refresh_materialized_view("agg")
    assert stats["mode"] == "incremental"
    assert stats["refreshed_groups"] == 3  # g0 (id 0 left), g1, gX
    assert _stored(engine) == _expected(engine)


@pytest.mark.slow
def test_many_refreshes_stay_incremental(spark, engine):
    """20 refreshes in a row, with group moves and deletes, each stay
    incremental and leave the view equal to a full recompute."""
    engine.submit_tx(
        [Put("t", _rows(spark, [(i, f"g{i % 4}", float(i)) for i in range(16)]))]
    )
    engine.create_materialized_view("agg", "t", ["grp"], AGGS)
    for n in range(20):
        ops = [Put("t", _rows(spark, [(n % 16, f"g{(n + 1) % 4}", float(n))]))]
        if n % 5 == 4:
            ops.append(Delete("t", spark.createDataFrame([((n * 3) % 16,)], "id long")))
        engine.submit_tx(ops)
        assert engine.refresh_materialized_view("agg")["mode"] == "incremental"
        assert _stored(engine) == _expected(engine)


def _in_thread(name, fn, errors):
    import threading

    def run():
        try:
            fn()
        except Exception as exc:  # noqa: BLE001 — asserted by the test
            errors[name] = exc

    t = threading.Thread(target=run, name=name)
    t.start()
    return t


def test_drop_during_refresh_stays_dropped(spark, engine, monkeypatch):
    """DROP waits for a running refresh instead of deleting the view
    under it: the refresh's final write cannot bring the view back."""
    import os
    import threading
    import time

    from core2_spark import mviews

    engine.submit_tx(
        [Put("t", _rows(spark, [(i, f"g{i % 2}", float(i)) for i in range(6)]))]
    )
    engine.create_materialized_view("agg", "t", ["grp"], AGGS)
    engine.submit_tx([Erase("t", spark.createDataFrame([(1,)], "id long"))])
    storing, go = threading.Event(), threading.Event()
    real_store = mviews._store

    def held_store(*args):
        storing.set()
        go.wait(60)
        return real_store(*args)

    monkeypatch.setattr(mviews, "_store", held_store)
    errors: dict = {}
    refresher = _in_thread(
        "refresh", lambda: engine.refresh_materialized_view("agg"), errors
    )
    assert storing.wait(120)  # the (full) refresh holds the lock
    dropper = _in_thread(
        "drop", lambda: engine.sql_dml("DROP MATERIALIZED VIEW agg"), errors
    )
    time.sleep(0.5)
    go.set()
    refresher.join(120)
    dropper.join(120)
    assert errors == {}
    assert "agg" not in engine.materialized_views()
    assert not os.path.exists(os.path.join(engine.root, "_mviews", "agg"))


def test_refresh_queued_behind_drop_raises(spark, engine, monkeypatch):
    """A refresh waiting on the lock of a view being dropped raises
    'no materialized view' once the drop completes."""
    import threading

    from core2_spark import mviews

    engine.submit_tx(
        [Put("t", _rows(spark, [(i, f"g{i % 2}", float(i)) for i in range(6)]))]
    )
    engine.create_materialized_view("agg", "t", ["grp"], AGGS)
    engine.submit_tx([Put("t", _rows(spark, [(0, "gZ", 9.0)]))])
    dropping, refreshing, go = (threading.Event() for _ in range(3))
    real_load, real_locked = mviews._load_meta, mviews._refresh_locked

    def held_load(eng, name):
        if threading.current_thread().name == "drop":
            dropping.set()
            go.wait(60)
        return real_load(eng, name)

    def seen_locked(eng, name):
        refreshing.set()
        return real_locked(eng, name)

    monkeypatch.setattr(mviews, "_load_meta", held_load)
    monkeypatch.setattr(mviews, "_refresh_locked", seen_locked)
    errors: dict = {}
    dropper = _in_thread(
        "drop", lambda: engine.sql_dml("DROP MATERIALIZED VIEW agg"), errors
    )
    assert dropping.wait(60)
    refresher = _in_thread(
        "refresh", lambda: engine.refresh_materialized_view("agg"), errors
    )
    # the refresh must queue on the lock the drop holds, not run
    assert not refreshing.wait(2)
    go.set()
    dropper.join(120)
    refresher.join(120)
    assert set(errors) == {"refresh"}, errors
    assert isinstance(errors["refresh"], ValueError)
    assert "no materialized view" in str(errors["refresh"])
    assert "agg" not in engine.materialized_views()


@pytest.mark.slow
def test_vacuum_marker_equal_to_view_clock_repairs(spark, engine):
    """Seed-1004 regression (3-writer fuzz): a refresh racing a
    vacuum's physical swap can advance the view's as_of to EXACTLY the
    vacuum's claim marker while its CDC tail read the already-stripped
    files — the delete it missed is gone from history, so no later
    feed ever carries it.  The marker guard must treat marker == as_of
    as destructive (>=, not >) so the NEXT refresh repairs the view
    wholesale, and handled_rewrite must stop that boundary from
    re-triggering full recomputes forever after."""
    import json
    from datetime import datetime, timedelta

    from core2_spark import mviews

    engine.submit_tx(
        [Put("t", _rows(spark, [(0, "g0", 1.0), (1, "g1", 2.0)]))]
    )
    engine.create_materialized_view("agg", "t", ["grp"], AGGS)
    engine.refresh_materialized_view("agg")
    before = _stored(engine)
    assert ("g1", 1, 2.0, 2.0) in before

    # the delete the racing refresh will miss
    engine.submit_tx([Delete("t", spark.createDataFrame([(1,)], "id long"))])
    t_d = engine._last_tx_time
    # vacuum claims at the current head: marker == t_d, swap strips the
    # tombstone AND the closed put from history
    engine.vacuum("t", t_d + timedelta(seconds=120))
    assert engine._rewrites["t"] == t_d.isoformat()

    # simulate the raced refresh: as_of advanced to the marker, view
    # content still counting the deleted id (the feed it read was
    # already stripped)
    meta_path = mviews._meta_path(engine, "agg")
    with open(meta_path) as f:
        meta = json.load(f)
    meta["as_of"] = t_d.isoformat()
    meta.pop("handled_rewrite", None)
    with open(meta_path, "w") as f:
        json.dump(meta, f)

    # next refresh (fresh engine, as a periodic refresher would be)
    eng2 = Engine(spark, engine.root)
    stats = eng2.refresh_materialized_view("agg")
    assert stats["mode"] == "full", stats
    assert _stored(eng2) == _expected(eng2)
    assert not any(r[0] == "g1" for r in _stored(eng2))

    # the boundary does not re-trigger full forever: a new commit then
    # refresh goes back to incremental
    eng2.submit_tx([Put("t", _rows(spark, [(2, "g2", 3.0)]))])
    stats = eng2.refresh_materialized_view("agg")
    assert stats["mode"] == "incremental", stats
    assert _stored(eng2) == _expected(eng2)

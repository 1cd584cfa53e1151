"""Transaction total-order + within-tx sequencing semantics.

Round 2 added (a) enforcement of the totally-ordered tx clock
(`Engine._next_tx_time`: explicit times must strictly advance, derived
times advance past explicit ones) and (b) the `_tx_seq` within-tx
tiebreaker ("later write wins" when one transaction touches the same id
twice).  These tests pin both, plus a property test replaying random op
sequences against a naive per-id dict model.
"""

from __future__ import annotations

import os
import shutil
from datetime import datetime

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from core2_spark.engine import Delete, Engine, Put

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.join(REPO, "_data", "tx_ordering_test")


@pytest.fixture
def engine(spark):
    shutil.rmtree(ROOT, ignore_errors=True)
    return Engine(spark, ROOT)


def _state(db, table="t"):
    return {(r["id"], r["v"]) for r in db.table(table).collect()}


def test_explicit_tx_time_must_advance(spark, engine):
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    engine.submit_tx([Put("t", df)], tx_time="2024-06-01 00:00:00")
    with pytest.raises(ValueError, match="totally ordered"):
        engine.submit_tx([Put("t", df)], tx_time="2024-06-01 00:00:00")
    with pytest.raises(ValueError, match="totally ordered"):
        engine.submit_tx([Put("t", df)], tx_time="2024-05-31 00:00:00")
    # strictly-later explicit time is fine
    engine.submit_tx([Put("t", df)], tx_time="2024-06-01 00:00:01")


def test_derived_time_advances_past_explicit(spark, engine):
    """A derived (counter) time after a far-future explicit time must
    not travel back — db() would otherwise read an empty state."""
    df1 = spark.createDataFrame([(1, "a")], "id long, v string")
    df2 = spark.createDataFrame([(2, "b")], "id long, v string")
    engine.submit_tx([Put("t", df1)], tx_time="2030-01-01 00:00:00")
    engine.submit_tx([Put("t", df2)])  # derived — must land after 2030
    assert engine._last_tx_time > datetime(2030, 1, 1)
    assert _state(engine.db()) == {(1, "a"), (2, "b")}


def test_same_tx_put_put_later_write_wins(spark, engine):
    a = spark.createDataFrame([(1, "first")], "id long, v string")
    b = spark.createDataFrame([(1, "second")], "id long, v string")
    engine.submit_tx([Put("t", a), Put("t", b)])
    assert _state(engine.db()) == {(1, "second")}


def test_same_tx_put_then_delete_hides_id(spark, engine):
    a = spark.createDataFrame([(1, "x"), (2, "y")], "id long, v string")
    ids = spark.createDataFrame([(1,)], "id long")
    engine.submit_tx([Put("t", a), Delete("t", ids, "id")])
    assert _state(engine.db()) == {(2, "y")}


def test_same_tx_delete_then_put_resurrects_id(spark, engine):
    base = spark.createDataFrame([(1, "old")], "id long, v string")
    engine.submit_tx([Put("t", base)])
    ids = spark.createDataFrame([(1,)], "id long")
    new = spark.createDataFrame([(1, "new")], "id long, v string")
    engine.submit_tx([Delete("t", ids, "id"), Put("t", new)])
    assert _state(engine.db()) == {(1, "new")}


def test_reopened_engine_recovers_clock(spark):
    """Re-opening an Engine over an existing root must keep reading the
    committed state (clock recovered from the data, not the epoch)."""
    shutil.rmtree(ROOT, ignore_errors=True)
    eng1 = Engine(spark, ROOT)
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    eng1.submit_tx([Put("t", df)], tx_time="2024-06-01 00:00:00")

    eng2 = Engine(spark, ROOT)
    assert _state(eng2.db()) == {(1, "a")}
    # and the recovered clock still enforces the total order
    with pytest.raises(ValueError, match="totally ordered"):
        eng2.submit_tx([Put("t", df)], tx_time="2024-05-01 00:00:00")


# -- property test: random same-tx op sequences vs a dict replay -------

_OP = st.tuples(
    st.sampled_from(["put", "delete"]),
    st.integers(min_value=1, max_value=4),  # id
    st.integers(min_value=0, max_value=99),  # value (puts only)
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(txs=st.lists(st.lists(_OP, min_size=1, max_size=4), min_size=1, max_size=3))
def test_random_tx_sequences_match_naive_replay(spark, txs):
    """Replay random transactions (each a list of put/delete ops, order
    significant within the tx) through the engine and through a naive
    per-id dict; final current states must agree."""
    root = ROOT + "_prop"
    shutil.rmtree(root, ignore_errors=True)
    eng = Engine(spark, root)
    model: dict[int, int] = {}
    for tx in txs:
        ops = []
        for verb, rid, val in tx:
            if verb == "put":
                ops.append(
                    Put("t", spark.createDataFrame([(rid, val)], "id long, v long"))
                )
            else:
                ops.append(
                    Delete("t", spark.createDataFrame([(rid,)], "id long"), "id")
                )
        eng.submit_tx(ops)
        for verb, rid, val in tx:  # dict replay: later op wins
            if verb == "put":
                model[rid] = val
            else:
                model.pop(rid, None)
    got = {(r["id"], r["v"]) for r in eng.db().table("t").collect()}
    assert got == {(rid, val) for rid, val in model.items()}


def test_multi_table_tx_shares_one_clock(spark, engine):
    """Ops on different tables in one submit_tx share a tx_time: both
    visible at the returned basis, neither at an earlier basis."""
    a = spark.createDataFrame([(1, "a")], "id long, v string")
    b = spark.createDataFrame([(2, "b")], "id long, v string")
    basis0 = engine.db().basis
    basis1 = engine.submit_tx([Put("ta", a), Put("tb", b)])

    db1 = engine.db(basis1)
    assert _state(db1, "ta") == {(1, "a")}
    assert _state(db1, "tb") == {(2, "b")}
    times = {
        r["system_time_start"]
        for t in ("ta", "tb")
        for r in db1.history(t).select("system_time_start").collect()
    }
    assert len(times) == 1  # one clock for the whole transaction

    # the pre-tx basis has no manifests for the new tables at its clock
    assert "ta" not in basis0.manifests and "tb" not in basis0.manifests


def test_concurrent_writers_retry_serializes(spark, tmp_path):
    """Round 6: writer_retries>0 turns the refuse-and-refresh contract
    into optimistic retry — two engines alternate commits with NO
    manual refresh(), every commit lands, the log is a total order,
    and replay equals serial execution."""
    root = str(tmp_path / "occ")
    a = Engine(spark, root, writer_retries=3)
    b = Engine(spark, root, writer_retries=3)
    mk = lambda i, v: spark.createDataFrame([(i, v)], "id long, v string")
    expected = {}
    for i in range(6):
        writer = a if i % 2 == 0 else b
        # each commit makes the OTHER engine's token stale; with
        # retries the stale writer refreshes and replays on its own
        writer.submit_tx([Put("t", mk(i, f"w{i}"))])
        expected[i] = f"w{i}"
    # a's default basis is its own head (repeatable read): refresh to
    # see b's final commit
    a.refresh()
    assert _state(a.db()) == {(i, v) for i, v in expected.items()}
    assert _state(b.db()) == {(i, v) for i, v in expected.items()}
    # the log is a total order: history sys starts strictly increase
    hist = (
        a.db().history("t").select("id", "system_time_start").collect()
    )
    times = sorted(r["system_time_start"] for r in hist)
    assert len(times) == 6 and len(set(times)) == 6
    # a third engine replaying from disk agrees (serial-equivalent)
    assert _state(Engine(spark, root).db()) == {
        (i, v) for i, v in expected.items()
    }


def test_concurrent_writers_default_still_refuses(spark, tmp_path):
    """writer_retries=0 (default) keeps the loud single-writer error."""
    from core2_spark.engine import ConcurrentWriterError

    root = str(tmp_path / "occ0")
    a = Engine(spark, root)
    b = Engine(spark, root)
    mk = lambda i: spark.createDataFrame([(i, "x")], "id long, v string")
    a.submit_tx([Put("t", mk(1))])
    b.refresh()
    b.submit_tx([Put("t", mk(2))])
    with pytest.raises(ConcurrentWriterError):
        a.submit_tx([Put("t", mk(3))])
    # per-call override beats the engine default
    a.submit_tx([Put("t", mk(3))], retries=2)
    assert {r["id"] for r in a.db().table("t").collect()} == {1, 2, 3}


def test_concurrent_writers_threaded_interleave(spark, tmp_path):
    """Two threads hammer the same root with retries: every commit
    that returned landed exactly once (no double-apply, no loss)."""
    import threading

    root = str(tmp_path / "occ_threads")
    results: dict[str, list] = {"a": [], "b": []}

    def run(tag: str, ids: list[int]) -> None:
        eng = Engine(spark, root, writer_retries=10)
        for i in ids:
            eng.submit_tx(
                [
                    Put(
                        "t",
                        spark.createDataFrame(
                            [(i, tag)], "id long, v string"
                        ),
                    )
                ]
            )
            results[tag].append(i)

    ta = threading.Thread(target=run, args=("a", [0, 1, 2]))
    tb = threading.Thread(target=run, args=("b", [10, 11, 12]))
    ta.start(); tb.start(); ta.join(); tb.join()
    assert results["a"] == [0, 1, 2] and results["b"] == [10, 11, 12]
    rows = Engine(spark, root).db().history("t").collect()
    assert len(rows) == 6  # exactly once each: no double-apply, no loss
    times = [r["system_time_start"] for r in rows]
    assert len(set(times)) == 6  # total order: distinct positions


def test_maintenance_claim_fences_concurrent_writers(spark, tmp_path):
    """Round 6: optimize/vacuum claim a maintenance window.  A stale
    handle's maintenance op refuses up front (table untouched, no
    scratch), and after a claim the OTHER writer's commit conflicts
    and replays — its rows survive the swap instead of being silently
    dropped."""
    from core2_spark.engine import ConcurrentWriterError

    root = str(tmp_path / "maint")
    a = Engine(spark, root)
    b = Engine(spark, root, writer_retries=5)
    mk = lambda i: spark.createDataFrame([(i, f"v{i}")], "id long, v string")
    for i in range(4):
        a.submit_tx([Put("t", mk(i))])
    b.refresh()

    # stale handle refuses maintenance up front
    a.submit_tx([Put("t", mk(99))])  # makes b stale
    import pytest as _pytest

    with _pytest.raises(ConcurrentWriterError):
        b.optimize("t")
    with _pytest.raises(ConcurrentWriterError):
        b.vacuum("t", older_than="2024-06-01")
    import os

    assert not any(
        e.startswith("_tmp_") or e.startswith("_old_")
        for e in os.listdir(os.path.join(root, "t"))
    )

    # a's optimize claims the window; b (now refreshed) commits after —
    # with retries the commit lands ON the optimized table
    b.refresh()
    a.optimize("t", target_files=1)
    b.submit_tx([Put("t", mk(100))])
    b.refresh()
    ids = {r["id"] for r in b.db().table("t").collect()}
    assert ids == {0, 1, 2, 3, 99, 100}
    # reopened engine agrees (log carries the maintenance seq)
    assert {r["id"] for r in Engine(spark, root).db().table("t").collect()} == ids


def test_auto_compact_conflict_never_replays_durable_tx(spark, tmp_path):
    """Self-review r6: a ConcurrentWriterError raised by POST-commit
    auto-compaction must not escape into submit_tx's retry loop — the
    tx is durable, and a replay would double-apply it.  The commit
    returns with a warning; rows land exactly once."""
    import warnings as w

    root = str(tmp_path / "acfix")
    a = Engine(spark, root, writer_retries=3, auto_compact_files=1)
    b = Engine(spark, root, writer_retries=3)
    mk = lambda i: spark.createDataFrame([(i, "x")], "id long, v string")
    a.submit_tx([Put("t", mk(1))])
    a.submit_tx([Put("t", mk(2))])

    # make a's auto-compact conflict AFTER its next commit persists:
    # patch optimize to simulate the interleaved winner
    real_optimize = a.optimize

    def racing_optimize(table, **kw):
        b.refresh()
        b.submit_tx([Put("t", mk(99))])  # winner lands mid-maintenance
        return real_optimize(table, **kw)

    a.optimize = racing_optimize
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        a.submit_tx([Put("t", mk(3))])
    assert any("auto-compact skipped" in str(c.message) for c in caught)
    final = Engine(spark, root)
    rows = final.db().history("t").collect()
    ids = sorted(r["id"] for r in rows)
    assert ids == [1, 2, 3, 99]  # exactly once each: no double-apply


def test_random_three_writer_maintenance_schedules(spark, tmp_path):
    """Bounded in-suite twin of scripts/fuzz_concurrent_writers.py
    (the deep soak runs >=200 seeded schedules): 3 writer threads run
    random Put/Delete programs over colliding ids, interleaved with
    optimize / vacuum / mview refresh from the same threads.  Checks
    the serializability triple — commit times form a total order,
    final state equals the serial replay of commits in log order, and
    the incremental mview converges to a fresh aggregate."""
    import importlib.util

    path = os.path.join(REPO, "scripts", "fuzz_concurrent_writers.py")
    spec = importlib.util.spec_from_file_location("fuzz_cw", path)
    fuzz = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(fuzz)

    # 1004 reproduced the pre-lock lost update; (4, 122) reproduced the
    # optimize-renames-table-under-vacuum-scratch race before the
    # write-side reclassification tokens landed
    for n_writers, seed in ((3, 7), (3, 1004), (4, 122)):
        problems = fuzz.run_schedule(
            spark,
            seed=seed,
            root=str(tmp_path / f"s{n_writers}_{seed}"),
            n_writers=n_writers,
        )
        assert problems == [], f"seed={seed}: {problems}"

"""Patch/Assert under optimistic concurrency: both ops re-expand
against the REFRESHED head when a retry replays the transaction, so
(a) an ASSERT uniqueness guard cannot be raced past by a concurrent
writer, and (b) concurrent patches to different keys of one document
merge instead of losing the other writer's update.  These are the
design claims stated on engine.Assert / engine.Patch — proved here,
not just asserted in docstrings."""

from __future__ import annotations

import threading

import pytest

from core2_spark.engine import (
    Assert,
    Engine,
    Patch,
    Put,
    TxAssertionError,
)


def _seed(spark, root):
    a = Engine(spark, root, writer_retries=5)
    a.submit_tx(
        [
            Put(
                "users",
                spark.createDataFrame(
                    [(1, "ada@x")], "id long, email string"
                ),
            )
        ],
        tx_time="2024-01-01 00:00:01",
    )
    return a


def test_assert_guard_not_raceable_sequential(spark, tmp_path):
    """B's token goes stale when A commits the same email first; B's
    retry replays the tx and the RE-EVALUATED assert sees A's row —
    the insert aborts instead of committing a duplicate."""
    root = str(tmp_path / "occ_assert")
    a = _seed(spark, root)
    b = Engine(spark, root, writer_retries=5)
    b.refresh()

    def guarded_insert(eng, uid):
        eng.submit_tx(
            [
                Assert(
                    "NOT EXISTS (SELECT 1 FROM users "
                    "WHERE email = 'eve@x')",
                    "duplicate email",
                ),
                Put(
                    "users",
                    spark.createDataFrame(
                        [(uid, "eve@x")], "id long, email string"
                    ),
                ),
            ]
        )

    guarded_insert(a, 2)  # wins
    with pytest.raises(TxAssertionError, match="duplicate email"):
        guarded_insert(b, 3)  # stale token -> replay -> guard fires
    b.refresh()
    rows = b.db().table("users").collect()
    assert {(r["id"], r["email"]) for r in rows} == {
        (1, "ada@x"),
        (2, "eve@x"),
    }


def test_assert_guard_not_raceable_threaded(spark, tmp_path):
    """Two threads race the same uniqueness guard: exactly one insert
    lands, the other aborts with TxAssertionError — never two rows,
    never zero."""
    root = str(tmp_path / "occ_assert_threads")
    _seed(spark, root)
    outcomes: dict[str, str] = {}

    def run(tag: str, uid: int) -> None:
        eng = Engine(spark, root, writer_retries=10)
        try:
            eng.submit_tx(
                [
                    Assert(
                        "NOT EXISTS (SELECT 1 FROM users "
                        "WHERE email = 'race@x')"
                    ),
                    Put(
                        "users",
                        spark.createDataFrame(
                            [(uid, "race@x")], "id long, email string"
                        ),
                    ),
                ]
            )
            outcomes[tag] = "committed"
        except TxAssertionError:
            outcomes[tag] = "aborted"

    ta = threading.Thread(target=run, args=("a", 2))
    tb = threading.Thread(target=run, args=("b", 3))
    ta.start(); tb.start(); ta.join(); tb.join()
    assert sorted(outcomes.values()) == ["aborted", "committed"]
    rows = Engine(spark, root).db().table("users").collect()
    assert [r["email"] for r in rows].count("race@x") == 1


@pytest.mark.parametrize("spelling", ["op", "sql"])
def test_patch_replay_merges_winner_keys_no_lost_update(spark, tmp_path, spelling):
    """A patches key b, B (stale) patches key c on the SAME document:
    B's replay re-reads A's committed state, so the final doc carries
    BOTH keys.  A non-re-expanding design would have B overwrite the
    document as of the pre-A snapshot and silently drop b.  The SQL
    spelling (PATCH INTO .. RECORDS) lowers to the same Patch op."""
    root = str(tmp_path / "occ_patch")
    a = _seed(spark, root)
    b = Engine(spark, root, writer_retries=5)
    b.refresh()

    def patch(eng, key, val):
        if spelling == "op":
            eng.submit_tx([Patch("users", ({"id": 1, key: val},))])
        else:
            eng.sql_dml(f"PATCH INTO users RECORDS {{id: 1, {key}: '{val}'}}")

    patch(a, "plan", "pro")
    # b's token predates a's commit -> ConcurrentWriterError -> replay
    patch(b, "region", "eu")
    b.refresh()
    row = {r["id"]: r for r in b.db().table("users").collect()}[1]
    assert row["email"] == "ada@x"  # untouched key retained
    assert row["plan"] == "pro"  # the winner's key survived the loser
    assert row["region"] == "eu"


def test_sql_update_replay_rereads_winner_no_lost_update(spark, tmp_path):
    """Two writers run ``UPDATE t SET n = n + 1``; the stale one's
    replay lowers the statement again over the winner's commit, so
    both increments land."""
    root = str(tmp_path / "occ_update")
    a = Engine(spark, root, writer_retries=5)
    a.submit_tx([Put("t", spark.createDataFrame([(1, 0)], "id long, n long"))])
    b = Engine(spark, root, writer_retries=5)
    a.sql_dml("UPDATE t SET n = n + 1 WHERE id = 1")
    # b's token predates a's commit -> ConcurrentWriterError -> replay
    b.sql_dml("UPDATE t SET n = n + 1 WHERE id = 1")
    b.refresh()
    assert [tuple(r) for r in b.db().table("t").collect()] == [(1, 2)]


def test_sql_update_threaded_increments_all_land(spark, tmp_path):
    """Three threads each run ``UPDATE t SET n = n + 1`` with retries:
    every increment lands, because each replay lowers the statement
    again over the latest commit."""
    root = str(tmp_path / "occ_update_threads")
    Engine(spark, root).submit_tx(
        [Put("t", spark.createDataFrame([(1, 0)], "id long, n long"))]
    )
    errors: list[Exception] = []

    def run() -> None:
        try:
            eng = Engine(spark, root, writer_retries=10)
            eng.sql_dml("UPDATE t SET n = n + 1 WHERE id = 1")
        except Exception as exc:
            errors.append(exc)

    threads = [threading.Thread(target=run) for _ in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    rows = Engine(spark, root).db().table("t").collect()
    assert [tuple(r) for r in rows] == [(1, 3)]


def test_patch_threaded_disjoint_keys_all_survive(spark, tmp_path):
    """Three threads patch three disjoint keys of one document with
    retries: every key lands — per-key merge means no writer can
    erase another's update."""
    root = str(tmp_path / "occ_patch_threads")
    _seed(spark, root)

    def run(key: str, val: str) -> None:
        eng = Engine(spark, root, writer_retries=10)
        eng.submit_tx([Patch("users", ({"id": 1, key: val},))])

    threads = [
        threading.Thread(target=run, args=(k, v))
        for k, v in (("plan", "pro"), ("region", "eu"), ("tier", "gold"))
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    row = {r["id"]: r for r in Engine(spark, root).db().table("users").collect()}[1]
    assert (row["plan"], row["region"], row["tier"]) == ("pro", "eu", "gold")
    assert row["email"] == "ada@x"

"""ASSERT transaction statements (engine.Assert, sql_dml): a SQL
boolean predicate over the pre-tx snapshot; false or NULL aborts the
whole transaction with zero rows written — the reference's assert tx
op, the canonical uniqueness/invariant guard."""

from __future__ import annotations

import pytest

from core2_spark.engine import Assert, Engine, Put, TxAssertionError


@pytest.fixture()
def eng(spark, tmp_path):
    e = Engine(spark, str(tmp_path / "db"))
    e.sql_dml(
        "INSERT INTO users (id, email) VALUES (1, 'ada@x'), (2, 'bob@x')",
        tx_time="2024-01-01 00:00:01",
    )
    return e


def emails(e):
    return {r["email"] for r in e.db().table("users").collect()}


def test_assert_true_tx_commits(eng):
    eng.sql_dml_many(
        [
            "ASSERT NOT EXISTS (SELECT 1 FROM users WHERE email = 'eve@x')",
            "INSERT INTO users (id, email) VALUES (3, 'eve@x')",
        ],
        tx_time="2024-01-01 00:00:02",
    )
    assert emails(eng) == {"ada@x", "bob@x", "eve@x"}


def test_assert_false_aborts_whole_tx(eng):
    with pytest.raises(TxAssertionError, match="duplicate email"):
        eng.sql_dml_many(
            [
                "INSERT INTO users (id, email) VALUES (3, 'new@x')",
                "ASSERT NOT EXISTS (SELECT 1 FROM users "
                "WHERE email = 'ada@x'), 'duplicate email'",
            ],
            tx_time="2024-01-01 00:00:02",
        )
    # atomic: the INSERT in the same tx left nothing behind
    assert emails(eng) == {"ada@x", "bob@x"}


def test_assert_null_counts_as_false(eng):
    with pytest.raises(TxAssertionError):
        eng.sql_dml("ASSERT CAST(NULL AS BOOLEAN)")


def test_assert_sees_pre_tx_snapshot(eng):
    """Like every op, ASSERT evaluates against the PRE-transaction
    state — an insert earlier in the same tx is not visible to it."""
    eng.sql_dml_many(
        [
            "INSERT INTO users (id, email) VALUES (3, 'eve@x')",
            "ASSERT NOT EXISTS (SELECT 1 FROM users WHERE email = 'eve@x')",
        ],
        tx_time="2024-01-01 00:00:02",
    )
    assert "eve@x" in emails(eng)


def test_assert_scalar_comparison_form(eng):
    eng.sql_dml("ASSERT (SELECT COUNT(*) FROM users) = 2")
    with pytest.raises(TxAssertionError):
        eng.sql_dml("ASSERT (SELECT COUNT(*) FROM users) = 99")


def test_assert_message_with_top_level_comma_in_predicate(eng):
    with pytest.raises(TxAssertionError, match="bad coalesce"):
        eng.sql_dml("ASSERT COALESCE(FALSE, FALSE), 'bad coalesce'")
    # the message decodes as Spark decodes the literal: a backslash
    # escape is how a bound message holding a quote renders
    with pytest.raises(TxAssertionError, match="it's bad"):
        eng.sql_dml("ASSERT 1 > 2, 'it\\'s bad'")


def test_assert_programmatic_op(spark, eng):
    with pytest.raises(TxAssertionError, match="cap"):
        eng.submit_tx(
            [
                Put(
                    "users",
                    spark.createDataFrame([(9, "zoe@x")], "id int, email string"),
                ),
                Assert("(SELECT COUNT(*) FROM users) < 2", "cap"),
            ]
        )
    assert emails(eng) == {"ada@x", "bob@x"}


def test_assert_abort_rolls_back_the_tx_clock(eng):
    """A failing ASSERT raises during op EXPANSION, before the write
    loop's rollback handler — the clock advanced by _next_tx_time must
    still be restored, or re-submitting with the SAME explicit tx_time
    is spuriously rejected as 'not after the last transaction' even
    though nothing committed (and the in-memory clock drifts from the
    persisted one)."""
    with pytest.raises(TxAssertionError):
        eng.sql_dml_many(
            [
                "ASSERT (SELECT COUNT(*) FROM users) = 99",
                "INSERT INTO users (id, email) VALUES (3, 'eve@x')",
            ],
            tx_time="2024-01-01 00:00:02",
        )
    # same explicit tx_time now succeeds: the abort left no trace
    eng.sql_dml_many(
        [
            "ASSERT (SELECT COUNT(*) FROM users) = 2",
            "INSERT INTO users (id, email) VALUES (3, 'eve@x')",
        ],
        tx_time="2024-01-01 00:00:02",
    )
    assert emails(eng) == {"ada@x", "bob@x", "eve@x"}


def test_assert_message_naming_db_root_aborts_deterministically(eng):
    """A user-supplied assert message that substring-matches the swap
    -race tokens (e.g. it names a missing file, or the db root) must
    NOT be reclassified as a concurrent-writer race and silently
    replayed up to the retry budget — TxAssertionError aborts on the
    first attempt."""
    calls = 0
    orig = eng._reclassify_race

    def counting(exc):
        nonlocal calls
        calls += 1
        return orig(exc)

    eng._reclassify_race = counting
    try:
        with pytest.raises(TxAssertionError, match="No such file"):
            eng.submit_tx(
                [Assert("FALSE", f"No such file or directory: {eng.root}")],
                retries=5,
            )
    finally:
        eng._reclassify_race = orig
    assert calls == 0  # never entered the reclassify-and-replay path


def test_assert_rejects_malformed(eng):
    with pytest.raises(ValueError, match="optional trailing"):
        eng.sql_dml("ASSERT TRUE, 'a', 'b'")


def test_assert_over_pgwire(spark, eng):
    from core2_spark.pgwire_server import PgWireServer
    from tests.test_pgwire_server import MiniPgClient

    server = PgWireServer(lambda sql: eng.db().sql(sql), engine=eng)
    try:
        client = MiniPgClient(server.port)
        _, rows, err = client.query("ASSERT (SELECT COUNT(*) FROM users) = 2")
        assert err is None and rows == []
        _, _, err = client.query(
            "ASSERT (SELECT COUNT(*) FROM users) = 99, 'wrong count'"
        )
        assert err is not None and "wrong count" in err
        client.close()
    finally:
        server.shutdown()

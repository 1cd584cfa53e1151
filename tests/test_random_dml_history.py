"""Randomized bitemporal DML histories vs an independent model: a
sequence of INSERT / UPDATE / DELETE / MERGE statements runs through
the engine log while a plain-Python dict model replays the same edits;
afterwards the CURRENT state must match the final model AND a
FOR SYSTEM_TIME AS OF read at every intermediate commit must match the
model's snapshot at that step — the whole bitemporal promise (edits
never rewrite history) under random workloads."""

from __future__ import annotations

import tempfile

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

import pytest

# The hypothesis run is the randomized tier (VERDICT r11 task 2):
# excluded from the default run to keep it short; run with -m slow /
# --runslow / SPARK_GRAFT_RUN_SLOW=1.  Its default-tier smoke sibling
# checks one fixed example through the same body.


ops = st.lists(
    st.tuples(
        st.sampled_from(["insert", "update", "delete", "merge"]),
        st.integers(0, 9),     # id-ish parameter
        st.integers(-5, 5),    # value-ish parameter
    ),
    min_size=1,
    max_size=5,
)


@pytest.mark.slow
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(steps=ops)
def test_random_dml_history_matches_model(spark, steps):
    _history_matches_model(spark, steps)


def test_random_dml_history_smoke(spark):
    _history_matches_model(
        spark, [("insert", 1, 2), ("update", 1, 3), ("merge", 2, -1), ("delete", 0, 1)]
    )


def _history_matches_model(spark, steps):
    from core2_spark.engine import Engine, Put

    eng = Engine(spark, tempfile.mkdtemp(prefix="dml_hist_"))
    base = [(i, i * 10) for i in range(5)]
    eng.submit_tx(
        [Put("acct", spark.createDataFrame(base, "id long, v long"))],
        tx_time="2024-01-01 00:00:01",
    )
    model = dict(base)
    snapshots = [dict(model)]
    for n, (kind, a, b) in enumerate(steps, start=2):
        tx_time = f"2024-01-01 00:00:{n:02d}"
        if kind == "insert":
            nid = 100 + n  # unique per step, never collides
            eng.sql_dml(
                f"INSERT INTO acct (id, v) VALUES ({nid}, {b})",
                tx_time=tx_time,
            )
            model[nid] = b
        elif kind == "update":
            eng.sql_dml(
                f"UPDATE acct SET v = v + {b} WHERE id % 3 = {a % 3}",
                tx_time=tx_time,
            )
            for k in model:
                if k % 3 == a % 3:
                    model[k] += b
        elif kind == "delete":
            eng.sql_dml(
                f"DELETE FROM acct WHERE v < {b * 3}", tx_time=tx_time
            )
            model = {k: v for k, v in model.items() if not v < b * 3}
        else:  # merge: upsert one id, delete negatives among matches
            eng.sql_dml(
                f"MERGE INTO acct USING (SELECT {a} AS id, {b} AS v) s "
                "ON acct.id = s.id "
                "WHEN MATCHED AND s.v < 0 THEN DELETE "
                "WHEN MATCHED THEN UPDATE SET v = s.v + acct.v "
                "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)",
                tx_time=tx_time,
            )
            if a in model:
                if b < 0:
                    del model[a]
                else:
                    model[a] += b
            else:
                model[a] = b
        snapshots.append(dict(model))

    db = eng.db()
    got = {r[0]: r[1] for r in db.sql("SELECT id, v FROM acct").collect()}
    assert got == model, (got, model, steps)
    # history: every intermediate state is still readable as-of its commit
    for n, snap in enumerate(snapshots, start=1):
        at = f"2024-01-01 00:00:{n:02d}"
        hist = {
            r[0]: r[1]
            for r in db.sql(
                "SELECT id, v FROM acct FOR SYSTEM_TIME AS OF "
                f"TIMESTAMP '{at}'"
            ).collect()
        }
        assert hist == snap, (n, hist, snap, steps)

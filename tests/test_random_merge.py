"""Randomized differential testing of MERGE INTO: hypothesis generates
random target/source relations and clause constants; the expected
post-merge state is computed INDEPENDENTLY in plain Python (dict
arithmetic — no Spark, no SQL) and compared against the engine's
current state after the statement.  Pins first-match-wins ordering,
3VL conditions, anti-join inserts, and update arithmetic at once."""

from __future__ import annotations

import tempfile

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

import pytest

# The hypothesis run is the randomized tier (VERDICT r11 task 2):
# excluded from the default run to keep it short; run with -m slow /
# --runslow / SPARK_GRAFT_RUN_SLOW=1.  Its default-tier smoke sibling
# checks one fixed example through the same body.


rows = st.lists(
    st.tuples(st.integers(0, 9), st.integers(-5, 5)),
    min_size=0,
    max_size=8,
    unique_by=lambda r: r[0],
)


@pytest.mark.slow
@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(trows=rows, srows=rows, c1=st.integers(-5, 5), c3=st.integers(-5, 5))
def test_merge_matches_python_model(spark, trows, srows, c1, c3):
    _merge_matches_model(spark, trows, srows, c1, c3)


def test_merge_smoke(spark):
    # matched rows deleted and updated, unmatched ones inserted or not
    _merge_matches_model(
        spark, [(1, 5), (2, -3), (3, 0)], [(1, -4), (2, 2), (4, 3), (5, -5)], 0, -1
    )


def _merge_matches_model(spark, trows, srows, c1, c3):
    from core2_spark.engine import Engine, Put

    eng = Engine(spark, tempfile.mkdtemp(prefix="merge_fuzz_"))
    if trows:
        eng.submit_tx(
            [
                Put(
                    "tgt",
                    spark.createDataFrame(trows, "id long, v long"),
                )
            ],
            tx_time="2024-01-01 00:00:01",
        )
    else:
        eng.submit_tx(
            [Put("tgt", spark.createDataFrame([(99, 0)], "id long, v long"))],
            tx_time="2024-01-01 00:00:01",
        )
        trows = [(99, 0)]
    src_sql = (
        " UNION ALL ".join(
            f"SELECT {i} AS id, {v} AS v" for i, v in srows
        )
        or "SELECT 1 AS id, 1 AS v WHERE 1 = 0"
    )
    eng.sql_dml(
        f"MERGE INTO tgt USING ({src_sql}) s ON tgt.id = s.id "
        f"WHEN MATCHED AND s.v < {c1} THEN DELETE "
        f"WHEN MATCHED THEN UPDATE SET v = s.v + tgt.v "
        f"WHEN NOT MATCHED AND s.v > {c3} THEN INSERT (id, v) "
        f"VALUES (s.id, s.v)",
        tx_time="2024-01-01 00:00:02",
    )

    # independent model: plain python dicts
    tgt = dict(trows)
    src = dict(srows)
    expected = dict(tgt)
    for sid, sv in src.items():
        if sid in tgt:
            if sv < c1:
                del expected[sid]
            else:
                expected[sid] = sv + tgt[sid]
        elif sv > c3:
            expected[sid] = sv
    got = {
        r[0]: r[1]
        for r in eng.db().sql("SELECT id, v FROM tgt").collect()
    }
    assert got == expected, (got, expected, trows, srows, c1, c3)

"""Randomized differential testing of PATCH: hypothesis generates a
base relation and a sequence of patch statements over a random key
space; the expected final document per id is computed INDEPENDENTLY in
plain Python (dict.update arithmetic — no Spark, no SQL) and compared
against the engine's current state.  Pins the merge semantics at once:
unmentioned-key retention, explicit NULL, insert-on-absent, schema
widening, and last-patch-wins across transactions."""

from __future__ import annotations

import tempfile

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

import pytest

# The hypothesis run is the randomized tier (VERDICT r11 task 2):
# excluded from the default run to keep it short; run with -m slow /
# --runslow / SPARK_GRAFT_RUN_SLOW=1.  Its default-tier smoke sibling
# checks one fixed example through the same body.


# a record mentions a random subset of three non-id keys
_KEYS = ("a", "b", "c")

records = st.lists(
    st.tuples(
        st.integers(0, 5),  # id
        st.lists(
            st.tuples(
                st.sampled_from(_KEYS),
                st.one_of(st.none(), st.integers(-9, 9)),
            ),
            min_size=1,
            max_size=3,
            unique_by=lambda kv: kv[0],
        ),
    ),
    min_size=1,
    max_size=4,
    unique_by=lambda r: r[0],  # one record per id per statement
)


def _fmt(v) -> str:
    return "NULL" if v is None else str(v)


@pytest.mark.slow
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    base=st.lists(
        st.tuples(st.integers(0, 5), st.integers(-9, 9)),
        min_size=1,
        max_size=6,
        unique_by=lambda r: r[0],
    ),
    patches=st.lists(records, min_size=1, max_size=3),
)
def test_patch_matches_python_model(spark, base, patches):
    _patch_matches_model(spark, base, patches)


def test_patch_smoke(spark):
    # explicit NULLs, a new key, an insert-on-absent id, retained keys
    _patch_matches_model(
        spark,
        [(0, 1), (1, 2)],
        [[(0, [("a", None), ("b", 3)]), (2, [("c", 4)])], [(1, [("b", None)])]],
    )


def _patch_matches_model(spark, base, patches):
    from core2_spark.engine import Engine, Put

    eng = Engine(spark, tempfile.mkdtemp(prefix="patch_fuzz_"))
    eng.submit_tx(
        [Put("t", spark.createDataFrame(base, "id long, a long"))],
        tx_time="2024-01-01 00:00:01",
    )
    for n, stmt_records in enumerate(patches):
        literals = ", ".join(
            "{id: %d, %s}"
            % (rid, ", ".join(f"{k}: {_fmt(v)}" for k, v in kvs))
            for rid, kvs in stmt_records
        )
        eng.sql_dml(
            f"PATCH INTO t RECORDS {literals}",
            tx_time=f"2024-01-01 00:00:{2 + n:02d}",
        )

    # independent model: per-id python dicts, dict.update per patch
    docs: dict[int, dict] = {rid: {"a": a} for rid, a in base}
    for stmt_records in patches:
        for rid, kvs in stmt_records:
            docs.setdefault(rid, {}).update(dict(kvs))
    expected = {
        rid: tuple(doc.get(k) for k in _KEYS) for rid, doc in docs.items()
    }

    # a column exists only once some record witnessed a non-null value
    # for it (explicit NULL on a never-typed key is a no-op — null
    # values are not stored); reading it is NULL either way
    cols = [
        k
        for k in _KEYS
        if any(d.get(k) is not None for d in docs.values())
    ]
    got_rows = eng.db().sql("SELECT * FROM t").collect()
    got = {
        r["id"]: tuple(
            (r[k] if k in cols else None) for k in _KEYS
        )
        for r in got_rows
    }
    assert got == expected, (got, expected, base, patches)

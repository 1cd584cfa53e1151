"""Property-based bitemporal tests (SURVEY.md §5.5).

The reference used test.check generative tests for its temporal index
[upstream: core2 temporal kd-tree property tests]; the analogue here:
hypothesis generates random version histories and bases, and the
library's as-of / between / latest scans must agree with a naive
row-at-a-time Python oracle.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from core2_spark import temporal as bt

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Randomized/fuzz/soak tier (VERDICT r11 task 2): excluded from the
# default run so the driver's verify finishes; run with -m slow /
# --runslow / SPARK_GRAFT_RUN_SLOW=1.  Deterministic gate coverage of
# the same machinery stays in the default tier (oracle parity, unit
# and plan-shape tests).
pytestmark = pytest.mark.slow


T0 = datetime(2024, 1, 1)
END = datetime(9999, 12, 31)


versions_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=5),      # id
        st.integers(min_value=0, max_value=400),    # sys_start day offset
        st.integers(min_value=0, max_value=400),    # app_start day offset
        st.integers(min_value=1, max_value=200),    # app period length (days)
        st.floats(min_value=0, max_value=1000, allow_nan=False),
    ),
    min_size=1,
    max_size=25,
)


def _naive_history(rows):
    """Python oracle: per id, order by sys_start (ties: stable input
    order broken by value row index), close sys periods by successor."""
    hist = []
    for idx, (rid, sys_off, app_off, app_len, val) in enumerate(rows):
        hist.append(
            {
                "id": rid,
                "row_idx": idx,
                "sys_start": T0 + timedelta(days=sys_off),
                "app_start": T0 + timedelta(days=app_off),
                "app_end": T0 + timedelta(days=app_off + app_len),
                "val": val,
            }
        )
    by_id: dict[int, list[dict]] = {}
    for h in hist:
        by_id.setdefault(h["id"], []).append(h)
    for rid, items in by_id.items():
        items.sort(key=lambda h: (h["sys_start"], h["row_idx"]))
        for i, h in enumerate(items):
            h["sys_end"] = items[i + 1]["sys_start"] if i + 1 < len(items) else END
    return hist


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(rows=versions_strategy, s_off=st.integers(0, 400), t_off=st.integers(0, 500))
def test_asof_matches_naive_oracle(spark, rows, s_off, t_off):
    hist = _naive_history(rows)
    df = spark.createDataFrame(
        [
            (
                h["id"],
                h["row_idx"],
                h["val"],
                h["sys_start"],
                h["app_start"],
                h["app_end"],
            )
            for h in hist
        ],
        "id long, row_idx long, val double, system_time_start timestamp,"
        " app_time_start timestamp, app_time_end timestamp",
    )
    # Tie-break sys_end reconstruction identically to the oracle:
    # secondary order on row_idx for equal sys_start.
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("id").orderBy(
        F.col(bt.SYS_START).asc(), F.col("row_idx").asc()
    )
    versions = df.withColumn(
        bt.SYS_END,
        F.coalesce(F.lead(bt.SYS_START).over(w), F.lit("9999-12-31").cast("timestamp")),
    )

    s = T0 + timedelta(days=s_off)
    t = T0 + timedelta(days=t_off)

    got = {
        (r["id"], r["row_idx"])
        for r in bt.scan_as_of(versions, system_time=s, app_time=t).collect()
    }
    want = {
        (h["id"], h["row_idx"])
        for h in hist
        if h["sys_start"] <= s < h["sys_end"] and h["app_start"] <= t < h["app_end"]
    }
    assert got == want

    # Latest version: ties on sys_start resolved by row_idx (core2's
    # monotonic row-id — the later write wins).
    got_latest = {
        (r["id"], r["row_idx"])
        for r in bt.latest_versions(versions, "id", tiebreak_cols=("row_idx",)).collect()
    }
    by_id: dict[int, dict] = {}
    for h in hist:
        cur = by_id.get(h["id"])
        if cur is None or (h["sys_start"], h["row_idx"]) > (
            cur["sys_start"],
            cur["row_idx"],
        ):
            by_id[h["id"]] = h
    want_latest = {(h["id"], h["row_idx"]) for h in by_id.values()}
    assert got_latest == want_latest


# ---------------------------------------------------------------------------
# asof_join vs pandas merge_asof (property-based)
# ---------------------------------------------------------------------------

asof_left = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 100)),  # (key, ts)
    min_size=1,
    max_size=25,
)
asof_right = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 100), st.integers(-999, 999)),
    min_size=1,
    max_size=25,
)


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(left=asof_left, right=asof_right)
def test_asof_join_matches_pandas_merge_asof(spark, left, right):
    """operators.asof_join (union + ignore-nulls window) must agree
    with pandas.merge_asof (backward, inclusive) on random keyed
    series — including same-instant ties and keys absent from one
    side."""
    import pandas as pd

    from core2_spark.operators.asof_join import asof_join

    # dedupe right per (key, ts): asof_join's documented precondition
    rmap = {}
    for k, ts, v in right:
        rmap[(k, ts)] = v
    right_rows = [(k, ts, v) for (k, ts), v in sorted(rmap.items())]

    ldf = spark.createDataFrame(left, ["k", "ts"])
    rdf = spark.createDataFrame(right_rows, ["k", "ts", "v"])
    got = {
        (r["k"], r["ts"], r["v"])
        for r in asof_join(ldf, rdf, "ts", ["k"], ["v"]).collect()
    }

    lpd = pd.DataFrame(left, columns=["k", "ts"]).sort_values("ts", kind="stable")
    rpd = pd.DataFrame(right_rows, columns=["k", "ts", "v"]).sort_values(
        "ts", kind="stable"
    )
    merged = pd.merge_asof(lpd, rpd, on="ts", by="k", direction="backward")
    want = {
        (int(r.k), int(r.ts), None if pd.isna(r.v) else int(r.v))
        for r in merged.itertuples(index=False)
    }
    assert got == want


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(left=asof_left, right=asof_right, tol=st.one_of(st.none(), st.integers(0, 30)))
def test_asof_join_forward_and_tolerance_match_pandas(spark, left, right, tol):
    """direction='forward' and integer tolerance must agree with
    pandas.merge_asof(direction='forward', tolerance=...)."""
    import pandas as pd

    from core2_spark.operators.asof_join import asof_join

    rmap = {}
    for k, ts, v in right:
        rmap[(k, ts)] = v
    right_rows = [(k, ts, v) for (k, ts), v in sorted(rmap.items())]

    ldf = spark.createDataFrame(left, ["k", "ts"])
    rdf = spark.createDataFrame(right_rows, ["k", "ts", "v"])
    got = {
        (r["k"], r["ts"], r["v"])
        for r in asof_join(
            ldf, rdf, "ts", ["k"], ["v"], direction="forward", tolerance=tol
        ).collect()
    }

    lpd = pd.DataFrame(left, columns=["k", "ts"]).sort_values("ts", kind="stable")
    rpd = pd.DataFrame(right_rows, columns=["k", "ts", "v"]).sort_values(
        "ts", kind="stable"
    )
    merged = pd.merge_asof(
        lpd, rpd, on="ts", by="k", direction="forward", tolerance=tol
    )
    want = {
        (int(r.k), int(r.ts), None if pd.isna(r.v) else int(r.v))
        for r in merged.itertuples(index=False)
    }
    assert got == want


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    ops=st.lists(
        st.tuples(
            st.sampled_from(["put", "delete", "delete_portion"]),
            st.integers(min_value=1, max_value=3),   # id
            st.integers(min_value=0, max_value=90),  # app_start day offset
            st.integers(min_value=5, max_value=60),  # app period length
        ),
        min_size=2,
        max_size=5,
    ),
    probes=st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 150)),  # (tx index, app day)
        min_size=2,
        max_size=4,
    ),
)
def test_engine_portion_deletes_match_interval_model(spark, ops, probes):
    """Random put / delete / portion-delete transactions through the
    REAL engine write path; point queries at random (system, app)
    clocks must match a brute-force interval model of the rectangle
    semantics (latest known version covering the app instant wins,
    tombstones hide, bounded tombstones only within their portion)."""
    import tempfile

    from core2_spark.engine import Delete, Engine, Put

    eng = Engine(spark, tempfile.mkdtemp(prefix="tprop_"))
    model = []  # (seq, sys_time, id, app_start, app_end, tombstone, val)
    for seq, (kind, rid, app_off, app_len) in enumerate(ops):
        tx = T0 + timedelta(days=365 + seq)  # strictly increasing
        a0 = T0 + timedelta(days=app_off)
        a1 = T0 + timedelta(days=app_off + app_len)
        if kind == "put":
            df = spark.createDataFrame([(rid, float(seq))], "id long, val double")
            eng.submit_tx(
                [Put("t", df, app_start=a0.isoformat(), app_end=a1.isoformat())],
                tx_time=tx,
            )
            model.append((seq, tx, rid, a0, a1, False, float(seq)))
        else:
            ids = spark.createDataFrame([(rid,)], "id long")
            if kind == "delete":
                eng.submit_tx([Delete("t", ids)], tx_time=tx)
                model.append((seq, tx, rid, tx, END, True, None))
            else:
                eng.submit_tx(
                    [
                        Delete(
                            "t", ids,
                            app_start=a0.isoformat(), app_end=a1.isoformat(),
                        )
                    ],
                    tx_time=tx,
                )
                model.append((seq, tx, rid, a0, a1, True, None))

    db = eng.db()
    for tx_idx, app_day in probes:
        S = T0 + timedelta(days=365 + min(tx_idx, len(ops) - 1))
        T = T0 + timedelta(days=app_day)
        got = {
            (r["id"], r["val"])
            for r in db.table("t", system_time=S, app_time=T).collect()
        }
        want = set()
        for rid in {m[2] for m in model}:
            cands = [
                m
                for m in model
                if m[2] == rid and m[1] <= S and m[3] <= T < m[4]
            ]
            if not cands:
                continue
            best = max(cands, key=lambda m: (m[1], m[0]))
            if not best[5]:
                want.add((rid, best[6]))
        assert got == want, f"S={S} T={T}"


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
        HealthCheck.data_too_large,
    ],
)
@given(data=st.data())
def test_merge_on_read_equals_live_resolution(spark, data):
    """Property: for ANY op sequence without app-bounded rectangles,
    compacting at ANY point and then reading the default current
    state (merge-on-read over the stale compact) equals the live
    resolution at explicit basis times.  Erase anywhere invalidates
    the compact but must still answer identically."""
    import shutil
    from datetime import datetime, timedelta

    from core2_spark.engine import Delete, Engine, Erase, Put

    root = os.path.join(REPO, "_data", "mor_property")
    shutil.rmtree(root, ignore_errors=True)
    eng = Engine(spark, root)
    base = datetime(2024, 1, 1)

    # seed tx so later Delete/Erase always have a table to act on
    eng.submit_tx(
        [Put("t", spark.createDataFrame(
            [(x, f"seed{x}") for x in range(7)], "id long, v string"))],
        tx_time=base,
    )
    n_txs = data.draw(st.integers(3, 5), label="n_txs")
    compact_after = data.draw(st.integers(0, n_txs - 2), label="compact_after")
    for i in range(n_txs):
        kind = data.draw(
            st.sampled_from(["put", "put", "put", "delete", "erase"]),
            label=f"op{i}",
        )
        ids = data.draw(
            st.lists(st.integers(0, 6), min_size=1, max_size=3, unique=True),
            label=f"ids{i}",
        )
        t = base + timedelta(days=i + 1)
        if kind == "put":
            eng.submit_tx(
                [Put("t", spark.createDataFrame(
                    [(x, f"v{x}_{i}") for x in ids], "id long, v string"))],
                tx_time=t,
            )
        elif kind == "delete":
            eng.submit_tx(
                [Delete("t", spark.createDataFrame([(x,) for x in ids], "id long"))],
                tx_time=t,
            )
        else:
            eng.submit_tx(
                [Erase("t", spark.createDataFrame([(x,) for x in ids], "id long"))],
                tx_time=t,
            )
        if i == compact_after:
            eng.compact("t")

    db = eng.db()
    clock = eng._last_tx_time
    fast = {(r["id"], r["v"]) for r in db.table("t").collect()}
    live = {
        (r["id"], r["v"])
        for r in db.table("t", system_time=clock, app_time=clock).collect()
    }
    assert fast == live

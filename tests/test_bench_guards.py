"""Per-query bench regression guards (VERDICT r8 task 3).

The bench contract test guards only the artifact SHAPE; the r8 round
showed per-query sequential drift (q10 +47%, agg_distinct +41% vs r7)
can ride inside a green wall number.  This test runs the real bench at
the driver's sf0.1 tier and pins each query's SEQUENTIAL time (best-of-2
after GC — the bench's own regression signal, measured without
co-running queries) against a ceiling of 1.5x the r7/r8 median.

Profiling note (r9): the r8 q10/agg_distinct drift did NOT reproduce at
HEAD — 5-run minimums came out at r7 levels (q10 0.752s vs r7 0.718;
agg_distinct 0.234 vs 0.243) even under co-running load, so the drift
was machine contention during the r8 driver run, not a plan or code
regression.  The r8 publish-lock is write-path-only and cannot touch
these read queries.

Flake shield: a loaded machine inflates everything uniformly, so on a
ceiling breach the bench is re-run once and the per-query MIN of the
two runs is judged — a genuine plan regression reproduces, transient
neighbor load does not.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# 1.5x the median of the r7/r8 driver artifacts' queries_sequential
# (BENCH_r07.json / BENCH_r08.json, sf0.1).  Re-pin when the headline
# set or the fixture tier changes.
CEILINGS = {
    "tpch_q1_pricing_summary": 0.772,
    "tpch_q3_shipping_priority": 1.357,
    "tpch_q5_region_revenue": 1.566,
    "tpch_q10_returned_items": 1.333,
    "agg_distinct": 0.440,
    "window_topk_per_group": 0.729,
    "temporal_asof_bitemporal": 0.977,
    "stream_tumbling_window": 0.592,
    "dedup_exact_survivors": 0.818,
    "knn_brute_force_cosine": 0.735,
}


# Analytics-family ceilings: 1.5x a clean-machine HEAD measurement
# (first pinned in the round-9 continuation; no driver history yet).
# The fuzzy-match ceiling is the family's only join-heavy entry.
ANALYTICS_CEILINGS = {
    "text_bm25_search_topk": 2.2,
    "entity_fuzzy_match_blocked": 2.6,
    "events_retention_cohorts": 1.1,
    "events_rolling_7d_actives": 0.9,
    "ts_zscore_anomalies": 0.9,
    "ts_cusum_changepoint": 1.3,
    "events_attribution_last_touch": 1.6,
    "agg_histogram_equi_width": 0.9,
}


# sf1 (10×) analytics-family ceilings: 1.5x the min of two isolated-JVM
# HEAD measurements (r10 — the round the family entered the sf1 bench
# tier; VERDICT r9 task 2).  The family's AQE-starvation history is
# exactly the class these would catch: a starved stage serializes onto
# one core and blows 3-10x past these, not 1.5x.
SF1_ANALYTICS_CEILINGS = {
    "text_bm25_search_topk": 3.5,
    "entity_fuzzy_match_blocked": 14.0,
    "events_retention_cohorts": 1.4,
    "events_rolling_7d_actives": 1.4,
    "ts_zscore_anomalies": 1.3,
    "ts_cusum_changepoint": 2.5,
    "events_attribution_last_touch": 2.3,
    "agg_histogram_equi_width": 1.2,
}


# The sf0.1 ceilings above were pinned on a 32-core host.  Work
# that keeps 32 cores busy takes up to 32/c times as long on c cores,
# so each ceiling scales by that factor with the bench's core count
# ($SPARK_GRAFT_CPUS, as bench.py reads it): it binds exactly as pinned
# on 32 cores or more, and more loosely on a smaller host instead of
# failing there whatever the code does.
PINNED_CPUS = 32


def _scaled(ceilings: dict) -> dict:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    cpus = int(cpus) if cpus.isdigit() else (os.cpu_count() or PINNED_CPUS)
    factor = max(1.0, PINNED_CPUS / cpus)
    return {q: c * factor for q, c in ceilings.items()}


def _canary_s() -> float:
    """Fixed single-thread CPU burst (~0.095 s on this machine when
    clean) — the same wave canary scripts/measure_all_queries.py times
    next to every rep.  The box sits in a shared microVM with
    multi-minute co-tenant noise waves (same bench measured 2.2 s clean
    and 79 s mid-wave, zero code change); a hot canary marks a window
    in which a pinned clean-machine ceiling cannot be judged."""
    import hashlib
    import time

    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(1500):
        h.update(b"x" * 65536)
    return time.perf_counter() - t0


_CANARY_HOT = 0.15  # ~1.6x the clean-machine canary


def _run_bench() -> dict:
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.1",
        SPARK_GRAFT_SKIP_SF1="1",
    )
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True,
        text=True,
        env=env,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    # first non-empty line = the full detail JSON (the last line is the
    # driver-tail compact summary, which omits the sequential blocks)
    line = [l for l in out.stdout.splitlines() if l.strip()][0]
    payload = json.loads(line)
    return {**payload["queries_sequential"], **payload["analytics_sequential"]}


def _run_sf1_tier() -> dict:
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=os.path.join(REPO, "_data", "sf1"),
        SPARK_GRAFT_TIER_ONLY="1",
        SPARK_GRAFT_SKIP_SF1="1",
    )
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True,
        text=True,
        env=env,
        timeout=1200,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = [l for l in out.stdout.splitlines() if l.strip()][-1]
    return json.loads(line)["analytics_sequential"]


@pytest.mark.slow
def test_sf1_analytics_ceilings():
    """The analytics family's 10× scale tier, isolated-JVM (the same
    measurement the bench artifact's sf1 block carries since r10)."""
    import pytest

    if not os.path.isdir(os.path.join(REPO, "_data", "sf1")):
        pytest.skip("sf1 fixture tier not generated")
    seq = _run_sf1_tier()
    assert set(seq) == set(SF1_ANALYTICS_CEILINGS)
    over = {q: t for q, t in seq.items() if t > SF1_ANALYTICS_CEILINGS[q]}
    if over:
        canary = _canary_s()
        seq2 = _run_sf1_tier()
        best = {q: min(seq[q], seq2[q]) for q in seq}
        over = {q: t for q, t in best.items() if t > SF1_ANALYTICS_CEILINGS[q]}
        canary = max(canary, _canary_s())
        if over and canary > _CANARY_HOT:
            pytest.skip(
                "box mid co-tenant wave (canary "
                f"{canary:.3f}s > {_CANARY_HOT}s): "
                "pinned clean-machine ceilings not judgeable; over="
                + ", ".join(f"{q}={t:.3f}s" for q, t in sorted(over.items()))
            )
    assert not over, (
        "sf1 analytics regression past the pinned ceiling: "
        + ", ".join(
            f"{q}={t:.3f}s (ceiling {SF1_ANALYTICS_CEILINGS[q]:.3f}s)"
            for q, t in sorted(over.items())
        )
    )


def test_per_query_sequential_ceilings():
    import pytest

    ceilings = _scaled({**CEILINGS, **ANALYTICS_CEILINGS})
    seq = _run_bench()
    assert set(seq) == set(ceilings)
    over = {q: t for q, t in seq.items() if t > ceilings[q]}
    if over:
        # one retry: transient machine load inflates uniformly and does
        # not reproduce; a real regression does.  If the breach
        # persists AND the wave canary is hot, the window is not
        # judgeable against clean-machine ceilings (VERDICT r11: the
        # ceilings flaked +0.9%/+7.8% mid-wave on two queries whose
        # code had not changed) — skip rather than fail an unchanged
        # tree; a clean-canary breach still fails.
        canary = _canary_s()
        seq2 = _run_bench()
        best = {q: min(seq[q], seq2[q]) for q in seq}
        over = {q: t for q, t in best.items() if t > ceilings[q]}
        canary = max(canary, _canary_s())
        if over and canary > _CANARY_HOT:
            pytest.skip(
                "box mid co-tenant wave (canary "
                f"{canary:.3f}s > {_CANARY_HOT}s): "
                "pinned clean-machine ceilings not judgeable; over="
                + ", ".join(f"{q}={t:.3f}s" for q, t in sorted(over.items()))
            )
    assert not over, (
        "per-query sequential regression past the pinned ceiling: "
        + ", ".join(
            f"{q}={t:.3f}s (ceiling {ceilings[q]:.3f}s)"
            for q, t in sorted(over.items())
        )
    )

#!/usr/bin/env python
"""History-depth scale probe for the day-partitioned engine path.

Question (VERDICT r4 #7, widened by VERDICT r8 #6): as transaction
history deepens 10x and 100x, do the engine's read classes stay
near-flat where `_sys_day` partition pruning applies — and does that
hold AFTER the r7/r8 maintenance machinery (day-partition vacuum,
merge-on-read, the publish lock) landed, with maintenance running
CONCURRENTLY while history is written?

Builds engine roots at a ladder of history depths (default 12 and
1,200 days — 100x — of daily transactions; 2,000 row versions/day,
ids cycling so every day updates prior ids).  During each build a
concurrent maintenance thread runs optimize / vacuum / incremental
mview refresh against the same root (stale-handle refusals are legal),
so the timed artifacts are the ones a continuously-maintained 100 TB
store would have.  Then times, warm, best-of-3, BOTH wall and
plan-only (physical-plan production — catches O(files) or O(history)
planning costs that an executed count would blur):

- ``asof_early``:   as-of read pinned to day 3 (pruning drops every
                    later day — should be FLAT in history depth);
- ``changes_tail``: CDC feed of the last day (pruning drops every
                    earlier day — should be FLAT);
- ``mview_refresh``: incremental materialized-view refresh after ONE
                    new transaction (delta-driven — should be FLAT);
- ``current``:      default current-state read (must scan all history
                    for the per-id latest version — grows with depth);
- ``current_compacted``: the same read after ``Engine.compact`` (a
                    plain pushed-down scan — flat again).

Run: python scripts/probe_history_depth.py [days ...]   (default 12 1200)
Results are recorded in PERF.md (round-5 section; round-9 re-run).
"""

from __future__ import annotations

import os
import shutil
import sys
import threading
import time
from datetime import datetime, timedelta

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_PER_DAY = 2000
N_IDS = 6000  # ids cycle: each day re-puts 1/3 of the id space
BASE_DAY = datetime(2024, 1, 1)


def build(spark, root: str, days: int) -> None:
    """Write ``days`` daily transactions while a maintenance thread
    optimizes/vacuums/refreshes the same root concurrently — the
    continuously-maintained profile of a long-lived corpus store."""
    from core2_spark.engine import ConcurrentWriterError, Engine, Put

    shutil.rmtree(root, ignore_errors=True)
    eng = Engine(spark, root, writer_retries=50)
    first = spark.range(0, N_PER_DAY).selectExpr(
        "id", "id * 1.5 AS px", "'day0' AS src"
    )
    eng.submit_tx([Put("ticks", first)], tx_time=BASE_DAY)
    eng.create_materialized_view(
        "ticks_by_src", "ticks", ["src"], {"n": ("count", "*")}
    )

    stop = threading.Event()

    def maintenance() -> None:
        m = Engine(spark, root, writer_retries=50, auto_refresh_views=False)
        i = 0
        while not stop.is_set():
            try:
                if i % 3 == 0:
                    m.optimize("ticks", target_files=8)
                elif i % 3 == 1:
                    m.refresh_materialized_view("ticks_by_src")
                else:
                    m.compact("ticks")
            except ConcurrentWriterError:
                m.refresh()  # stale handle under churn: legal, retry later
            except Exception:
                m.refresh()
            i += 1
            stop.wait(2.0)

    mt = threading.Thread(target=maintenance, daemon=True)
    mt.start()
    try:
        for d in range(1, days):
            lo = (d * N_PER_DAY) % N_IDS
            rows = spark.range(lo, lo + N_PER_DAY).selectExpr(
                "id", f"id * 1.5 + {d} AS px", f"'day{d}' AS src"
            )
            eng.submit_tx(
                [Put("ticks", rows)], tx_time=BASE_DAY + timedelta(days=d)
            )
    finally:
        stop.set()
        mt.join()


def best_of(fn, n: int = 3) -> float:
    best = None
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return best


def plan_only(df) -> None:
    """Force physical-plan production without executing — the cost a
    100 TB deployment pays per query BEFORE any task runs (manifest
    reads, schema merge, partition pruning all happen here)."""
    df._jdf.queryExecution().executedPlan()


def probe(spark, root: str, days: int) -> dict[str, float]:
    from core2_spark.engine import Engine, Put

    eng = Engine(spark, root, writer_retries=50)
    db = eng.db()
    asof = datetime(2024, 1, 3, 12)
    since = BASE_DAY + timedelta(days=days - 1)

    def count_files() -> int:
        return sum(
            1
            for _r, _d, ns in os.walk(os.path.join(root, "ticks"))
            for f in ns
            if f.endswith(".parquet")
        )

    out = {}
    out["files_raw"] = count_files()
    out["asof_early"] = best_of(
        lambda: db.table("ticks", system_time=asof, app_time=asof).count()
    )
    out["asof_early_plan"] = best_of(
        lambda: plan_only(db.table("ticks", system_time=asof, app_time=asof))
    )
    out["changes_tail"] = best_of(lambda: db.changes("ticks", since=since).count())
    out["changes_tail_plan"] = best_of(
        lambda: plan_only(db.changes("ticks", since=since))
    )
    # incremental mview refresh after ONE new tx: delta-driven, so the
    # cost must track the delta, not the history depth
    def one_tx_and_refresh() -> None:
        rows = spark.range(0, 50).selectExpr(
            "id", "id * 9.9 AS px", "'probe' AS src"
        )
        eng.submit_tx([Put("ticks", rows)])
        eng.refresh_materialized_view("ticks_by_src")

    out["mview_refresh"] = best_of(one_tx_and_refresh)
    out["current"] = best_of(lambda: db.table("ticks").count())
    eng.compact("ticks")
    db2 = eng.db()
    out["current_compacted"] = best_of(lambda: db2.table("ticks").count())
    # the small-file fix: compact the version log, then re-time the
    # pruned read classes (manifest and mergeSchema costs are O(files))
    eng.optimize("ticks")
    out["files_optimized"] = count_files()
    db3 = eng.db()
    out["asof_early_optimized"] = best_of(
        lambda: db3.table("ticks", system_time=asof, app_time=asof).count()
    )
    out["changes_tail_optimized"] = best_of(
        lambda: db3.changes("ticks", since=since).count()
    )
    return out


KEYS = (
    "asof_early",
    "asof_early_plan",
    "changes_tail",
    "changes_tail_plan",
    "mview_refresh",
    "current",
    "current_compacted",
    "asof_early_optimized",
    "changes_tail_optimized",
)


def main() -> None:
    from core2_spark.session import get_spark

    depths = [int(a) for a in sys.argv[1:]] or [12, 1200]
    spark = get_spark(app_name="history-depth-probe", shuffle_partitions=8)
    base = os.path.join(REPO, "_data", "depth_probe")
    results = {}
    for days in depths:
        root = f"{base}_{days}"
        t0 = time.time()
        build(spark, root, days)
        print(f"built {days} days in {time.time() - t0:.0f}s", flush=True)
        probe(spark, root, days)  # warm the reader path before timing
        results[days] = probe(spark, root, days)
    hdr = " ".join(f"{d:>4}d" + " " * 5 for d in depths)
    print(f"{'read':>24} {hdr} {'ratio':>7}")
    lo, hi = depths[0], depths[-1]
    for key in KEYS:
        cells = " ".join(f"{results[d][key]:>8.2f}s" for d in depths)
        print(f"{key:>24} {cells} {results[hi][key] / results[lo][key]:>6.1f}x")
    for key in ("files_raw", "files_optimized"):
        cells = " ".join(f"{results[d][key]:>9}" for d in depths)
        print(f"{key:>24} {cells}")


if __name__ == "__main__":
    main()

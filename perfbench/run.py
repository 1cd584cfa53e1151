#!/usr/bin/env python3
"""The repository benchmark: one workload, one run, one JSON result.

    python3 perfbench/run.py --workload wire_serving --seed 1 --seconds 20 --trace 0

Run from the repository root.  It generates the workload's inputs from
``--seed``, starts Spark as ``local[nproc]`` (``SPARK_GRAFT_CPUS=nproc``),
sets the workload up, measures it for ``--seconds`` and checks every
result.  Everything it writes stays under ``.perfbench/``: a scratch
directory per run (removed at exit) and, in ``.perfbench/out/``, the
result of every run plus the span trace of every traced run.

Stdout ends with two JSON lines: the detail (every metric with its unit
and sample count, the host stamps, the first errors) and the result
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones, measured with tracing off; with
``--trace 1`` they are the per-layer ones from the span trace.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Gated metrics: measured on every workload and never zero.  The
# workload-specific ones (per-protocol and commit latencies, refresh
# latency, error ratio, space amplification, per-protocol and write-side
# layers) are in the detail line only.
END_TO_END = {"setup_s": "s", "ops_per_s": "1/s", "query_p50_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = (
    "session.start_s", "sql_dialect.rewrite_s", "basis.acquire_s",
    "basis.files_per_read", "engine.snapshot_build_s", "catalyst.analysis_s",
    "catalyst.optimization_s", "catalyst.planning_s", "spark.exec_s",
    "spark.jobs_per_op", "spark.tasks_per_op", "jvm.gc_s",
)
DRIVER_MEMORY = "2g"


def process_age_s() -> float:
    """Seconds since this process started (kernel clock, 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_canary_ms() -> float:
    """Best of three runs of a fixed pure-Python loop: a slow reading
    means the host was busy, whatever the code under test did."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        x = 0
        for i in range(200_000):
            x += i * i % 7
        best = min(best, time.perf_counter() - t0)
    return best * 1000


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:9]]


def process_cpu_s(*pids: int) -> float:
    """User plus system CPU seconds the processes have used so far."""
    ticks = 0
    for pid in pids:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        ticks += int(fields[11]) + int(fields[12])
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(*pids: int) -> float:
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def quantile(values: list[float], q: int) -> float:
    """The q-th percentile (exclusive method, as statistics.quantiles)."""
    return statistics.quantiles(values, n=100)[q - 1]


def summarize_latencies(name: str, values: list[float], out: dict) -> None:
    """p50, plus p90 only when at least 10 samples lie beyond it."""
    if not values:
        return
    out[name] = {"value": statistics.median(values), "unit": "s", "n": len(values)}
    if len(values) >= 100:
        out[name.replace("_p50_", "_p90_")] = {
            "value": quantile(values, 90), "unit": "s", "n": len(values)}


def start_spark(work: str):
    from core2_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # A fixed, pre-touched heap: peak RSS then moves with
            # off-heap and Python memory, not with when the collector
            # last ran (which made it spread 14% between runs).
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def main() -> int:
    age0, p0 = process_age_s(), time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.1, help="input scale (0.1 benchmark, 0.001 smoke)")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "core2_spark", "__init__.py")):
        print(f"perfbench: no core2_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS, latencies_by_kind

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    out_dir = os.path.join(base, "out")
    work = os.path.join(base, f"run-{os.getpid()}")
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(work)
    cpus = str(len(os.sched_getaffinity(0)))  # what nproc reports
    os.environ.update({
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_DRIVER_MEM": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
    })
    canary_before, stat_before = cpu_canary_ms(), cpu_times()
    spark = None
    try:
        t_session = time.perf_counter()
        spark = start_spark(work)
        t_session_end = time.perf_counter()
        if args.trace:
            from tracer import Tracer, trace_library

            tracer = Tracer(spark)
            tracer.record("session.start", t_session, t_session_end)
            trace_library(tracer)
        else:
            from tracer import NullTracer

            tracer = NullTracer()
        wl = WORKLOADS[args.workload](spark, tracer, args.seed, args.sf, work)
        try:
            wl.setup()
            t_setup_end = time.perf_counter()
            wl.warm()
            t_first = time.perf_counter()
            gc_before = tracer.jvm_gc_ms() if args.trace else 0
            pids = (os.getpid(), spark.sparkContext._gateway.proc.pid)
            cpu_before = process_cpu_s(*pids)
            wl.run(args.seconds)
            cpu_s = process_cpu_s(*pids) - cpu_before
            gc_ms = tracer.jvm_gc_ms() - gc_before if args.trace else 0
            extra = wl.extra_metrics()
        finally:
            wl.teardown()
        rss = peak_rss_mb(os.getpid(), spark.sparkContext._gateway.proc.pid)
        canary_after = cpu_canary_ms()
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    stat_after = cpu_times()

    recs = [r for r in wl.records if r["measured"]]
    ok = [r for r in recs if r["ok"]]
    failed = len(recs) - len(ok)
    if not ok:
        print(f"perfbench: no op succeeded; first errors: {wl.errors}", file=sys.stderr)
        return 1
    queries = [r["end"] - r["start"] for r in ok if not r["kind"].startswith(("commit.", "refresh"))]
    e2e: dict[str, dict] = {
        "setup_s": {"value": age0 + (t_first - p0), "unit": "s", "n": 1},
        "ops_per_s": {"value": wl.ops_per_s(ok), "unit": "1/s", "n": len(ok)},
        "peak_rss_mb": {"value": rss, "unit": "MB", "n": 1},
        "cpu_ms_per_op": {"value": 1000 * cpu_s / len(recs), "unit": "ms", "n": len(recs)},
        "error_ratio": {"value": failed / len(recs), "unit": "ratio", "n": len(recs)},
    }
    summarize_latencies("query_p50_s", queries, e2e)
    for name, value in extra.items():
        if isinstance(value, list):
            summarize_latencies(name, value, e2e)
        else:
            e2e[name] = {"value": value, "unit": "ratio", "n": 1}

    steal = [a - b for a, b in zip(stat_after, stat_before)]
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "sf": args.sf, "cpus": int(cpus),
        "end_to_end": e2e,
        "setup_phases_s": {"before_session": age0 + (t_session - p0),
                           "session": t_session_end - t_session,
                           "workload": t_setup_end - t_session_end,
                           "warm": t_first - t_setup_end},
        "ops": {k: {"p50_s": statistics.median(v), "n": len(v)}
                for k, v in sorted(latencies_by_kind(ok).items())},
        "host": {
            "cpu_canary_ms": {"before": canary_before, "after": canary_after},
            "steal_share": steal[7] / sum(steal) if sum(steal) else 0.0,
        },
        "errors": wl.errors,
    }
    missing = [k for k in END_TO_END if k not in e2e]
    if missing:
        print(f"perfbench: no samples for {missing}; first errors: {wl.errors}", file=sys.stderr)
        return 1
    run_name = f"{args.workload}-sf{args.sf:g}-seed{args.seed}"
    if args.trace:
        from summarize import UNITS, layer_metrics

        layers = layer_metrics(tracer.spans, tracer.ops, gc_ms)
        detail["per_layer"] = {k: {"value": v, "unit": UNITS[k]} for k, v in sorted(layers.items())}
        tracer.dump(os.path.join(out_dir, f"trace-{run_name}.jsonl"),
                    workload=args.workload, sf=args.sf, gc_ms=gc_ms)
        metrics = {k: {"value": layers.get(k, 0.0), "unit": UNITS[k]} for k in PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k]["value"], "unit": u} for k, u in END_TO_END.items()}
    with open(os.path.join(out_dir, f"result-{run_name}-trace{args.trace}.json"), "w") as f:
        json.dump(detail, f, indent=1)
    print(json.dumps(detail))
    print(json.dumps({"correct": failed == 0, "attempted": len(recs), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Tiny-scale smoke run of every workload, untraced and traced.

    python3 perfbench/smoke.py

Runs ``run.py`` at ``--sf 0.001`` (1.5k orders) with a short window and
asserts that each run exits 0, that every named metric is emitted with
its unit, and that no op failed or returned a wrong result
(``error_ratio`` is 0).  Takes about five minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from run import END_TO_END, PER_LAYER, ROOT
from summarize import UNITS
from workloads import WORKLOADS

# metrics each workload reports beyond the gated ones
DETAIL_END_TO_END = {
    "wire_serving": ("error_ratio", "http_p50_s", "flight_p50_s", "pgwire_p50_s"),
    "tx_small_writes": ("error_ratio", "commit_p50_s", "mview_refresh_p50_s", "space_amp"),
}
DETAIL_PER_LAYER = {
    "wire_serving": (
        "xtql.compile_s", "flight_server.df_to_arrow_s", "wire.jobs_ratio",
        *(f"{p}_server.{m}" for p in ("http", "flight", "pgwire")
          for m in ("overhead_s", "jobs_per_stmt", "jobs_ratio")),
    ),
    "tx_small_writes": (
        "sql_dml.to_ops_s", "engine.submit_tx_s", "engine.jobs_per_tx",
        "engine.files_per_tx", "engine.bytes_per_tx", "mviews.refresh_s",
        "mviews.incremental_ratio",
    ),
}


def check_run(workload: str, trace: int) -> list[str]:
    # 8 s holds a whole round of every client, so every layer is exercised
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "8", "--trace", str(trace), "--sf", "0.001"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        return [f"exit {proc.returncode}: {proc.stderr[-1500:]}"]
    lines = proc.stdout.strip().splitlines()
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        problems.append(f"correct={result['correct']} failed={result['failed']} "
                        f"attempted={result['attempted']} errors={detail['errors']}")
    want = END_TO_END if trace == 0 else {k: UNITS[k] for k in PER_LAYER}
    for name, unit in want.items():
        got = result["metrics"].get(name)
        if got is None or got.get("unit") != unit or not isinstance(got.get("value"), (int, float)):
            problems.append(f"metric {name}: {got}")
    if set(result["metrics"]) != set(want):
        problems.append(f"unexpected metrics {sorted(set(result['metrics']) - set(want))}")
    section = "end_to_end" if trace == 0 else "per_layer"
    names = DETAIL_END_TO_END if trace == 0 else DETAIL_PER_LAYER
    for name in names[workload]:
        got = detail[section].get(name)
        if got is None or "unit" not in got:
            problems.append(f"detail {name}: {got}")
    if trace == 0 and detail["end_to_end"]["error_ratio"]["value"] != 0:
        problems.append(f"error_ratio {detail['end_to_end']['error_ratio']}")
    return problems


def main() -> int:
    failures = 0
    for workload in WORKLOADS:
        for trace in (0, 1):
            problems = check_run(workload, trace)
            failures += bool(problems)
            print(f"{workload} trace={trace}: {'ok' if not problems else 'FAIL'}")
            for p in problems:
                print(f"  {p}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

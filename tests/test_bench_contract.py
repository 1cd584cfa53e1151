"""Guard the driver's bench contract: one stdout line, valid JSON,
required keys, sane values.  Runs the real bench at sf0.001 so the
check is fast."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_emits_one_json_line():
    env = dict(os.environ, SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001")
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True,
        text=True,
        env=env,
        # The box runs inside a shared microVM with multi-minute noise
        # waves (r11: the same bench measured 130 s clean and 390 s
        # during a wave, at 2% vs 30%+ steal).  This test guards the
        # OUTPUT CONTRACT, not speed — the timeout only exists to kill
        # a hung subprocess, so set it well past any observed wave.
        timeout=900,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    # r11 contract: full detail line first, then a newline-padded compact
    # summary as the LAST stdout bytes so the driver's 2000-char tail
    # always carries every tier's wall (VERDICT r10 task 2).
    assert len(lines) == 2, f"stdout must be detail+summary, got {len(lines)}"
    payload = json.loads(lines[0])
    summary = json.loads(lines[1])
    assert summary["value"] == payload["value"]
    assert summary["tiers"] == {"sf0.001": payload["value"]}
    # the driver json-parses the raw 2000-char tail: it must be exactly
    # whitespace + the summary line
    tail = json.loads(out.stdout[-2000:])
    assert tail == summary
    assert payload["unit"] == "sec"
    assert payload["value"] > 0
    assert payload["sf"] == 0.001
    assert len(payload["queries"]) == 10
    assert all(v >= 0 for v in payload["queries"].values())
    # sequential companion: same query set, uncontaminated per-query times
    assert set(payload["queries_sequential"]) == set(payload["queries"])
    assert all(v >= 0 for v in payload["queries_sequential"].values())
    # analytics block: the round-9 family rides along on the primary
    # tier (sequential-only; never part of the comparable wall)
    from bench import ANALYTICS

    assert set(payload["analytics_sequential"]) == set(ANALYTICS)
    assert all(v >= 0 for v in payload["analytics_sequential"].values())

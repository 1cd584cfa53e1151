"""Per-layer metrics from the traced run's spans.

``layer_metrics`` turns spans and op records (see ``tracer.py``) into
per-layer self times, counts and ratios over the measured ops.  A
span's self time is its duration minus the part of it covered by its
children; server-side spans are children of the client op that caused
them, so an op span's self time is what the client waited for beyond
the executor and ``df_to_arrow`` -- the server's protocol overhead.

Run as a script, it summarizes saved runs per workload and input scale::

    python3 perfbench/summarize.py [.perfbench/out]

printing the per-layer table of the newest trace, and the tracing
overhead: the median traced ``query_p50_s`` minus the median untraced
one over the saved results.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
from collections import defaultdict

PROTOCOLS = ("http", "flight", "pgwire")

# name -> unit, for every per-layer metric a run can report
UNITS = {
    "session.start_s": "s",
    "sql_dialect.rewrite_s": "s",
    "xtql.compile_s": "s",
    "basis.acquire_s": "s",
    "basis.files_per_read": "count",
    "engine.snapshot_build_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "spark.exec_s": "s",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "jvm.gc_s": "s",
    "flight_server.df_to_arrow_s": "s",
    **{f"{p}_server.{m}": u for p in PROTOCOLS
       for m, u in (("overhead_s", "s"), ("jobs_per_stmt", "count"), ("jobs_ratio", "ratio"))},
    "wire.jobs_ratio": "ratio",
    "sql_dml.to_ops_s": "s",
    "engine.submit_tx_s": "s",
    "engine.jobs_per_tx": "count",
    **{f"engine.jobs_per_tx.{k}": "count" for k in ("put", "update", "patch", "delete")},
    "engine.files_per_tx": "count",
    "engine.bytes_per_tx": "B",
    "mviews.refresh_s": "s",
    "mviews.incremental_ratio": "ratio",
}


def _mean(xs: list[float]) -> float | None:
    return sum(xs) / len(xs) if xs else None


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi > end:
            total += hi - max(lo, end)
            end = hi
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered = [(max(a, lo), min(b, hi)) for a, b in children[s["id"]] if min(b, hi) > max(a, lo)]
        out[s["id"]] = (hi - lo) - _union(covered)
    return out


def layer_metrics(spans: list[dict], ops: list[dict], gc_ms: float) -> dict[str, float]:
    """Every per-layer metric the run exercised, by name (see ``UNITS``).
    Times are seconds per op that used the layer, unless noted."""
    measured = {o["id"]: o for o in ops if o["measured"]}
    selft = self_times(spans)
    per_op = defaultdict(lambda: defaultdict(float))  # op -> layer -> self s
    attrs = defaultdict(list)  # layer -> span records of measured ops
    for s in spans:
        if s["op"] in measured and s["id"] != s["op"]:
            per_op[s["op"]][s["name"]] += selft[s["id"]]
            attrs[s["name"]].append(s)

    def layer(name: str) -> float | None:
        return _mean([layers[name] for layers in per_op.values() if name in layers])

    def jobs(op: dict) -> int:
        return len(op["jobs"])

    m: dict[str, float | None] = {
        "sql_dialect.rewrite_s": layer("sql_dialect.rewrite"),
        "xtql.compile_s": layer("xtql.compile"),
        "basis.acquire_s": layer("basis.acquire"),
        "basis.files_per_read": _mean([s["files"] for s in attrs["basis.acquire"] if "files" in s]),
        "engine.snapshot_build_s": layer("engine.snapshot_build"),
        "flight_server.df_to_arrow_s": layer("flight_server.df_to_arrow"),
        "sql_dml.to_ops_s": layer("sql_dml.to_ops"),
        "engine.submit_tx_s": layer("engine.submit_tx"),
        "engine.files_per_tx": _mean([s["files"] for s in attrs["engine.submit_tx"] if "files" in s]),
        "engine.bytes_per_tx": _mean([s["bytes"] for s in attrs["engine.submit_tx"] if "bytes" in s]),
        "mviews.refresh_s": layer("mviews.refresh"),
    }
    session = [s["end"] - s["start"] for s in spans if s["name"] == "session.start"]
    m["session.start_s"] = session[0] if session else None

    with_dfs = [o for o in measured.values() if o.get("dataframes")]
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_s"] = _mean([o["catalyst_ms"][phase] / 1000 for o in with_dfs])
    m["spark.exec_s"] = _mean([
        _union([(j["submitted_ms"], j["completed_ms"]) for j in o["jobs"]
                if j["completed_ms"] is not None]) / 1000
        for o in measured.values()
    ])
    m["spark.jobs_per_op"] = _mean([jobs(o) for o in measured.values()])
    m["spark.tasks_per_op"] = _mean([sum(j["tasks"] for j in o["jobs"]) for o in measured.values()])
    m["jvm.gc_s"] = gc_ms / 1000 / len(measured) if measured else None

    direct = {o["kind"].split(".", 1)[1]: jobs(o) for o in ops if o["client"] == "direct"}
    ratios_all = []
    for proto in PROTOCOLS:
        mine = [o for o in measured.values() if o["client"] == proto]
        ratios = [jobs(o) / direct[o["kind"].split(".", 1)[1]] for o in mine
                  if direct.get(o["kind"].split(".", 1)[1])]
        ratios_all += ratios
        m[f"{proto}_server.overhead_s"] = _mean([selft[o["id"]] for o in mine])
        m[f"{proto}_server.jobs_per_stmt"] = _mean([jobs(o) for o in mine])
        m[f"{proto}_server.jobs_ratio"] = _mean(ratios)
    m["wire.jobs_ratio"] = _mean(ratios_all)

    commits = [o for o in measured.values() if o["kind"].startswith("commit.")]
    m["engine.jobs_per_tx"] = _mean([jobs(o) for o in commits])
    for kind in ("put", "update", "patch", "delete"):
        m[f"engine.jobs_per_tx.{kind}"] = _mean([jobs(o) for o in commits if o["kind"] == f"commit.{kind}"])
    modes = [s.get("mode") for s in attrs["mviews.refresh"]]
    changed = [mode for mode in modes if mode in ("incremental", "full")]
    m["mviews.incremental_ratio"] = changed.count("incremental") / len(changed) if changed else None
    return {k: v for k, v in m.items() if v is not None}


def load_trace(path: str) -> tuple[list[dict], list[dict], dict]:
    spans, ops, meta = [], [], {}
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            kind = rec.pop("type")
            if kind == "span":
                spans.append(rec)
            elif kind == "op":
                ops.append(rec)
            else:
                meta = rec
    return spans, ops, meta


def main(out_dir: str) -> None:
    # keyed by (workload, scale): smoke runs must not mix with full ones
    results = defaultdict(lambda: {0: [], 1: []})
    for path in glob.glob(os.path.join(out_dir, "result-*.json")):
        with open(path) as f:
            res = json.load(f)
        p50 = res["end_to_end"].get("query_p50_s")
        if p50 is not None:
            results[(res["workload"], res["sf"])][res["trace"]].append(p50["value"])
    newest = {}
    for path in sorted(glob.glob(os.path.join(out_dir, "trace-*.jsonl")), key=os.path.getmtime):
        with open(path) as f:
            meta = json.loads(f.readline())
        newest[(meta["workload"], meta["sf"])] = path
    for key in sorted(set(results) | set(newest)):
        print(f"== {key[0]} (sf {key[1]:g})")
        if key in newest:
            spans, ops, meta = load_trace(newest[key])
            print(f"   trace {os.path.basename(newest[key])}")
            for name, value in sorted(layer_metrics(spans, ops, meta["gc_ms"]).items()):
                print(f"   {name:34s} {value:14.6f} {UNITS[name]}")
        plain, traced = results[key][0], results[key][1]
        if plain and traced:
            over = statistics.median(traced) - statistics.median(plain)
            print(f"   tracing overhead on query_p50_s: {over:+.6f} s "
                  f"(traced median of {len(traced)}, untraced median of {len(plain)})")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else os.path.join(".perfbench", "out"))

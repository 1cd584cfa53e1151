"""Instrumented repro for the load-sensitive failover torn read:
replays one fuzz schedule under artificial CPU load with an in-process
polling reader that, on the first state outside the journal-derived
valid set, dumps the basis manifest, file existence, the _current
sidecar, and per-file rows.  Throwaway diagnostic."""

from __future__ import annotations

import json
import multiprocessing
import os
import random
import shutil
import signal
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def burn(stop_at: float) -> None:
    x = 0
    while time.time() < stop_at:
        x += 1


def main(seed: int = 9006) -> None:
    from pyspark.sql import SparkSession

    import fuzz_failover_wire as fw
    from core2_spark.engine import Engine

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    base = os.path.join(REPO, "_data", "fuzz_failover_dbg4")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)
    root = os.path.join(base, f"seed{seed}")
    j1 = os.path.join(base, "j1.jsonl")
    j2 = os.path.join(base, "j2.jsonl")
    rng = random.Random(seed * 104729)

    hogs = [
        multiprocessing.Process(target=burn, args=(time.time() + 240,))
        for _ in range(24)
    ]
    for h in hogs:
        h.start()

    r = Engine(spark, root)
    stop = threading.Event()
    found = threading.Event()

    def valid_states():
        a1, t1 = fw._read_journal(j1)
        a2, _t2 = fw._read_journal(j2)
        valid = []
        for i in range(len(a1) + 1):
            valid.append(fw._replay(a1[:i]))
        bases = [a1]
        if t1 is not None:
            valid.append(fw._replay(a1 + [t1]))
            bases.append(a1 + [t1])
        for b in bases:
            for j in range(0, len(a2) + 1):
                valid.append(fw._replay(b + a2[:j]))
        return valid

    def poll():
        import pyarrow.parquet as pq

        while not stop.is_set():
            try:
                r.refresh()
                b = r.db()
                manifest = tuple(b.basis.manifests.get("t", ()))
                rows = b.table("t").select("id", "v").collect()
            except Exception:
                continue
            got = {x["id"]: x["v"] for x in rows}
            # journals may advance AFTER our read; re-check twice
            if got in valid_states():
                continue
            time.sleep(0.3)
            if got in valid_states():
                continue
            print("TORN:", got, flush=True)
            print("clock:", r._last_tx_time, flush=True)
            cur = os.path.join(root, "_current", "t.json")
            if os.path.exists(cur):
                print("current-sidecar:", open(cur).read(), flush=True)
            else:
                print("current-sidecar: ABSENT", flush=True)
            now_files = set()
            for rd, _d, ns in os.walk(os.path.join(root, "t")):
                now_files |= {os.path.join(rd, n) for n in ns if n.endswith(".parquet")}
            for f in manifest:
                mark = "OK" if f in now_files else "GONE"
                print(f"manifest file [{mark}]:", f[-60:], flush=True)
                if os.path.exists(f):
                    try:
                        t = pq.read_table(f, columns=["id", "v", "_tombstone", "system_time_start"]).to_pylist()
                        print("   rows:", t, flush=True)
                    except Exception as e:
                        print("   unreadable:", e, flush=True)
            for f in sorted(now_files - set(manifest)):
                print("unlisted file:", f[-60:], flush=True)
            found.set()
            stop.set()
            return

    pt = threading.Thread(target=poll)

    p1 = fw._spawn_writer(root, seed, j1, -1)
    print("writer1", p1.stdout.readline().strip(), flush=True)
    pt.start()
    time.sleep(rng.uniform(0.5, 8.0))
    try:
        os.killpg(p1.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    p1.wait()
    print("writer1 killed", flush=True)
    n_tx2 = rng.randint(4, 8)
    p2 = fw._spawn_writer(root, seed + 500_000, j2, n_tx2)
    print("writer2", p2.stdout.readline().strip(), flush=True)
    p2.wait(timeout=600)
    print("writer2 done rc", p2.returncode, flush=True)
    time.sleep(3)
    stop.set()
    pt.join()
    for h in hogs:
        h.terminate()
    print("torn found:", found.is_set(), flush=True)


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 9006)

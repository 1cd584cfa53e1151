"""Span tracer for the benchmark's traced run.

It lives entirely in the benchmark: it wraps the library's public
functions in place (``patch``) and records one span per call, plus one
span per client op.  A span is a dict with ``id``, ``name``, ``parent``,
``op``, ``start`` and ``end`` (``time.perf_counter`` seconds) and any
counts taken at the same boundary.  Spans stay in memory until
``dump`` writes them as JSONL.

Ops: ``op()`` opens a client op, binds it to the calling thread and
sets a Spark job group named after it, so every Spark job the op
causes can be counted afterwards.  Server-side work runs on the
servers' own threads; the executor the benchmark hands each server
calls ``adopt(client)`` first, which binds that thread to the client's
in-flight op (each client is a closed loop, so it has at most one).
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager


class NullTracer:
    """The untraced run: the same op interface, and nothing recorded."""

    enabled = False

    @contextmanager
    def op(self, kind: str, client: str, measured: bool = True, **attrs):
        yield {"kind": kind, "client": client, "measured": measured, **attrs}

    @contextmanager
    def span(self, name: str, **attrs):
        yield attrs

    def adopt(self, client: str) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._inflight: dict[str, dict] = {}  # client name -> its open op

    # -- spans -----------------------------------------------------------
    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def current_op(self) -> dict | None:
        return getattr(self._local, "op", None)

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        op = self.current_op()
        parent = stack[-1] if stack else (op["span"] if op else None)
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent,
            "op": op["id"] if op else None,
            "start": time.perf_counter(),
            **attrs,
        }
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            with self._lock:
                self.spans.append(rec)

    # -- ops ---------------------------------------------------------------
    def _bind(self, op: dict | None) -> None:
        self._local.op = op
        sc = self.spark.sparkContext
        if op is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(f"op-{op['id']}", op["kind"])

    @contextmanager
    def op(self, kind: str, client: str, measured: bool = True, **attrs):
        op = {
            "id": next(self._ids),
            "kind": kind,
            "client": client,
            "measured": measured,
            "dfs": [],
            **attrs,
        }
        op["span"] = op["id"]
        rec = {"id": op["id"], "name": f"op.{kind}", "parent": None, "op": op["id"]}
        self._bind(op)
        self._local.stack = [op["id"]]
        with self._lock:
            self._inflight[client] = op
        rec["start"] = op["start"] = time.perf_counter()
        try:
            yield op
        finally:
            rec["end"] = op["end"] = time.perf_counter()
            with self._lock:
                self._inflight.pop(client, None)
                self.spans.append(rec)
            self._local.stack = []
            self._bind(None)
            self._collect(op)
            with self._lock:
                self.ops.append(op)

    def adopt(self, client: str) -> None:
        """Bind the calling (server) thread to ``client``'s open op."""
        with self._lock:
            op = self._inflight.get(client)
        self._local.stack = []
        self._bind(op)

    def add_df(self, df) -> None:
        op = self.current_op()
        if op is not None:
            op["dfs"].append(df)

    def _collect(self, op: dict) -> None:
        """Counts for a finished op: its Spark jobs (ids, tasks, run
        intervals) and the Catalyst phase times of its DataFrames."""
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        jobs = []
        for jid in sc.statusTracker().getJobIdsForGroup(f"op-{op['id']}"):
            data = store.job(jid)
            done = data.completionTime()
            jobs.append({
                "job": int(jid),
                "tasks": int(data.numTasks()),
                "submitted_ms": int(data.submissionTime().get().getTime()),
                "completed_ms": int(done.get().getTime()) if done.isDefined() else None,
            })
        op["jobs"] = jobs
        phases = {"analysis": 0, "optimization": 0, "planning": 0}
        dfs = op.pop("dfs")
        op["dataframes"] = len(dfs)
        for df in dfs:
            summary = df._jdf.queryExecution().tracker().phases()
            for name in phases:
                if summary.contains(name):
                    phases[name] += int(summary.apply(name).durationMs())
        op["catalyst_ms"] = phases

    # -- patching ------------------------------------------------------------
    def patch(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` with a wrapper that records a ``name``
        span per call; ``on_result(rec, result)`` adds counts."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                result = original(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, result)
                return result

        setattr(owner, attr, wrapper)

    def record(self, name: str, start: float, end: float, **attrs) -> None:
        """A span timed by the caller (for work done before the tracer
        could wrap it, such as starting the session)."""
        rec = {"id": next(self._ids), "name": name, "parent": None, "op": None,
               "start": start, "end": end, **attrs}
        with self._lock:
            self.spans.append(rec)

    def jvm_gc_ms(self) -> int:
        beans = self.spark._jvm.java.lang.management.ManagementFactory
        return sum(
            int(b.getCollectionTime()) for b in beans.getGarbageCollectorMXBeans()
        )

    def dump(self, path: str, **meta) -> None:
        """Write spans, op records and ``meta`` as JSONL (one object
        per line)."""
        with open(path, "w") as f:
            f.write(json.dumps({"type": "meta", **meta}) + "\n")
            for rec in self.spans:
                f.write(json.dumps({"type": "span", **rec}, default=str) + "\n")
            for op in self.ops:
                f.write(json.dumps({"type": "op", **op}, default=str) + "\n")


def disk_usage(root: str) -> tuple[int, int]:
    """(parquet files, bytes of all files) under ``root``."""
    files = nbytes = 0
    for dirpath, _dirs, names in os.walk(root):
        for name in names:
            try:
                nbytes += os.path.getsize(os.path.join(dirpath, name))
            except FileNotFoundError:  # swapped away mid-walk
                continue
            files += name.endswith(".parquet")
    return files, nbytes


def trace_library(tracer: Tracer) -> None:
    """Wrap the library's public layer entry points with spans.

    ``Snapshot.sql`` calls the dialect functions, ``Engine.db`` calls
    ``acquire_basis`` and the servers call ``df_to_arrow`` through
    their module globals, so wrapping the module attribute catches
    every call."""
    from core2_spark import engine, flight_server, http_server, mviews
    from core2_spark import pgwire_server, sql_dialect, sql_dml, xtql

    tracer.patch(
        engine, "acquire_basis", "basis.acquire",
        lambda rec, basis: rec.update(
            files=sum(len(f) for f in basis.manifests.values())
        ),
    )
    tracer.patch(
        engine.Snapshot, "sql", "engine.snapshot_build",
        lambda rec, df: tracer.add_df(df),
    )
    for fn in ("pin_now", "find_temporal_tables", "rewrite_temporal_sql",
               "rename_bare_tables"):
        tracer.patch(sql_dialect, fn, "sql_dialect.rewrite")
    for module in (flight_server, http_server, pgwire_server):
        tracer.patch(module, "df_to_arrow", "flight_server.df_to_arrow")
    tracer.patch(sql_dml, "dml_to_ops", "sql_dml.to_ops")
    tracer.patch(
        mviews, "refresh", "mviews.refresh",
        lambda rec, result: rec.update(mode=result.get("mode")),
    )

    compile_pipeline = xtql.xtql_with_resolver
    depth = threading.local()

    def xtql_with_resolver(resolver, pipeline):
        # sub-pipelines recurse through the module global: only the
        # outermost DataFrame is the op's result
        level = getattr(depth, "n", 0)
        depth.n = level + 1
        try:
            with tracer.span("xtql.compile"):
                df = compile_pipeline(resolver, pipeline)
        finally:
            depth.n = level
        if level == 0:
            tracer.add_df(df)
        return df

    xtql.xtql_with_resolver = xtql_with_resolver

    submit = engine.Engine.submit_tx

    def submit_tx(self, *args, **kwargs):
        files, nbytes = disk_usage(self.root)
        with tracer.span("engine.submit_tx") as rec:
            basis = submit(self, *args, **kwargs)
        files_after, nbytes_after = disk_usage(self.root)
        rec.update(files=files_after - files, bytes=nbytes_after - nbytes)
        return basis

    engine.Engine.submit_tx = submit_tx

"""The benchmark's workloads.  Both are closed loops: a client sends its
next request only after the previous one completed.

``wire_serving`` -- three clients, one per wire protocol (HTTP ``/query``
as Arrow, Flight GetFlightInfo+DoGet, pgwire simple query), send
seed-shuffled rounds of small statements to one engine: two id point
lookups, a ``FOR SYSTEM_TIME AS OF`` lookup and a 7-group status
aggregate; the HTTP client's round also sends an XTQL pipeline to
``/xtql``.  Results are tiny, so per-statement fixed costs dominate:
dialect rewrite, view registration, basis acquisition, ``df_to_arrow``'s
count-then-fetch and Flight's second execution.  Nothing is written
while it runs.

``tx_small_writes`` -- one writer on a fresh engine loops through
seed-shuffled rounds of four commits: a 200-row Put, an ``UPDATE ..
WHERE id IN`` of 20 ids, a 10-doc ``PATCH INTO .. RECORDS`` and a 20-id
Delete.  After each commit it reads ``count(*)``/``sum(price)`` back;
after each round (every 4th commit) it refreshes an incremental view
grouped by status and reads it, beside a direct ``GROUP BY``.  Writes
sit beside reads and the file count grows with every commit, so a
read-side gain that costs writes shows here.

Every result is checked: wire results against the direct
``Snapshot.sql`` result at the same basis, writes against the
workload's own integer-cent model of the table.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import urllib.request
from concurrent.futures import ThreadPoolExecutor
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq

import datagen
from pgclient import PgClient

# Statement shapes.  {k} is an order id; {t0} the system time before
# the history-making updates.
POINT = "SELECT id, custkey, status, price FROM orders WHERE id = {k}"
ASOF = ("SELECT id, status, price FROM orders "
        "FOR SYSTEM_TIME AS OF TIMESTAMP '{t0}' WHERE id = {k}")
AGG = ("SELECT status, count(*) AS n, sum(CAST(price AS DECIMAL(38,2))) AS total "
       "FROM orders GROUP BY status")
RAW = "SELECT count(*) AS n, sum(CAST(price AS DECIMAL(38,2))) AS total FROM orders"
BY_STATUS = "SELECT status, count(*) AS n, sum(price) AS total FROM orders GROUP BY status"
WARM_SECONDS = 6.0  # wire_serving's unmeasured warm-up load
POOL_IDS = 2000  # wire_serving's lookup ids, besides the 160 with history
SEED_FILES = 24  # tx_small_writes' initial files of orders


def xtql_point(k: int) -> list:
    return [{"from": "orders", "bind": ["id", "status", "price"]},
            {"where": [["=", "id", k]]}]


def latencies_by_kind(records: list[dict]) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for r in records:
        out.setdefault(r["kind"], []).append(r["end"] - r["start"])
    return out


def arrow_rows(table: pa.Table) -> list[tuple]:
    """Order-insensitive canonical form: sorted rows of text values,
    the form pgwire delivers."""
    cols = [table.column(i).to_pylist() for i in range(table.num_columns)]
    return sorted(tuple(None if v is None else str(v) for v in row) for row in zip(*cols))


class Workload:
    """Shared op bookkeeping: every op is timed, then checked outside
    the timing; a failed or wrong op is recorded, never raised."""

    name = ""

    def __init__(self, spark, tracer, seed: int, sf: float, work_dir: str):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.sf = sf
        self.work_dir = work_dir
        self.records: list[dict] = []
        self.errors: list[str] = []

    def timed(self, kind: str, client: str, call, check, measured: bool = True):
        with self.tracer.op(kind, client, measured):
            t0 = time.perf_counter()
            try:
                result, error = call(), None
            except Exception as exc:  # an op failure is a measured outcome
                result, error = None, f"{type(exc).__name__}: {exc}"
            t1 = time.perf_counter()
        if error is None:
            try:
                error = check(result)
            except Exception as exc:
                error = f"check {type(exc).__name__}: {exc}"
        self.records.append({"kind": kind, "client": client, "measured": measured,
                             "start": t0, "end": t1, "ok": error is None})
        if error is not None and len(self.errors) < 5:
            self.errors.append(f"{kind}: {error}"[:300])
        return result

    def as_df(self, name: str, table: pa.Table):
        """A generated table as a DataFrame over a parquet file (a
        file-backed scan seeds an engine about 2x faster than
        ``createDataFrame`` over the Arrow table)."""
        path = os.path.join(self.work_dir, "inputs", f"{name}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(table, path)
        return self.spark.read.parquet(path)

    def ops_per_s(self, ok: list[dict]) -> float:
        """Completed ops per second of window; an op cut by the
        window's end counts in part."""
        w0, w1 = self.window
        done = sum((min(r["end"], w1) - max(r["start"], w0)) / (r["end"] - r["start"])
                   for r in ok)
        return done / (w1 - w0)

    def extra_metrics(self) -> dict:
        return {}

    def teardown(self) -> None:
        pass


class WireServing(Workload):
    name = "wire_serving"
    # One round per client.  Point lookups are half of each round, as
    # in serving traffic; it also puts the latency median inside the
    # point-lookup mode rather than in the gap before the slower
    # aggregates, where a few samples more or less moved it by 10%.
    clients = {
        "http": ("point", "point", "asof", "agg", "xtql"),
        "flight": ("point", "point", "asof", "agg"),
        "pgwire": ("point", "point", "asof", "agg"),
    }

    def setup(self) -> None:
        from core2_spark.engine import Engine, Put
        from core2_spark.flight_server import SqlFlightServer
        from core2_spark.http_server import SqlHttpServer
        from core2_spark.pgwire_server import PgWireServer

        spark = self.spark
        orders = datagen.orders(self.seed, self.sf)
        engine = self.engine = Engine(spark, os.path.join(self.work_dir, "engine"))
        seeded = engine.submit_tx([
            Put("orders", self.as_df("orders", orders)),
            Put("customer", self.as_df("customer", datagen.customers(self.seed, self.sf))),
        ])
        self.t0 = seeded.current_time.isoformat(sep=" ")
        # history: two transactions move four batches of orders to new
        # statuses (3 original + 4 new = 7 groups) and reprice them
        rng = datagen.rng_for(self.seed, "wire:setup")
        n = orders.num_rows
        batch = max(1, min(40, n // 8))
        moved = rng.choice(n, 4 * batch, replace=False)
        updates = [
            f"UPDATE orders SET status = '{status}', price = price + 1.5 WHERE id IN "
            f"({','.join(str(int(k)) for k in moved[i * batch:(i + 1) * batch])})"
            for i, status in enumerate("ABCD")
        ]
        engine.sql_dml_many(updates[:2])
        engine.sql_dml_many(updates[2:])
        # Lookups draw from a wide pool of ids, so almost every statement
        # text is new.  Over a pool of 32 ids, repeated statements made
        # lookups twice as fast over the first 90 s, and a run measured
        # where on that slope it happened to be.
        others = rng.choice(n, min(POOL_IDS, n), replace=False)
        self.pool = sorted({int(k) for k in moved} | {int(k) for k in others})

        # The direct results every wire result must equal (nothing is
        # written after this point, so the basis does not move).
        snap = engine.db()
        in_list = ",".join(map(str, self.pool))
        point = snap.sql(POINT.format(k=f"-1 OR id IN ({in_list})")).toArrow()
        asof = snap.sql(ASOF.format(t0=self.t0, k=f"-1 OR id IN ({in_list})")).toArrow()
        self.expect_point = {int(r[0]): r for r in arrow_rows(point)}
        self.expect_asof = {int(r[0]): r for r in arrow_rows(asof)}
        self.expect_agg = arrow_rows(snap.sql(AGG).toArrow())
        missing = {k for k in self.pool
                   if k not in self.expect_point or k not in self.expect_asof}
        if missing or len(self.expect_agg) != 7:
            raise RuntimeError(f"wire setup: bad direct results ({missing=})")
        if self.tracer.enabled:
            # one direct run per statement kind: the job counts the
            # wire paths are compared against
            k = self.pool[0]
            for kind, call in (
                ("point", lambda: engine.db().sql(POINT.format(k=k)).toArrow()),
                ("asof", lambda: engine.db().sql(ASOF.format(t0=self.t0, k=k)).toArrow()),
                ("agg", lambda: engine.db().sql(AGG).toArrow()),
                ("xtql", lambda: engine.db().xtql(xtql_point(k)).toArrow()),
            ):
                self.timed(f"direct.{kind}", "direct", call,
                           lambda t, kind=kind: self._check(kind, k, arrow_rows(t)),
                           measured=False)

        tracer = self.tracer

        def executor(client):
            def run(sql):
                tracer.adopt(client)
                with tracer.span("server.executor", protocol=client):
                    return engine.db().sql(sql)
            return run

        self.http = SqlHttpServer(executor("http"), engine=_AdoptingEngine(engine, tracer, "http"))
        self.flight = SqlFlightServer(executor("flight"))
        self.pg = PgWireServer(executor("pgwire"))
        self.flight_location = f"grpc://127.0.0.1:{self.flight.port}"
        self.pg_client = PgClient("127.0.0.1", self.pg.port)

    def _check(self, kind: str, k: int, rows: list[tuple]) -> str | None:
        if kind == "agg":
            want = self.expect_agg
        elif kind == "asof":
            want = [self.expect_asof[k]]
        elif kind == "point":
            want = [self.expect_point[k]]
        else:  # xtql returns the point lookup's columns minus custkey
            r = self.expect_point[k]
            want = [(r[0], r[2], r[3])]
        return None if rows == want else f"id {k}: got {rows[:3]}, want {want[:3]}"

    def _send(self, client: str, kind: str, k: int):
        from core2_spark.flight_server import fetch_sql
        from core2_spark.http_server import http_query

        if kind == "xtql":
            return arrow_rows(http_xtql(self.http.port, xtql_point(k)))
        sql = {"point": POINT, "asof": ASOF, "agg": AGG}[kind].format(k=k, t0=self.t0)
        if client == "http":
            return arrow_rows(http_query(self.http.port, sql, arrow=True))
        if client == "flight":
            return arrow_rows(fetch_sql(self.flight_location, sql))
        return sorted(self.pg_client.query(sql)[1])

    def _client(self, client: str, deadline: float, measured: bool) -> None:
        """One closed-loop client: seed-shuffled rounds of its statement
        kinds until the deadline."""
        rng = datagen.rng_for(self.seed, f"wire:{client}")
        kinds = self.clients[client]
        while True:
            for i in rng.permutation(len(kinds)):
                if time.perf_counter() >= deadline:
                    return
                kind, k = kinds[i], self.pool[int(rng.integers(len(self.pool)))]
                self.timed(f"{client}.{kind}", client,
                           lambda: self._send(client, kind, k),
                           lambda rows: self._check(kind, k, rows),
                           measured)

    def _all_clients(self, deadline: float, measured: bool) -> None:
        with ThreadPoolExecutor(len(self.clients)) as pool:
            for f in [pool.submit(self._client, c, deadline, measured) for c in self.clients]:
                f.result()

    def warm(self) -> None:
        """The same load, unmeasured, for a fixed time: one round left
        the first seconds of the window still warming up (a third fewer
        ops in them on some runs)."""
        self._all_clients(time.perf_counter() + WARM_SECONDS, False)

    def run(self, seconds: float) -> None:
        """The window is exactly ``seconds``: ops in flight at its end
        finish and count for latency, and for throughput in part."""
        start = time.perf_counter()
        self._all_clients(start + seconds, True)
        self.window = (start, start + seconds)

    def extra_metrics(self) -> dict:
        return {
            f"{c}_p50_s": [r["end"] - r["start"] for r in self.records
                           if r["measured"] and r["ok"] and r["client"] == c]
            for c in self.clients
        }

    def teardown(self) -> None:
        self.pg_client.close()
        self.http.shutdown()
        self.flight.shutdown()
        self.pg.shutdown()


class _AdoptingEngine:
    """The engine as the HTTP server sees it: ``/xtql`` reads
    ``engine.db()`` instead of calling the executor, so this binds the
    server thread to the HTTP client's op first."""

    def __init__(self, engine, tracer, client: str):
        self._engine, self._tracer, self._client = engine, tracer, client

    def db(self, *args, **kwargs):
        self._tracer.adopt(self._client)
        return self._engine.db(*args, **kwargs)

    def __getattr__(self, name):
        return getattr(self._engine, name)


def http_xtql(port: int, pipeline: list) -> pa.Table:
    """POST an XTQL pipeline to ``/xtql``; the Arrow result."""
    from core2_spark.http_server import ARROW_MIME

    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/xtql",
        data=json.dumps({"query": pipeline}).encode(),
        headers={"Content-Type": "application/json", "Accept": ARROW_MIME},
    )
    with urllib.request.urlopen(req) as resp:
        return pa.ipc.open_stream(resp.read()).read_all()


# ops of each kind in one tx_small_writes round
ROUND_MIX = {"commit.put": 1, "commit.update": 1, "commit.patch": 1, "commit.delete": 1,
             "read.raw": 4, "refresh": 1, "read.view": 1, "read.groupby": 1}


class TxSmallWrites(Workload):
    name = "tx_small_writes"
    commit_kinds = ("put", "update", "patch", "delete")

    def setup(self) -> None:
        from core2_spark.engine import Engine, Put

        spark = self.spark
        orders = datagen.orders(self.seed, self.sf)
        self.root = os.path.join(self.work_dir, "engine")
        engine = self.engine = Engine(spark, self.root)
        # Seeded as SEED_FILES files: with the warm round's commits every
        # measured read covers more than 32 files, past which Spark lists
        # them with a job of its own, so all of them run that job.
        seed = self.as_df("orders", orders).repartition(SEED_FILES)
        engine.submit_tx([Put("orders", seed)])
        engine.create_materialized_view(
            "by_status", "orders", ["status"],
            {"n": ("count", "*"), "total": ("sum", "price")},
        )
        self.submitted_bytes = orders.nbytes
        self.schema = orders.schema
        self.orderdate = orders.column("orderdate")[0].as_py()
        # the model: id -> (status, price in cents), plus an O(1)
        # sampler over live ids
        ids = orders.column("id").to_pylist()
        cents = [round(p * 100) for p in orders.column("price").to_pylist()]
        self.model = dict(zip(ids, zip(orders.column("status").to_pylist(), cents)))
        self.live = list(ids)
        self.pos = {k: i for i, k in enumerate(ids)}
        self.next_id = len(ids)
        self.rng = datagen.rng_for(self.seed, "tx")

    def _remove(self, k: int) -> None:
        i, last = self.pos.pop(k), self.live.pop()
        if last != k:
            self.live[i], self.pos[last] = last, i
        del self.model[k]

    def _draw(self, n: int) -> list[int]:
        picks = self.rng.choice(len(self.live), min(n, len(self.live)), replace=False)
        return [self.live[int(i)] for i in picks]

    def _commit(self, kind: str, measured: bool) -> None:
        from core2_spark.engine import Delete, Put

        spark, engine, rng = self.spark, self.engine, self.rng
        if kind == "put":
            n = 200
            ids = list(range(self.next_id, self.next_id + n))
            self.next_id += n
            statuses = [datagen.STATUSES[int(i)] for i in rng.integers(0, 3, n)]
            cents = [int(c) for c in rng.integers(100_000, 50_000_000, n)]
            rows = pa.table({
                "id": pa.array(ids, pa.int64()),
                "custkey": pa.array(rng.integers(0, 1000, n), pa.int64()),
                "status": statuses,
                "price": [c / 100 for c in cents],
                "orderdate": pa.array([self.orderdate] * n, self.schema.field("orderdate").type),
                "priority": pa.array([datagen.PRIORITIES[0]] * n),
            }, schema=self.schema)
            df = spark.createDataFrame(rows)
            self.submitted_bytes += rows.nbytes

            def call():
                return engine.submit_tx([Put("orders", df)])

            def apply(_):
                for k, s, c in zip(ids, statuses, cents):
                    self.model[k] = (s, c)
                    self.pos[k] = len(self.live)
                    self.live.append(k)
        elif kind == "update":
            ids = self._draw(20)
            cent = int(rng.integers(100_000, 50_000_000))
            stmt = (f"UPDATE orders SET price = {Decimal(cent) / 100} "
                    f"WHERE id IN ({','.join(map(str, ids))})")
            self.submitted_bytes += 16 * len(ids)

            def call():
                return engine.sql_dml(stmt)

            def apply(_):
                for k in ids:
                    self.model[k] = (self.model[k][0], cent)
        elif kind == "patch":
            ids = self._draw(10)
            cents = [int(c) for c in rng.integers(100_000, 50_000_000, len(ids))]
            docs = ", ".join(f"{{id: {k}, price: {Decimal(c) / 100}}}" for k, c in zip(ids, cents))
            stmt = f"PATCH INTO orders RECORDS {docs}"
            self.submitted_bytes += 16 * len(ids)

            def call():
                return engine.sql_dml(stmt)

            def apply(_):
                for k, c in zip(ids, cents):
                    self.model[k] = (self.model[k][0], c)
        else:
            ids = self._draw(20)
            df = spark.createDataFrame(pa.table({"id": pa.array(ids, pa.int64())}))
            self.submitted_bytes += 8 * len(ids)

            def call():
                return engine.submit_tx([Delete("orders", df)])

            def apply(_):
                for k in ids:
                    self._remove(k)

        self.timed(f"commit.{kind}", "writer", call, apply, measured)

    def _check_raw(self, table: pa.Table) -> str | None:
        row = table.to_pylist()[0]
        want_n = len(self.model)
        want_total = Decimal(sum(c for _, c in self.model.values())) / 100
        if row["n"] == want_n and row["total"] == want_total:
            return None
        return f"got n={row['n']} total={row['total']}, want {want_n} {want_total}"

    def _check_view(self, table: pa.Table) -> str | None:
        want = {}
        for status, cents in self.model.values():
            n, total = want.get(status, (0, 0))
            want[status] = (n + 1, total + cents)
        got = {r["status"]: (r["n"], r["total"]) for r in table.to_pylist()}
        if set(got) != set(want):
            return f"groups {sorted(got)} != {sorted(want)}"
        for status, (n, cents) in want.items():
            g_n, g_total = got[status]
            if g_n != n or abs(g_total - cents / 100) > 1e-9 * max(1.0, cents / 100):
                return f"group {status}: got {got[status]}, want {(n, cents / 100)}"
        return None

    def _round(self, measured: bool, read_back: bool = True):
        """One round, pausing after each op: the four commit kinds in
        seed-shuffled order, each followed by its read-after-write, then
        a view refresh and the view and direct ``GROUP BY`` reads.
        Without ``read_back`` only the last commit is read back."""
        engine = self.engine
        order = self.rng.permutation(len(self.commit_kinds))
        for n, i in enumerate(order, 1):
            self._commit(self.commit_kinds[i], measured)
            yield
            if not read_back and n < len(order):
                continue
            self.timed("read.raw", "writer",
                       lambda: engine.db().sql(RAW).toArrow(), self._check_raw, measured)
            yield
        self.timed("refresh", "writer",
                   lambda: engine.refresh_materialized_view("by_status"),
                   lambda r: None if r.get("mode") in ("incremental", "full")
                   else f"refresh returned {r}", measured)
        yield
        self.timed("read.view", "writer",
                   lambda: engine.materialized_view("by_status")
                   .select("status", "n", "total").toArrow(),
                   self._check_view, measured)
        yield
        self.timed("read.groupby", "writer",
                   lambda: engine.db().sql(BY_STATUS).toArrow(), self._check_view, measured)
        yield

    def warm(self) -> None:
        """Every op kind once: one read-back stands for all four."""
        for _ in self._round(False, read_back=False):
            pass

    def run(self, seconds: float) -> None:
        """Rounds until ``seconds`` have passed and at least one whole
        round is done; no op starts after that."""
        start = time.perf_counter()
        deadline = start + seconds
        whole = False
        while not whole or time.perf_counter() < deadline:
            for _ in self._round(True):
                if whole and time.perf_counter() >= deadline:
                    break
            else:
                whole = True
        self.window = (start, max(deadline, time.perf_counter()))

    def ops_per_s(self, ok: list[dict]) -> float:
        """The writer's rate on the round's mix: ops per round over the
        round's time at each kind's mean latency, so it does not depend
        on which op the window ended in (a 4 s refresh and a 0.2 s view
        read count one op each)."""
        lat = latencies_by_kind(ok)
        if any(k not in lat for k in ROUND_MIX):  # a kind that always failed
            return super().ops_per_s(ok)
        round_s = sum(n * statistics.fmean(lat[k]) for k, n in ROUND_MIX.items())
        return sum(ROUND_MIX.values()) / round_s

    def extra_metrics(self) -> dict:
        from tracer import disk_usage

        ok = [r for r in self.records if r["measured"] and r["ok"]]
        _, stored = disk_usage(self.root)
        return {
            "commit_p50_s": [r["end"] - r["start"] for r in ok if r["kind"].startswith("commit.")],
            "mview_refresh_p50_s": [r["end"] - r["start"] for r in ok if r["kind"] == "refresh"],
            "space_amp": stored / self.submitted_bytes,
        }


WORKLOADS = {w.name: w for w in (WireServing, TxSmallWrites)}

"""Engine facade: core2's top-3 entry points on Spark (SURVEY.md §3).

A user of the reference talks to three surfaces (reference
README.adoc:13-15): ``submit-tx`` (ingest/DML), SQL at a basis, and
Datalog at a basis.  This module packages the engine's layers
(catalog, temporal, basis, datalog) behind the same shape:

    eng = Engine(spark, "/path/to/db")
    basis = eng.submit_tx([
        Put("trades", rows_df),
        Put("trades", corrections, app_start="2024-01-01"),
        Delete("trades", ids_df),
    ])
    db = eng.db(basis)                    # or eng.db() for latest
    db.table("trades")                    # current-state view at basis
    db.history("trades")                  # full bitemporal history
    db.sql("SELECT * FROM trades ...")    # SQL over basis views
    db.q({"find": [...], "where": [...]}) # Datalog over the same basis

Semantics carried from the reference:
- transactions are totally ordered: each submit_tx gets a strictly
  increasing tx_time (explicit or logical-clock-derived) — the log
  position IS the basis;
- reads are repeatable: a Basis pins the file manifest, so later
  transactions never change an old basis' answers;
- deletes close app-time periods (history preserved); erase is the
  only destructive op.
"""

from __future__ import annotations

import copy
import json
import os
import shutil
import uuid
import warnings
from contextlib import contextmanager
from dataclasses import dataclass, field, replace
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from core2_spark import temporal as bt
from core2_spark.basis import Basis, acquire_basis, basis_from_json
from core2_spark import datalog as dl


def _to_datetime(value) -> datetime:
    """str | datetime → datetime (for manifest-pruning day bounds)."""
    return datetime.fromisoformat(value) if isinstance(value, str) else value


def _walk_all_files(path: str) -> list[str]:
    """Every file under ``path`` (not just parquet: _SUCCESS markers
    and partition metadata count for rollback diffs)."""
    out: list[str] = []
    for root_dir, _dirs, names in os.walk(path):
        for n in names:
            out.append(os.path.join(root_dir, n))
    return out


# Guarded-swap fence instrumentation (observability only — never read
# by engine logic): how often the listing validation under the log
# lock ran, and how often it ABORTED a swap whose decision read had
# been overtaken by a concurrent publish.  The concurrency soak
# (scripts/fuzz_concurrent_writers.py) reports these to prove the
# layer-4 fence was actually exercised, not just present.  Incremented
# while holding the log lock, so in-process reads are consistent.
FENCE_STATS = {"listing_checks": 0, "listing_aborts": 0}


def _list_parquet(path: str) -> frozenset[str]:
    """Relative paths of every parquet file under ``path`` (skipping
    `_`-scratch subtrees) — the maintenance swap/drop expectation
    snapshot: taken before the decision read, re-checked under the log
    lock, so a concurrent writer's publish between read and destroy is
    DETECTED instead of silently lost."""
    out = []
    base = path.rstrip("/")
    for root_dir, dirs, names in os.walk(base):
        dirs[:] = [
            d for d in dirs if not d.startswith(("_tmp_", "_old_"))
        ]
        for n in names:
            if n.endswith(".parquet"):
                out.append(os.path.relpath(os.path.join(root_dir, n), base))
    return frozenset(out)


def _prune_empty_dirs(path: str) -> None:
    """Remove now-empty subdirectories (e.g. `_sys_day=` partition
    dirs whose only files a rollback just deleted), bottom-up, keeping
    ``path`` itself.

    ``_tmp_``/``_old_`` children are a CONCURRENT engine's in-flight
    maintenance scratch — a just-staged Hadoop committer tree is all
    EMPTY ``_temporary/`` dirs until its tasks open files, so pruning
    them kills the peer's write with 'Mkdirs failed to create'
    (found by the post-fix 200-schedule 4-writer soak, seeds
    1042/1085: a rolling-back loser pruned a vacuum's scratch).  Their
    cleanup belongs to their owner (or age-gated _recover_rewrites)."""
    for entry in os.listdir(path):
        if entry.startswith(("_tmp_", "_old_")):
            continue
        sub = os.path.join(path, entry)
        if not os.path.isdir(sub):
            continue
        for root_dir, _dirs, _names in os.walk(sub, topdown=False):
            # re-list at visit time: a child pruned earlier in this
            # walk leaves the parent empty even though the walk's
            # precomputed entries say otherwise
            if not os.listdir(root_dir):
                try:
                    os.rmdir(root_dir)
                except OSError:
                    pass


class ConcurrentWriterError(RuntimeError):
    """Another Engine advanced ``_log.json`` past this writer's token.

    Raised before any row is visible (start-of-tx check) or after a
    full rollback (persist-time check), so retrying the transaction
    from a refreshed head is always safe — ``submit_tx`` does exactly
    that when opened with ``writer_retries > 0``."""


@dataclass(frozen=True)
class Put:
    table: str
    rows: DataFrame
    app_start: str | None = None
    app_end: str | None = None


@dataclass(frozen=True)
class Delete:
    table: str
    ids: DataFrame
    id_col: str = "id"
    # SQL:2011 DELETE FOR PORTION OF APPLICATION_TIME: bound the
    # deleted app period (default [tx, ∞) — delete "from now on")
    app_start: str | None = None
    app_end: str | None = None


@dataclass(frozen=True)
class Erase:
    table: str
    ids: DataFrame
    id_col: str = "id"


class TxAssertionError(RuntimeError):
    """An ASSERT op's predicate evaluated false (or null): the
    transaction aborts with zero rows written."""


@dataclass(frozen=True)
class Assert:
    """Transaction assertion (the reference's ``ASSERT`` statement /
    assert tx op): a SQL boolean predicate evaluated against the
    PRE-TRANSACTION snapshot at submit time; false or NULL aborts the
    whole transaction before anything is written.  Under
    optimistic-concurrency retry the predicate RE-EVALUATES against
    the refreshed head (like Call/Patch re-expansion), so
    check-then-write races with a concurrent writer cannot slip
    through — the canonical use is uniqueness guards::

        Assert("NOT EXISTS (SELECT 1 FROM users WHERE email = 'x')",
               "duplicate email")
    """

    predicate: str
    message: str | None = None


@dataclass(frozen=True)
class Patch:
    """Merge partial documents into the current visible versions (the
    reference's ``patchDocs`` tx op / ``PATCH INTO .. RECORDS`` SQL):
    keys a doc mentions overwrite, unmentioned keys retain their
    current value, absent ids insert, new keys widen the merged
    schema.  Expanded against the pre-transaction snapshot at submit
    time — like Call, a Patch is deterministic given the log position,
    so replay under optimistic-concurrency retry re-reads the winner's
    state (last-merger-wins per key, never a lost update).  SQL
    ``PATCH INTO`` lowers to this op, so the same holds for it."""

    table: str
    docs: tuple  # tuple[dict, ...] — the documents to merge
    id_col: str = "id"
    # valid-time-bounded patch (FOR VALID_TIME FROM..TO): the merged
    # version applies only within the portion, current state resumes
    # outside it — same bounds Put takes
    app_start: str | None = None
    app_end: str | None = None


@dataclass(frozen=True)
class Call:
    """core2 transaction function (`:call` op [upstream: core2
    `indexer.clj` tx-fn section]): a deterministic user function run
    AT TRANSACTION TIME against the pre-transaction database state,
    emitting further ops applied in the same transaction.  The
    function must be pure given the snapshot — the reference replays
    the log deterministically on every node, and so would we."""

    fn: object  # Callable[[Snapshot], list[Put | Delete | Erase]]


def _version_rows(op: Put | Delete, t: datetime, seq: int) -> DataFrame:
    """The version rows a Put or Delete adds at tx time ``t`` — the one
    stamping rule every writer shares (commit, replay, what-if).  All
    ops of a transaction share ``t``; ``seq``, the op's position in the
    transaction, orders them (later write wins).  Duplicate ids WITHIN
    one Put tie on (sys_start, _tx_seq); the stamped row id freezes an
    arbitrary winner so every read of every basis agrees (see
    temporal.ROW_SEQ)."""
    if isinstance(op, Put):
        return (
            bt.put(op.rows, tx_time=t, app_start=op.app_start, app_end=op.app_end)
            .withColumn(bt.TOMBSTONE, F.lit(False))
            .withColumn(bt.TX_SEQ, F.lit(seq))
            .withColumn(bt.ROW_SEQ, F.monotonically_increasing_id())
        )
    if isinstance(op, Delete):
        return bt.delete_tombstone(
            op.ids, op.id_col, t, op.app_start, op.app_end
        ).withColumn(bt.TX_SEQ, F.lit(seq))
    raise TypeError(f"unsupported transaction op {op!r}")


def _computed(op: Put | Delete | Erase) -> Put | Delete | Erase:
    """``op`` with its rows or ids computed now, off the files they read."""
    if isinstance(op, Put):
        return replace(op, rows=op.rows.localCheckpoint(eager=True))
    return replace(op, ids=op.ids.localCheckpoint(eager=True))


def _conformed_type(have: T.DataType, want: T.DataType) -> T.DataType:
    """``have`` with each leaf type replaced by the one ``want`` records
    at the same place.  Struct fields ``want`` lacks keep their type (a
    write may add them), and field order and nullability stay
    ``have``'s, so a plain ``cast`` to the result is valid (Spark casts
    structs by position)."""
    if isinstance(have, T.StructType) and isinstance(want, T.StructType):
        known = {f.name: f.dataType for f in want.fields}
        return T.StructType([
            T.StructField(
                f.name,
                _conformed_type(f.dataType, known.get(f.name, f.dataType)),
                f.nullable,
                f.metadata,
            )
            for f in have.fields
        ])
    if isinstance(have, T.ArrayType) and isinstance(want, T.ArrayType):
        return T.ArrayType(
            _conformed_type(have.elementType, want.elementType), have.containsNull
        )
    return want


def _conform(
    rows: DataFrame, recorded: T.StructType | None
) -> tuple[DataFrame, T.StructType]:
    """``rows`` with each column ``recorded`` names cast to its recorded
    leaf types, and their schema — the one place a written column's
    type is decided, for a commit and a what-if alike.  A bare literal
    (``4`` is INT, ``2.5`` DECIMAL(2,1)) would otherwise fork the
    parquet schema of a BIGINT/DOUBLE version table, and every later
    read would fail to merge it.  Rows that need no cast come back as
    they are."""
    schema = rows.schema
    to = schema if recorded is None else _conformed_type(schema, recorded)
    if to == schema:
        return rows, schema
    col = lambda name: F.col("`" + name.replace("`", "``") + "`")  # a dot is no path
    return rows.select(*[
        col(f.name).cast(t.dataType).alias(f.name) if t != f else col(f.name)
        for f, t in zip(schema.fields, to.fields)
    ]), to


def _widened(recorded: T.StructType | None, schema: T.StructType) -> T.StructType:
    """``recorded`` with the fields of a written ``schema`` it lacks
    added, at any depth (a struct's, or an array of structs', new
    fields too), all nullable: older files lack them and read them as
    NULL.  ``schema`` has been conformed (``_conform``), so a field
    both have keeps its recorded type."""
    def merged(have: T.DataType, new: T.DataType) -> T.DataType:
        if isinstance(have, T.StructType) and isinstance(new, T.StructType):
            fields = {f.name: f.dataType for f in have.fields}
            for f in new.fields:
                old = fields.get(f.name)
                fields[f.name] = f.dataType if old is None else merged(old, f.dataType)
            return T.StructType([T.StructField(n, t, True) for n, t in fields.items()])
        if isinstance(have, T.ArrayType) and isinstance(new, T.ArrayType):
            return T.ArrayType(merged(have.elementType, new.elementType), True)
        return have

    written = T.StructType([f for f in schema.fields if f.name != bt.SYS_DAY])
    return merged(recorded or T.StructType(), written)


def _struct(js: str | None) -> T.StructType | None:
    return None if js is None else T.StructType.fromJson(json.loads(js))


@dataclass
class _Tx:
    """What one manifested commit has done so far — exactly what its
    rollback undoes (see ``Engine._manifested``)."""

    pending: str  # this transaction's _pending/tx_<txid>.json
    pre_tables: set[str]
    t: datetime | None = None
    written: list[str] = field(default_factory=list)
    paths: set[str] = field(default_factory=set)
    deferred_old: list[tuple[str, str]] = field(default_factory=list)


class Engine:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        epoch: str = "2024-01-01",
        auto_compact_files: int | None = None,
        bloom_filter_columns: tuple[str, ...] = (),
        auto_refresh_views: bool = False,
        writer_retries: int = 0,
        reclaim_after_s: float = 900.0,
    ):
        self.spark = spark
        self.root = root
        self._epoch = datetime.fromisoformat(epoch)
        self._tx_counter = 0
        # Clock of the last committed transaction (explicit or
        # logical-clock-derived): the default read basis.  Using the
        # counter alone would let db() predate an explicitly-timed
        # transaction and silently see an empty current state.
        self._last_tx_time: datetime | None = None
        # The _log.json content this engine last read or wrote — the
        # optimistic single-writer token (see _persist_clock).
        self._persisted_clock: str | None = None
        # Auto-compaction: after a commit, any touched table holding
        # more than this many parquet files is compacted in place
        # (None = never compact automatically, only warn — compaction,
        # like Erase, invalidates previously acquired Basis manifests
        # for the table, so it is opt-in).
        self._auto_compact_files = auto_compact_files
        self._compact_warned: set[str] = set()
        # Opt-in: refresh materialized views of touched tables after
        # each commit, so views track the log without manual refresh
        # calls (incremental — cost follows the delta).
        self._auto_refresh_views = auto_refresh_views
        # Optimistic concurrency: on ConcurrentWriterError, re-read the
        # head (refresh) and replay the transaction, up to this many
        # times.  0 = the classic refuse-and-refresh contract.
        self._writer_retries = writer_retries
        # How old crash leftovers (pending-tx manifests, _old_/_tmp_
        # swap scratch) must be before open-time recovery reclaims
        # them.  Must exceed the longest single op write a LIVE
        # concurrent writer can be mid-way through — reclaiming a live
        # peer's in-flight state corrupts its transaction.
        self._reclaim_after_s = reclaim_after_s
        # View-name → error string for auto-refreshes that failed AFTER
        # the transaction was durable (submit_tx never raises for these
        # — a retry would double-apply the committed tx).
        self.last_refresh_errors: dict[str, str] = {}
        # The one schema source (100 TB planning cost: inferring types
        # is a footer read PER FILE): table → StructType json, kept in
        # _log.json.  Every table with files has one.  A write is cast
        # to it and widens it (_append: _conform, then _widened); reads,
        # bases and rewrites all read with it.  A table found on disk
        # without one is inferred once, at open (_adopt_schemas).
        self._table_schemas: dict[str, str] = {}
        # Tables with files that _adopt_schemas could not merge: refused
        # to every write and rewrite, and not inferred again, until the
        # next open.
        self._unadoptable: set[str] = set()
        # Per-block bloom filters (SURVEY §4: core2 keeps a bloom per
        # column/block in its metadata files [upstream: bloom.clj];
        # the Parquet analogue is a writer option, not code).  Opt-in
        # per column: a bloom costs up to ~1 MB per column chunk —
        # proportionate on 128 MB scale files where it lets point
        # lookups (id = X) skip whole row groups, pure overhead on
        # tiny local files.
        self._bloom_columns = tuple(bloom_filter_columns)
        # Tables that ever received an app-time-BOUNDED op (explicit
        # app_start/app_end on Put/Delete, incl. SQL portion ops).
        # For such tables current state can change WITHOUT new
        # versions (a bounded period expires as the clock advances),
        # so the stale-compact merge-on-read fast path must not apply.
        self._app_bounded: set[str] = set()
        # Per-table HISTORY-REWRITE clock (iso string): last Erase or
        # vacuum — operations that remove version rows without leaving
        # a CDC trace.  Incremental consumers of the changes feed
        # (materialized views) compare it against their own clock and
        # fall back to a full recompute when the history they would
        # need may be gone.
        self._rewrites: dict[str, str] = {}
        # Monotonic maintenance counter: optimize/vacuum bump it when
        # they CLAIM the table (see _claim_maintenance), so any
        # concurrent writer's later persist conflicts and replays
        # instead of silently losing files to the swap.
        self._maintenance_seq = 0
        # Committed-transaction ids (the uuid in each pending
        # manifest's filename), persisted IN _log.json at the commit
        # point so recovery can verify actual commitment instead of
        # comparing clocks: with concurrent writers, a crashed loser's
        # tx_time can sit at-or-before the winner's advanced head, and
        # the old `tx_time <= head` test would retire its manifest
        # without rollback, leaving phantom rows.  The set is pruned
        # at every persist to ids whose manifest still survives, so it
        # stays O(live manifests).  None = legacy log without the
        # field (pre-upgrade roots fall back to the clock heuristic).
        self._committed_txids: set[str] | None = set()
        os.makedirs(root, exist_ok=True)
        # order matters: the clock (log head) decides which pending
        # manifests are uncommitted; pending rollback must restore
        # erase _old_ dirs BEFORE the generic swap repair would
        # classify them; schemas are adopted from the repaired tables
        self._recover_clock()
        self._recover_pending()
        self._recover_rewrites()
        self._adopt_schemas()

    def _writer(self, df: DataFrame):
        """Engine parquet writer with the standing options applied
        (bloom filters for the configured point-lookup columns)."""
        w = df.write
        for c in self._bloom_columns:
            if c in df.columns:
                w = w.option(f"parquet.bloom.filter.enabled#{c}", "true")
        return w

    def _scan(self, table: str, path: str | None = None) -> DataFrame:
        """The version rows under ``path`` (default: the table's
        directory) read with the recorded schema, as a rewrite reads."""
        if table not in self._table_schemas:
            raise ValueError(f"unknown table {table!r}: nothing to rewrite")
        schema = _struct(self._table_schemas[table])
        return self.spark.read.schema(schema).parquet(path or self._table_path(table))

    def _micros_timestamps(self):
        """Scoped writer conf: version tables must carry parquet
        min/max statistics on the temporal columns (clock recovery and
        as-of file pruning read them).  Spark's INT96 legacy timestamp
        encoding writes NO column statistics; TIMESTAMP_MICROS is the
        non-deprecated encoding and gets full stats.  Scoped to engine
        writes (save/restore around each write) so opening an Engine
        does not silently change parquet encoding for unrelated writes
        elsewhere in the shared SparkSession."""

        @contextmanager
        def scope():
            key = "spark.sql.parquet.outputTimestampType"
            prev = self.spark.conf.get(key)
            self.spark.conf.set(key, "TIMESTAMP_MICROS")
            try:
                yield
            finally:
                self.spark.conf.set(key, prev)

        return scope()

    def _recover_rewrites(self) -> None:
        """Repair interrupted ``_rewrite_atomic`` swaps at open.  The
        swap has a window between ``rename(path, old)`` and
        ``rename(tmp, path)`` where the table directory does not
        exist; a crash there strands the data in ``_old_<name>``.
        Recovery: an ``_old_`` dir whose final dir is missing is the
        surviving pre-rewrite table — rename it back; one whose final
        dir exists means the swap completed — drop the leftover.
        ``_tmp_`` dirs are always incomplete writes — drop them.

        Scans the table root, ``_current``, and every materialized-view
        directory (``_mviews/<name>`` — mviews._store rewrites
        ``_mviews/<name>/data`` through the same swap, so a crash there
        would otherwise strand the view in ``_old_data`` permanently)."""
        bases = [self.root, os.path.join(self.root, "_current")]
        mviews_root = os.path.join(self.root, "_mviews")
        if os.path.isdir(mviews_root):
            for d in sorted(os.listdir(mviews_root)):
                vd = os.path.join(mviews_root, d)
                if os.path.isdir(vd):
                    bases.append(vd)
        # table dirs themselves: partition-wise vacuum swaps individual
        # _sys_day= dirs, leaving _old_/_tmp_ siblings INSIDE the table
        bases.extend(
            os.path.join(self.root, d)
            for d in sorted(os.listdir(self.root))
            if not d.startswith("_")
            and os.path.isdir(os.path.join(self.root, d))
        )
        # scratch referenced by ANY pending-tx manifest is protected:
        # a young (possibly live) crashed-erase manifest needs its
        # _old_ image intact for the eventual rollback — classifying
        # it as a completed swap's leftover would make the uncommitted
        # erase permanent
        protected: set[str] = set()
        pdir = os.path.join(self.root, "_pending")
        if os.path.isdir(pdir):
            for name in os.listdir(pdir):
                if not name.endswith(".json"):
                    continue
                try:
                    with open(os.path.join(pdir, name)) as f:
                        meta = json.load(f)
                    for _pth, old_dir in meta.get("restores", []):
                        protected.add(os.path.abspath(old_dir))
                except (OSError, ValueError, json.JSONDecodeError):
                    continue
        import time as _time

        now = _time.time()
        for base in bases:
            if not os.path.isdir(base):
                continue
            for entry in sorted(os.listdir(base)):
                full = os.path.join(base, entry)
                if not os.path.isdir(full):
                    continue
                if os.path.abspath(full) in protected:
                    continue
                try:
                    age = now - os.path.getmtime(full)
                except OSError:
                    continue
                if age < self._reclaim_after_s:
                    # possibly a LIVE peer's in-flight swap scratch
                    # (writer_retries makes concurrent engines a
                    # supported configuration); a later open reclaims
                    continue
                if entry.startswith("_tmp_"):
                    shutil.rmtree(full, ignore_errors=True)
                elif entry.startswith("_old_"):
                    # decode the '='-free scratch encoding (see
                    # _rewrite_atomic) so a crashed day-partition swap
                    # restores to its real _sys_day= directory
                    final = os.path.join(
                        base, entry[len("_old_"):].replace("%3D", "=")
                    )
                    if os.path.exists(final):
                        shutil.rmtree(full, ignore_errors=True)
                    else:
                        os.rename(full, final)

    def refresh(self) -> None:
        """Reopen this Engine from the current log head.  The
        single-writer token errors permanently once another writer
        commits (by design: the local clock no longer reflects the
        head); ``refresh()`` re-reads ``_log.json`` so this writer
        resumes AFTER the other writer's transactions instead of
        needing a brand-new Engine object."""
        self._persisted_clock = None
        self._last_tx_time = None
        self._tx_counter = 0
        self._recover_clock()
        self._recover_rewrites()
        self._adopt_schemas()
        # drop Spark's session-wide file-listing cache for everything
        # under this root: the head we just adopted may have been
        # produced by swaps/vacuums whose os.rename bypassed the
        # DataFrameWriter invalidation hook — without this, reads after
        # refresh() can plan files the other writer's maintenance
        # deleted, and retry loops spin on the stale cache forever
        try:
            self.spark.catalog.refreshByPath(self.root)
        except Exception:
            pass  # cache invalidation is best-effort

    def _recover_clock(self) -> None:
        """A re-opened Engine over an existing root must not reset the
        transaction clock to the epoch — db() would silently read an
        empty current state.

        Opening a database must be metadata-sized, never a data scan:
        on a 100 TB version table the old ``max(system_time_start)``
        Spark job was a full column scan before the first query.  The
        clock is now persisted per transaction in ``_log.json``
        (atomic tmp+rename write), so the normal path is one tiny JSON
        read and ZERO Spark jobs.  Legacy roots without the manifest
        recover from parquet FOOTER max-statistics via pyarrow —
        still metadata-only, still no Spark job."""
        log = os.path.join(self.root, "_log.json")
        if os.path.exists(log):
            with open(log) as f:
                raw = f.read()
            meta = json.loads(raw)
            self._last_tx_time = datetime.fromisoformat(meta["last_tx_time"])
            self._tx_counter = int(meta.get("tx_counter", 0))
            # a None entry is older code's "invalidated": adopted again
            self._table_schemas = {
                t: js for t, js in meta.get("schemas", {}).items() if js
            }
            self._app_bounded = set(meta.get("app_bounded", []))
            self._rewrites = dict(meta.get("rewrites", {}))
            self._maintenance_seq = int(meta.get("maintenance_seq", 0))
            raw_committed = meta.get("committed_txids")
            self._committed_txids = (
                None if raw_committed is None else set(raw_committed)
            )
            self._persisted_clock = raw
            return
        import pyarrow.compute as pa_compute
        import pyarrow.parquet as pq

        per_file: dict[str, object] = {}
        for name, path in self._all_tables().items():
            for root_dir, _dirs, names in os.walk(path):
                for n in names:
                    if not n.endswith(".parquet"):
                        continue
                    fpath = os.path.join(root_dir, n)
                    try:
                        md = pq.ParquetFile(fpath).metadata
                    except Exception:
                        continue
                    cols = {
                        md.schema.column(i).name: i for i in range(md.num_columns)
                    }
                    if bt.SYS_START not in cols:
                        continue
                    f_max = None
                    for rg in range(md.num_row_groups):
                        st = md.row_group(rg).column(cols[bt.SYS_START]).statistics
                        if st is not None and st.has_min_max:
                            if f_max is None or st.max > f_max:
                                f_max = st.max
                    if f_max is None:
                        # INT96-era file: no stats exist at all — read
                        # the ONE column via pyarrow (column-pruned
                        # driver read; legacy roots only, a root the
                        # engine has written even once has _log.json)
                        tbl = pq.read_table(fpath, columns=[bt.SYS_START])
                        mx = pa_compute.max(tbl.column(0)).as_py()
                        f_max = mx
                    if f_max is not None:
                        per_file[fpath] = f_max
        # An IN-FLIGHT or crashed-uncommitted transaction's files must
        # not drive the clock: on a root whose _log.json does not exist
        # yet (a writer died before EVER committing, and its successor
        # is mid-first-commit), the footer sweep would otherwise adopt
        # the in-flight tx's SYS_START and make its half-published rows
        # VISIBLE to a concurrent reader — a torn read through every
        # wire transport (found by scripts/fuzz_failover_wire.py, seed
        # 9001).  Every such file is listed in a _pending/ manifest
        # BEFORE it is published, so subtracting pending-listed files
        # is exact; reading the manifests AFTER the walk closes the
        # race where a manifest+publish lands between the two.
        pending = self._pending_files()
        if pending:
            per_file = {
                p: t for p, t in per_file.items()
                if os.path.realpath(p) not in pending
            }
        for t in per_file.values():
            if isinstance(t, datetime) and t.tzinfo is not None:
                t = t.astimezone(timezone.utc).replace(tzinfo=None)
            if t is not None and (
                self._last_tx_time is None or t > self._last_tx_time
            ):
                self._last_tx_time = t

    def _pending_files(self) -> set[str]:
        """Real paths of every file a pending-transaction manifest
        lists: published, or about to be, by a transaction the log does
        not hold (yet).  Manifest paths were spelled with the WRITER's
        root string, which can differ from this reader's for the same
        physical root (trailing slash, relative vs absolute, symlinked
        mount): each is re-based onto this root (manifests record their
        writer's root) and resolved, so one spelling compares."""
        out: set[str] = set()
        pdir = os.path.join(self.root, "_pending")
        if not os.path.isdir(pdir):
            return out
        for mname in os.listdir(pdir):
            if not mname.endswith(".json"):
                continue
            try:
                with open(os.path.join(pdir, mname)) as f:
                    meta = json.load(f)
            except (OSError, ValueError, json.JSONDecodeError):
                continue
            for fpath in meta.get("files", []):
                out.add(os.path.realpath(fpath))
                out.add(os.path.realpath(self._localize_manifest_path(meta, fpath)))
        return out

    def _adopt_schemas(self) -> None:
        """Infer, once, the schema of each table directory that holds
        committed parquet files but has no record (a root this engine
        did not write, an older log); the next commit persists it.
        Files a pending manifest lists are left out: their transaction
        may still roll back.  A table whose files do not merge is
        refused (``_refuse_unadopted``) until the next open."""
        from py4j.protocol import Py4JJavaError
        from pyspark.errors import PySparkException

        for name, path in self._all_tables().items():
            if name in self._table_schemas or name in self._unadoptable:
                continue
            files = self._committed_files(path)
            if not files:
                continue
            try:
                inferred = self.spark.read.option("mergeSchema", "true").parquet(*files)
            except (PySparkException, Py4JJavaError) as exc:
                self._unadoptable.add(name)
                warnings.warn(f"table {name!r} left unread: {exc}", RuntimeWarning)
                continue
            self._table_schemas[name] = json.dumps(_widened(None, inferred.schema).jsonValue())

    def _committed_files(self, path: str) -> list[str]:
        """The parquet files under ``path`` that no pending manifest
        lists."""
        files = [os.path.join(path, f) for f in sorted(_list_parquet(path))]
        if not files:
            return files
        pending = self._pending_files()
        return [f for f in files if os.path.realpath(f) not in pending]

    def _refuse_unadopted(self, table: str) -> None:
        """Refuse a write or rewrite of a table whose files did not merge
        at open: the write would record only its own columns, and every
        later read and rewrite would drop the columns only the old
        files hold."""
        if table in self._unadoptable:
            raise ValueError(
                f"table {table!r} holds files whose schemas do not merge: "
                "writes and rewrites of it are refused until they are "
                "repaired and the engine is reopened"
            )

    def _persist_clock(
        self, _locked: bool = False, commit_txid: str | None = None
    ) -> None:
        """Write the tx clock manifest atomically (tmp + rename): a
        crashed writer leaves either the old or the new manifest,
        never a torn one.

        Single-writer enforcement (the reference's log has exactly one
        totally-ordered writer): before persisting, verify the
        on-disk manifest is the one THIS engine last wrote — if
        another Engine committed in between, the local clock no longer
        reflects the log head and blindly overwriting would silently
        drop that writer's position.  Optimistic check, no lock file:
        the loser gets a loud error instead of a corrupted log.

        The check-then-write pair runs under a best-effort exclusive
        lock file (``_log.lock``, O_CREAT|O_EXCL) so two writers whose
        data appends interleaved cannot BOTH pass the token check —
        the critical section is two tiny file ops, held for
        milliseconds; a lock older than 30 s is presumed left by a
        crashed writer and stolen."""
        log = os.path.join(self.root, "_log.json")
        # Committed-txid bookkeeping (see _recover_pending): include
        # the committing tx's id so "is THIS manifest's tx in the
        # log?" is answered by membership, atomically with the commit
        # itself; prune ids whose manifest no longer exists (cleanly
        # retired) so the set stays bounded by live manifests.
        pdir = os.path.join(self.root, "_pending")
        try:
            surviving = {
                n[3:-5]
                for n in os.listdir(pdir)
                if n.startswith("tx_") and n.endswith(".json")
            }
        except OSError:
            surviving = set()
        prior = self._committed_txids
        if prior is None:
            # legacy log upgrade: grandfather surviving pre-upgrade
            # manifests under the old clock heuristic, once
            prior = set()
            for tid in surviving:
                try:
                    with open(os.path.join(pdir, f"tx_{tid}.json")) as f:
                        t = datetime.fromisoformat(json.load(f)["tx_time"])
                    if self._last_tx_time is not None and t < self._last_tx_time:
                        prior.add(tid)
                except (OSError, ValueError, KeyError, json.JSONDecodeError):
                    continue
        committed = prior & surviving
        if commit_txid is not None:
            committed.add(commit_txid)
        payload = json.dumps(
            {
                "last_tx_time": self._last_tx_time.isoformat(),
                "tx_counter": self._tx_counter,
                "schemas": self._table_schemas,
                "app_bounded": sorted(self._app_bounded),
                "rewrites": self._rewrites,
                "maintenance_seq": self._maintenance_seq,
                "committed_txids": sorted(committed),
            }
        )
        from contextlib import nullcontext

        with nullcontext() if _locked else self._log_lock():
            self._check_sole_writer()
            tmp = os.path.join(self.root, "_log.json.tmp")
            with open(tmp, "w") as f:
                f.write(payload)
            os.replace(tmp, log)
        self._persisted_clock = payload
        self._committed_txids = committed

    def _log_lock(self):
        """Exclusive _log.json critical-section lock (see
        ``_persist_clock``)."""
        import time

        lock = os.path.join(self.root, "_log.lock")

        @contextmanager
        def scope():
            # the wait deadline must OUTLIVE the stale-steal threshold:
            # after a holder crashes, no waiter becomes steal-eligible
            # until the lock is 30 s old, so a shorter deadline would
            # make every waiter error out during exactly the window the
            # steal exists to cover
            stale_after = 30.0
            deadline = time.monotonic() + stale_after + 15.0
            while True:
                try:
                    fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                    break
                except FileExistsError:
                    # deadline is checked on EVERY iteration (including
                    # the holder-released/stealer-won OSError path) so
                    # no branch can loop past it
                    if time.monotonic() > deadline:
                        raise RuntimeError(
                            f"timed out waiting for {lock}; if no writer "
                            "is alive, delete the lock file"
                        )
                    try:
                        if time.time() - os.path.getmtime(lock) > stale_after:
                            # steal by RENAME: of N waiters that saw the
                            # stale lock, exactly one rename succeeds —
                            # an unlink race would admit two stealers
                            import uuid as _uuid

                            claimed = f"{lock}.stale.{_uuid.uuid4().hex}"
                            os.rename(lock, claimed)
                            os.unlink(claimed)
                            continue
                    except OSError:
                        continue  # holder released / another stealer won
                    time.sleep(0.02)
            try:
                yield
            finally:
                os.close(fd)
                try:
                    os.unlink(lock)
                except OSError:
                    pass

        return scope()

    def _check_sole_writer(self) -> None:
        """Optimistic single-writer token check: the on-disk manifest
        must be the one THIS engine last read or wrote.  Called BEFORE
        a transaction writes anything (so a detected interloper aborts
        with zero rows appended) and again at persist time."""
        log = os.path.join(self.root, "_log.json")
        if os.path.exists(log):
            with open(log) as f:
                on_disk = f.read()
            # token None + log on disk: this engine opened over a root
            # with no log, and another writer has since created it —
            # that first commit is a conflict too (its clock would
            # collide with ours)
            if on_disk != self._persisted_clock:
                raise ConcurrentWriterError(
                    f"concurrent writer detected on {self.root}: the tx log "
                    "advanced outside this Engine (refresh() — or open the "
                    "Engine with writer_retries>0 — to continue from the "
                    "new head)"
                )

    @contextmanager
    def _manifested(self):
        """The one commit path: every writer (``submit_tx``,
        ``apply_changes``) runs its writes inside this scope.  Inside,
        the writer advances the clock and sets ``tx.t``; each append
        stages its rows, lists them in the transaction's pending
        manifest and publishes them under the log lock (``_append``).
        On exit the clock is persisted with the manifest's txid — the
        commit point.  A failure anywhere, the persist-time
        concurrent-writer check included, rolls back every file the
        transaction published and restores the clock and log metadata,
        so a failed transaction leaves zero visible rows; a crash
        leaves the manifest for the next open to roll back
        (``_recover_pending``)."""
        tx = _Tx(self._pending_path(), set(self._all_tables()))
        saved = (
            self._tx_counter,
            self._last_tx_time,
            dict(self._table_schemas),
            set(self._app_bounded),
            dict(self._rewrites),
        )
        try:
            yield tx
            self._persist_clock(
                commit_txid=os.path.basename(tx.pending)[3:-5]
            )
        except BaseException:
            self._rollback(tx)
            (
                self._tx_counter,
                self._last_tx_time,
                self._table_schemas,
                self._app_bounded,
                self._rewrites,
            ) = saved
            self._remove_pending(tx.pending)
            raise
        self._remove_pending(tx.pending)  # tx durable: manifest retires
        for _path, old in tx.deferred_old:
            shutil.rmtree(old, ignore_errors=True)

    def _append(self, tx: _Tx, table: str, rows: DataFrame) -> None:
        """Append version rows to ``table`` within ``tx``: stage, record
        the planned destinations in the pending manifest, then publish
        — so every file is listed before it becomes visible and a crash
        at ANY point rolls back cleanly at the next open.

        Columns the table already has are cast to their recorded types
        first (``_conform``); the written schema then widens the
        recorded one (``_widened``)."""
        path = self._table_path(table)
        tx.paths.add(path)
        self._refuse_unadopted(table)
        recorded = _struct(self._table_schemas.get(table))
        if recorded is None and self._committed_files(path):
            # a table's first write here, onto files the open did not
            # see: recording this write's columns alone would hide the
            # rest; a refresh adopts them (or reads their record)
            raise ConcurrentWriterError(
                f"table {table!r} gained files under {self.root} since "
                "this Engine opened — refresh() and retry"
            )
        rows, schema = _conform(rows, recorded)
        self._table_schemas[table] = json.dumps(_widened(recorded, schema).jsonValue())
        staging, moves = self._stage_rows(path, rows)
        planned = [dst for _src, dst in moves]
        self._write_pending(
            tx.pending, tx.t, tx.written + planned, tx.deferred_old
        )
        # publish appends into tx.written IN PLACE: if rename #k fails,
        # files 1..k-1 are already recorded and _rollback deletes them
        # (returning the list only on success would leave them visible
        # forever once the manifest retires).
        # UNDER THE LOG LOCK: maintenance swaps/drops validate the
        # table's file listing under the same lock right before they
        # destroy the pre-swap image — publishes serialized with that
        # check can never slip a committed-to-be file into a directory
        # the maintenance op is about to replace (the 4-writer soak's
        # vacuum-drop data loss, generalized to every guarded swap).
        with self._log_lock():
            self._publish_staged(path, staging, moves, out=tx.written)

    def _stage_rows(self, path: str, rows: DataFrame):
        """Write ``rows`` to a private staging dir, partitioned by the
        system-time day (the only place ``_sys_day`` is stamped: as-of
        reads prune whole files by it, see temporal.sys_day_predicate);
        return ``(staging_dir, [(src, dst), ...])`` — the planned
        publish moves, known BEFORE anything becomes visible (so the
        pending-transaction manifest can list them first; see
        _write_pending).

        Files are sized by bytes, not by the caller's partitioning: the
        rows are rebalanced by day first (Spark's REBALANCE), so AQE
        coalesces a small append to one file per day and splits a day
        larger than ``spark.sql.adaptive.advisoryPartitionSizeInBytes``
        into files of about that size.  Spark ignores REBALANCE with
        AQE off, so there the rows are hashed by day instead and each
        day lands in one file, however large.  Every
        append (``submit_tx``, SQL DML, ``apply_changes``) comes here;
        rewrites (``_rewrite_atomic``, ``compact``) keep their own
        partitioning.

        Staging, then publishing by rename, instead of
        ``mode("append")`` on the table directory: concurrent appends
        to ONE directory share the Hadoop committer's ``_temporary/0``
        staging, so a second writer's job commit can delete the
        first's in-flight task files.  Each append writes a fresh
        ``_tmp_stage_<n>`` dir (no committer sharing); the renames are
        metadata ops on one filesystem, and part names carry task
        UUIDs, so writers never collide.  Stray ``_tmp_stage_`` dirs
        are dropped by ``_recover_rewrites``."""
        import uuid as _uuid

        staging = os.path.join(self.root, f"_tmp_stage_{_uuid.uuid4().hex}")
        rows = rows.withColumn(bt.SYS_DAY, F.to_date(F.col(bt.SYS_START)))
        day = F.col(bt.SYS_DAY)
        if self.spark.conf.get("spark.sql.adaptive.enabled").lower() == "true":
            rows = rows.hint("rebalance", day)
        else:  # Spark drops a REBALANCE without AQE
            rows = rows.repartition(day)
        with self._micros_timestamps():
            self._writer(rows).partitionBy(bt.SYS_DAY).parquet(staging)
        # stamp stage time: the scavenger's live-peer age gate must
        # measure time-since-staging, not last content write
        os.utime(staging)
        moves: list[tuple[str, str]] = []
        for root_dir, _dirs, names in os.walk(staging):
            rel = os.path.relpath(root_dir, staging)
            for n in names:
                if not n.endswith(".parquet"):
                    continue  # _SUCCESS and committer metadata stay
                target_dir = path if rel == "." else os.path.join(path, rel)
                moves.append(
                    (os.path.join(root_dir, n), os.path.join(target_dir, n))
                )
        return staging, moves

    def _publish_staged(
        self, path: str, staging: str, moves, out: list[str] | None = None
    ) -> list[str]:
        """Rename staged files in.  ``out`` (when given) receives each
        destination AS IT IS PUBLISHED, so a failure mid-loop leaves
        the caller holding the exact visible set for rollback."""
        published = out if out is not None else []
        os.makedirs(path, exist_ok=True)
        try:
            for src, dst in moves:
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.rename(src, dst)
                published.append(dst)
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        return published

    # -- pending-transaction manifests (crash atomicity) ---------------
    #
    # A transaction's appends become visible file-by-file; the tx is
    # COMMITTED only when _log.json advances.  A process crash between
    # publish and persist used to leave phantom rows (visible files,
    # unlogged tx).  Now every mutation is preceded by an atomic
    # update of a per-tx manifest under _pending/ listing the files it
    # is ABOUT to publish and the erase swaps it is about to perform;
    # the manifest is deleted once the tx is durable (or rolled back).
    # Engine open replays surviving manifests: a manifest whose
    # tx_time is beyond the recovered log head is a crashed,
    # uncommitted tx — its erase swaps are undone (the _old_ dir is
    # still present: deferred cleanup only runs post-commit) and its
    # published files deleted, exactly mirroring _rollback.  Manifests
    # younger than reclaim_after_s are skipped: they may belong to a
    # LIVE concurrent writer mid-transaction (same presumed-crashed
    # heuristic as the stale _log.lock steal, sized for long writes).

    def _pending_path(self) -> str:
        import uuid as _uuid

        d = os.path.join(self.root, "_pending")
        os.makedirs(d, exist_ok=True)
        return os.path.join(d, f"tx_{_uuid.uuid4().hex}.json")

    def _write_pending(self, pending: str, t: datetime, files, restores):
        tmp = pending + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "tx_time": t.isoformat(),
                    # The writer's root string: a reader that opened the
                    # same physical root under a DIFFERENT spelling
                    # (trailing slash, relative path, symlinked mount)
                    # re-bases these absolute paths onto its own root
                    # via _localize_manifest_path before comparing.
                    "root": self.root,
                    "files": list(files),
                    "restores": [list(r) for r in restores],
                },
                f,
            )
        os.replace(tmp, pending)

    def _localize_manifest_path(self, meta: dict, fpath: str) -> str:
        """Re-spell a manifest-recorded absolute path (written with the
        WRITER's root string) under THIS engine's root string.  Returns
        ``fpath`` unchanged when the manifest predates the ``root`` key
        or the path lies outside the recorded root."""
        m_root = meta.get("root")
        if not m_root or m_root == self.root:
            return fpath
        rel = os.path.relpath(fpath, m_root)
        if rel.startswith(".."):
            return fpath
        return os.path.join(self.root, rel)

    def _remove_pending(self, pending: str) -> None:
        for p in (pending, pending + ".tmp"):
            try:
                os.remove(p)
            except OSError:
                pass

    def _recover_pending(self) -> None:
        import time as _time

        pdir = os.path.join(self.root, "_pending")
        if not os.path.isdir(pdir):
            return
        for name in sorted(os.listdir(pdir)):
            full = os.path.join(pdir, name)
            try:
                age = _time.time() - os.path.getmtime(full)
            except OSError:
                continue
            if age < self._reclaim_after_s:
                continue  # possibly a live writer mid-transaction
            if name.endswith(".tmp"):
                os.remove(full)
                continue
            try:
                with open(full) as f:
                    meta = json.load(f)
                tx_t = datetime.fromisoformat(meta["tx_time"])
            except (ValueError, KeyError, json.JSONDecodeError):
                os.remove(full)
                continue
            # Commitment is verified by txid membership in the log's
            # committed set, never by comparing clocks: with
            # concurrent writers a crashed LOSER's tx_time can be at
            # or before the winner's advanced head, and a clock test
            # would retire its manifest without rollback — its
            # published-but-never-logged files would survive as
            # permanent phantom rows.  (Clock fallback only for
            # legacy roots whose log predates the committed set.)
            txid = (
                name[3:-5]
                if name.startswith("tx_") and name.endswith(".json")
                else None
            )
            if self._committed_txids is not None and txid is not None:
                logged = txid in self._committed_txids
            else:
                logged = (
                    self._last_tx_time is not None
                    and tx_t <= self._last_tx_time
                )
            if not logged:  # crashed before durability: roll back
                for pth, old in reversed(meta.get("restores", [])):
                    pth = self._localize_manifest_path(meta, pth)
                    old = self._localize_manifest_path(meta, old)
                    if os.path.exists(old):
                        shutil.rmtree(pth, ignore_errors=True)
                        os.rename(old, pth)
                tables = set()
                for fpath in meta.get("files", []):
                    fpath = self._localize_manifest_path(meta, fpath)
                    try:
                        os.remove(fpath)
                    except OSError:
                        pass
                    rel = os.path.relpath(fpath, self.root)
                    if not rel.startswith(".."):
                        tables.add(os.path.join(self.root, rel.split(os.sep)[0]))
                for tdir in tables:
                    if os.path.isdir(tdir):
                        _prune_empty_dirs(tdir)
                        # A table the crashed tx CREATED is an empty
                        # husk after its files roll back — left in
                        # place it lists as a table whose read then
                        # fails with UNABLE_TO_INFER_SCHEMA (found by
                        # the kill -9 crash fuzz, seed 3031).  Mirror
                        # the in-process _rollback: remove it when no
                        # parquet remains — unless a peer's scratch
                        # (_tmp_/_old_) is present, whose cleanup
                        # belongs to its owner.  A concurrently
                        # recovering peer can rmtree the same husk
                        # between our isdir check and the walk/listdir
                        # — a vanished tdir is already-cleaned, not an
                        # error (r9 advisor).
                        try:
                            if not any(
                                f.endswith(".parquet")
                                for f in _walk_all_files(tdir)
                            ) and not any(
                                e.startswith(("_tmp_", "_old_"))
                                for e in os.listdir(tdir)
                            ):
                                shutil.rmtree(tdir, ignore_errors=True)
                        except OSError:
                            pass
            os.remove(full)

    def _reclassify_race(self, exc: Exception) -> None:
        """Re-raise ``exc`` as ConcurrentWriterError when it is a
        mid-flight swap race, not a genuine failure.

        Maintenance (optimize / vacuum / mview refresh) reads table
        files WITHOUT holding the log lock — by design, the expensive
        scans must not serialize writers — so a concurrent swap can
        delete files under a running plan (FAILED_READ_FILE), empty a
        directory mid-listing (UNABLE_TO_INFER_SCHEMA), or rename a
        whole table out from under a scratch dir.  Those are morally
        the same refusal as the persist-time token conflict: the op
        lost the race and the CALLER should refresh() and retry.  The
        reclassification is gated on the log having actually advanced
        past this engine's view — a read failure with an unchanged
        log is real corruption and must surface as itself."""
        racy = any(
            tok in f"{type(exc).__name__}: {exc}"
            for tok in (
                "FAILED_READ_FILE",
                "FILE_NOT_EXIST",
                "PATH_NOT_FOUND",
                "UNABLE_TO_INFER_SCHEMA",
                # a peer's in-flight day-partition swap scratch (or a
                # crashed peer's leftover awaiting age-gated reclaim)
                # seen by partition inference — scratch names are now
                # '='-free so this is belt-and-braces for legacy dirs
                "CONFLICTING_PARTITION_COLUMN_NAMES",
                # write-side scratch vanished: a whole-table swap
                # (optimize) renames the table dir out from under a
                # concurrent per-partition rewrite's in-flight
                # committer scratch — Hadoop surfaces it as shell
                # failures on the now-missing attempt files, or (the
                # 6-writer dense soak, seeds 1110/1114) as
                # "Mkdirs failed to create" when the committer tries
                # to recreate an attempt dir under the renamed-away
                # scratch root
                "FileNotFoundException",
                "No such file or directory",
                "Mkdirs failed to create",
            )
        )
        if not racy:
            return
        try:
            self._check_sole_writer()
        except ConcurrentWriterError:
            raise ConcurrentWriterError(
                f"maintenance lost a swap race ({type(exc).__name__}); "
                "the log advanced during the operation — refresh() and "
                "retry"
            ) from exc
        # Token still current — but the claim-then-swap protocol has a
        # window: the CLAIM advances the log, the swap (or partition
        # drop) happens later WITHOUT another advance, so a reader that
        # refreshed in between holds a current token while its planned
        # files get yanked.  When the failure names a path under this
        # root, classify it as a race anyway: retries re-plan against a
        # fresh listing, and genuine corruption (no concurrent actor)
        # keeps failing until the retry budget surfaces it.
        if os.path.abspath(self.root) in f"{exc}":
            raise ConcurrentWriterError(
                f"read race under {self.root} ({type(exc).__name__}): "
                "files vanished beneath an in-flight plan (claim-to-"
                "swap window) — refresh() and retry"
            ) from exc

    def _claim_maintenance(
        self,
        rewrite_table: str | None = None,
        rewrite_clock: datetime | None = None,
    ) -> None:
        """Claim an exclusive maintenance window for a swap-based op
        (optimize / vacuum).  Under the log lock: verify the token,
        bump the maintenance counter and persist — from this instant
        any writer whose transaction is in flight will CONFLICT at its
        own persist (and, with retries, replay against the rewritten
        table) instead of having its just-published files silently
        dropped by the swap.  ``rewrite_table`` conservatively
        pre-stamps the history-rewrite clock (vacuum): if the op then
        crashes half-applied, incremental view consumers already know
        to recompute fully."""
        with self._log_lock():
            self._check_sole_writer()
            self._maintenance_seq += 1
            if rewrite_table is not None:
                self._rewrites[rewrite_table] = (
                    rewrite_clock or self._last_tx_time or self._epoch
                ).isoformat()
            self._persist_clock(_locked=True)

    def _rewrite_atomic(
        self,
        path: str,
        df: DataFrame,
        defer_cleanup: bool = False,
        swap_guard: bool = False,
        preserve_old: str | None = None,
        expect_files: frozenset[str] | None = None,
    ) -> str | None:
        """Rewrite a table directory by writing ``df`` to a sibling
        temp dir and swapping directories — the plan streams from the
        intact old files while the temp dir fills (no
        ``localCheckpoint`` materialization of the whole table into
        executor-local storage).  The swap itself has a short window
        (between the two renames) where the directory is absent; a
        crash there is repaired by ``_recover_rewrites`` at the next
        open (and by the self-heal below within a session), so the
        pre-rewrite data is never lost.

        ``defer_cleanup=True`` keeps the ``_old_<name>`` directory and
        returns its path: the caller (a transaction) can roll the
        rewrite back by renaming it over ``path``, and must delete it
        once the transaction commits.

        ``preserve_old`` (path of an existing deferred ``_old_`` dir)
        handles a REPEATED rewrite of the same table within one
        transaction (two ERASE statements on one table): the rollback
        image is the FIRST rewrite's old dir — pre-transaction state —
        so this rewrite must not touch it.  The swap then parks the
        current (intermediate) image under a unique ``_tmp_`` name and
        discards it, instead of renaming it over the preserved dir."""
        import uuid as _uuid

        parent, name = os.path.split(path.rstrip("/"))
        # staging dir is UNIQUE per rewrite: a fixed _tmp_<name> made
        # two concurrent retried maintenance ops share one Hadoop
        # committer directory — the second's cleanup deleted the
        # first's in-flight write mid-task (found by the 3-writer
        # fuzz), surfacing as a raw Spark failure instead of the
        # designed ConcurrentWriterError abort at the guarded swap.
        # Abandoned unique tmps are age-gated garbage for
        # _recover_rewrites (any _tmp_* prefix).
        # '=' must NOT appear in scratch/rollback names: Spark's
        # hidden-path filter skips `_`-prefixed names ONLY when they
        # contain no '=', so a day-partition rewrite's literal
        # `_tmp__sys_day=...` sibling joins partition INFERENCE and
        # fails every concurrent reader of the table with
        # CONFLICTING_PARTITION_COLUMN_NAMES for the whole duration of
        # the scratch write (found by the 200-schedule 4-writer soak,
        # seeds 1042/1081/1139).  Encode it; _recover_rewrites decodes.
        safe = name.replace("=", "%3D")
        tmp = os.path.join(parent, f"_tmp_{safe}_{_uuid.uuid4().hex[:12]}")
        old = os.path.join(parent, f"_old_{safe}")
        if os.path.exists(old) and not os.path.exists(path):
            # a previous swap crashed mid-rename: the _old_ dir is the
            # only copy — restore it before touching anything
            os.rename(old, path)
        writer = self._writer(df)
        if bt.SYS_DAY in df.columns:
            # preserve the day-partitioned layout across rewrites
            writer = writer.partitionBy(bt.SYS_DAY)
        with self._micros_timestamps():
            writer.parquet(tmp)
        # scratch dirs are age-gated by _recover_rewrites against LIVE
        # peers' in-flight swaps, and os.rename preserves the renamed
        # dir's mtime (= last content write, which on a cold table can
        # already be older than the gate) — so stamp swap/stage time
        # explicitly; the gate must measure the event it guards
        os.utime(tmp)

        def _swap():
            if preserve_old is not None:
                if os.path.exists(path):
                    doomed = os.path.join(
                        parent, f"_tmp_discard_{_uuid.uuid4().hex}"
                    )
                    os.rename(path, doomed)
                    os.rename(tmp, path)
                    shutil.rmtree(doomed, ignore_errors=True)
                else:
                    os.rename(tmp, path)
                return
            if os.path.exists(path):
                # drop the completed previous swap's leftover HERE (for
                # guarded swaps: under the log lock) rather than before
                # the expensive write — a concurrent engine must never
                # delete _old_ while this one is between its two renames
                shutil.rmtree(old, ignore_errors=True)
                os.rename(path, old)
                os.utime(old)
            os.rename(tmp, path)

        if swap_guard:
            # maintenance swap: re-verify the token UNDER the log lock
            # right before the renames — a writer that committed since
            # the claim means the tmp image is missing its files, so
            # abort (tmp discarded, table untouched) rather than lose
            # them.  The expensive tmp write happened outside the lock.
            # ``expect_files`` closes the committed-but-not-yet-
            # persisted window the token cannot see: a writer whose
            # publish (now also under this lock) landed files in
            # ``path`` AFTER the caller's decision read holds a token
            # that is still current — its CAS will succeed after our
            # swap — so the swap must detect the unexpected files and
            # abort instead of replacing the directory without them.
            with self._log_lock():
                try:
                    self._check_sole_writer()
                    if expect_files is not None:
                        actual = _list_parquet(path)
                        FENCE_STATS["listing_checks"] += 1
                        if actual != expect_files:
                            FENCE_STATS["listing_aborts"] += 1
                            raise ConcurrentWriterError(
                                "maintenance swap aborted: the table's "
                                "file set changed since the decision "
                                "read (a concurrent writer's in-flight "
                                "publish) — refresh() and retry"
                            )
                except ConcurrentWriterError:
                    shutil.rmtree(tmp, ignore_errors=True)
                    raise
                _swap()
        else:
            _swap()
        # Spark caches directory listings session-wide
        # (FileStatusCache, no TTL): a swap via os.rename bypasses the
        # DataFrameWriter invalidation hook, so without this a later
        # read of the same path can plan the DELETED pre-swap files —
        # and retrying cannot help, because the stale cache outlives
        # the retry.  Found by the 3-writer fuzz as FAILED_READ_FILE
        # loops on the patched table.
        self.spark.catalog.refreshByPath(path)
        if preserve_old is not None:
            # the preserved first-rewrite old dir is the (only)
            # rollback image; nothing new to defer or clean
            return None
        if defer_cleanup:
            return old if os.path.exists(old) else None
        shutil.rmtree(old, ignore_errors=True)
        return None

    def _table_path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _next_tx_time(self, tx_time: str | datetime | None) -> datetime:
        """Totally-ordered logical transaction clock (deterministic:
        epoch + counter seconds unless an explicit time is given).
        The total order is ENFORCED: the log position is the basis, so
        a transaction time not after its predecessor's is an error,
        and a derived time always advances past any explicit one."""
        self._tx_counter += 1
        if tx_time is None:
            t = self._epoch + timedelta(seconds=self._tx_counter)
            if self._last_tx_time is not None and t <= self._last_tx_time:
                t = self._last_tx_time + timedelta(seconds=1)
        else:
            t = (
                datetime.fromisoformat(tx_time)
                if isinstance(tx_time, str)
                else tx_time
            )
            if self._last_tx_time is not None and t <= self._last_tx_time:
                raise ValueError(
                    f"tx_time {t} is not after the last transaction "
                    f"({self._last_tx_time}): the log is totally ordered"
                )
        self._last_tx_time = t
        return t

    # -- §3.3 submit-tx ------------------------------------------------
    def submit_tx(
        self,
        ops: list[Put | Delete | Erase | Patch | Assert | Call],
        tx_time: str | datetime | None = None,
        retries: int | None = None,
    ) -> Basis:
        """Apply ops atomically-enough for a single writer (the
        reference's single totally-ordered log) and return the basis
        at which the transaction is visible.  Assert, Call and Patch
        ops (SQL DML arrives as Call ops) expand before anything is
        written, against the pre-transaction snapshot a what-if uses:
        the head's rows read at the tx clock (``Snapshot._at``).

        Optimistic concurrency (``retries`` overrides the engine's
        ``writer_retries``): when another writer advanced the log, the
        loser — whose conflict is detected either before it wrote
        anything or after a full rollback — refreshes to the new head
        and REPLAYS the transaction (Call fns re-expand against the
        refreshed snapshot, the derived tx_time re-advances past the
        winner's head), so interleaved writers serialize without
        manual intervention and the log stays a total order.  An
        explicit tx_time at or before the new head still errors: the
        caller pinned a position the log has moved past.

        View-refresh failures after durability do NOT raise — see
        ``last_refresh_errors`` (retrying a durable tx would
        double-apply it)."""
        n = self._writer_retries if retries is None else retries
        for attempt in range(n + 1):
            try:
                return self._submit_tx_once(ops, tx_time)
            except ConcurrentWriterError:
                if attempt == n:
                    raise
                self.refresh()  # adopt the winner's head, then replay
            except Exception as exc:
                from pyspark.errors import PySparkException

                if isinstance(exc, TxAssertionError) or (
                    isinstance(exc, ValueError)
                    and not isinstance(exc, PySparkException)
                ):
                    # explicitly-semantic failures (a failing ASSERT,
                    # an invalid op) abort deterministically — their
                    # messages carry user-supplied text that could
                    # substring-match _reclassify_race's swap-race
                    # tokens (e.g. an assert message naming the db
                    # root) and silently burn the retry budget
                    # replaying a transaction that can never succeed.
                    # PySparkValueError subclasses ValueError but is a
                    # plan/analysis failure, not op validation, so it
                    # stays on the replay path below.
                    raise
                # a concurrent maintenance swap can yank files from
                # under this tx's snapshot reads (Patch/Assert/DML
                # expansion) — state is fully rolled back, so when the
                # log actually advanced treat it exactly like a
                # persist-time conflict and replay
                if attempt == n:
                    raise
                try:
                    self._reclassify_race(exc)
                except ConcurrentWriterError:
                    self.refresh()
                    continue
                raise
        raise AssertionError("unreachable")

    def _submit_tx_once(
        self,
        ops: list[Put | Delete | Erase | Patch | Assert | Call],
        tx_time: str | datetime | None = None,
    ) -> Basis:
        self._check_sole_writer()  # abort BEFORE any rows are written
        touched: set[str] = set()
        expand = any(isinstance(op, (Assert, Call, Patch)) for op in ops)
        with self._manifested() as tx:
            head = self.db() if expand else None  # before the clock moves
            t = tx.t = self._next_tx_time(tx_time)
            if head is not None:
                # the head's rows read at the tx clock, the snapshot a
                # what-if expands against: tx-fns replay identically,
                # and a peer's published but unlogged rows never reach
                # the expansion
                ops = head._at(t)._expand(ops)
            # an Erase's swap removes files the lazy rows or ids of a
            # later op may read: compute those before anything runs
            cut = next((i + 1 for i, op in enumerate(ops) if isinstance(op, Erase)), len(ops))
            ops = [*ops[:cut], *map(_computed, ops[cut:])]
            for seq, op in enumerate(ops):
                if isinstance(op, Erase):
                    self._erase(tx, op)
                else:
                    rows = _version_rows(op, t, seq)
                    if op.app_start is not None or op.app_end is not None:
                        self._app_bounded.add(op.table)
                    self._append(tx, op.table, rows)
                touched.add(op.table)
        try:
            self._maybe_auto_compact(touched)
        except Exception as exc:
            # the tx is durable: letting ConcurrentWriterError (or any
            # compaction failure) escape here would make the retry
            # loop REPLAY a committed transaction (double-apply) — a
            # skipped auto-compact only costs a later compaction
            warnings.warn(
                f"transaction committed; auto-compact skipped: {exc}",
                RuntimeWarning,
                stacklevel=2,
            )
        self.last_refresh_errors = {}
        if self._auto_refresh_views:
            from core2_spark import mviews

            # The transaction is already durable past this point:
            # raising would make a retrying caller double-apply it
            # (duplicate version rows).  Record failures (including a
            # failure to enumerate the views at all) and still return
            # the basis; callers inspect `engine.last_refresh_errors`
            # and can refresh manually later.
            def _note(name: str, exc: Exception) -> None:
                self.last_refresh_errors[name] = str(exc)
                warnings.warn(
                    f"transaction committed; auto-refresh of "
                    f"materialized view {name!r} failed "
                    f"(see Engine.last_refresh_errors): {exc}",
                    RuntimeWarning,
                    stacklevel=3,
                )

            try:
                views = mviews.list_views(self).items()
            except Exception as exc:
                _note("<list_views>", exc)
                views = ()
            for name, meta in views:
                if meta.get("table") in touched:
                    try:
                        mviews.refresh(self, name)
                    except Exception as exc:
                        # Most auto-refresh failures are transient swap
                        # races (a concurrent vacuum/optimize yanked
                        # files under the refresh scan —
                        # ConcurrentWriterError / PATH_NOT_FOUND).  The
                        # transaction is already durable, so retrying
                        # the REFRESH (an idempotent recompute at the
                        # fresh head) is safe where retrying the tx is
                        # not: adopt the new head once and try again
                        # before surfacing the failure.
                        try:
                            self.refresh()
                            mviews.refresh(self, name)
                        except Exception as exc2:
                            # keep BOTH failures: the retry can fail
                            # with a different cascading error and the
                            # first exception is the root cause
                            _note(
                                name,
                                RuntimeError(
                                    f"{exc2} (first attempt: {exc})"
                                ),
                            )
        return acquire_basis(self._all_tables(), t, self._table_schemas)

    def _erase(self, tx: _Tx, op: Erase) -> None:
        """Rewrite ``op.table`` without ``op.ids`` within ``tx``: the
        swap is listed in the pending manifest before it happens and
        its ``_old_`` image is kept until the commit, so a failure or
        a crash restores the pre-transaction table."""
        path = self._table_path(op.table)
        tx.paths.add(path)
        self._refuse_unadopted(op.table)
        if op.table not in self._table_schemas:
            # Erase must read the table it rewrites — on a table that
            # never existed, fail cleanly (and roll back) instead of
            # surfacing a raw AnalysisException.  Delete is different:
            # deleting ids that were never put is a valid no-op-shaped
            # op (the tombstones simply hide nothing), exactly as in
            # the reference's model.
            raise ValueError(
                f"unknown table {op.table!r}: nothing to erase from"
            )
        remaining = bt.erase(self._scan(op.table), op.ids, op.id_col)
        parent, tname = os.path.split(path.rstrip("/"))
        prior_old = next((o for p, o in tx.deferred_old if p == path), None)
        if prior_old is not None:
            # second Erase on this table within one tx: the rollback
            # image stays the FIRST erase's _old_ dir (pre-tx state) —
            # rewrite without creating (or clobbering) a deferred dir
            self._write_pending(tx.pending, tx.t, tx.written, tx.deferred_old)
            self._rewrite_atomic(path, remaining, preserve_old=prior_old)
        else:
            self._write_pending(
                tx.pending, tx.t, tx.written,
                tx.deferred_old + [(path, os.path.join(parent, f"_old_{tname}"))],
            )
            old = self._rewrite_atomic(path, remaining, defer_cleanup=True)
            if old is not None:
                tx.deferred_old.append((path, old))
        # an erase removes history WITHOUT leaving a version marker, so
        # a stale compact can no longer be delta-merged — invalidate it
        # (conservative under rollback: losing a compact only costs a
        # re-compact)
        meta = os.path.join(self.root, "_current", f"{op.table}.json")
        if os.path.exists(meta):
            os.remove(meta)
        # an erase leaves no CDC trace either — stamp the history-
        # rewrite clock so incremental view refreshes older than this
        # tx recompute fully
        self._rewrites[op.table] = tx.t.isoformat()

    def _rollback(self, tx: _Tx) -> None:
        """Undo every file a failed transaction wrote.  Erase rewrites
        roll back first (newest-first: rename the kept ``_old_`` dir
        back over the rewritten one — it contains the pre-erase state,
        including this transaction's earlier appends), then the files
        THIS transaction published are deleted — an explicit ownership
        list, never a before/after directory diff, so a concurrent
        winner's freshly committed files are untouched — and emptied
        partition dirs pruned.  A table this transaction created is
        removed only if nothing else wrote to it in the meantime."""
        for path, old in reversed(tx.deferred_old):
            # the existence check guards the rewritten table: if the
            # old dir is gone (already restored, or never created),
            # blowing away `path` would destroy the only copy
            if os.path.exists(old):
                shutil.rmtree(path, ignore_errors=True)
                os.rename(old, path)
        for f in tx.written:
            try:
                os.remove(f)
            except OSError:
                pass
        for path in tx.paths:
            if not os.path.exists(path):
                continue
            _prune_empty_dirs(path)
            if os.path.basename(path) not in tx.pre_tables and not any(
                f.endswith(".parquet") for f in _walk_all_files(path)
            ):
                shutil.rmtree(path, ignore_errors=True)

    def _maybe_auto_compact(self, touched: set[str]) -> None:
        """Post-commit small-file policy: every transaction appends at
        least one file per touched table, so after thousands of
        transactions reads pay per-file open cost.  With
        ``auto_compact_files=N`` set, a touched table holding more
        than N parquet files is compacted (semantics unchanged; like
        Erase, previously acquired Basis manifests for it become
        stale).  Unset, the engine only warns — once per table — past
        an advisory threshold, because silently invalidating old bases
        is not a default anyone should inherit."""
        advise_at = 1024
        for table in touched:
            path = self._table_path(table)
            n = sum(
                1
                for _r, _d, names in os.walk(path)
                for f in names
                if f.endswith(".parquet")
            )
            if self._auto_compact_files is not None:
                if n > self._auto_compact_files:
                    self.optimize(table)
            elif n > advise_at and table not in self._compact_warned:
                warnings.warn(
                    f"engine table {table!r} holds {n} parquet files; "
                    "reads pay per-file open cost — run "
                    f"Engine.optimize({table!r}) or open the Engine with "
                    "auto_compact_files=N",
                    stacklevel=3,
                )
                self._compact_warned.add(table)

    def sql_dml(
        self,
        statement: str,
        tx_time: str | datetime | None = None,
        id_col: str = "id",
    ) -> Basis:
        """Execute one SQL DML statement (INSERT/UPDATE/DELETE/ERASE —
        core2 runs SQL DML deterministically at index time) as a
        transaction; returns the basis at which it is visible.  See
        sql_dml.py for the supported dialect.

        Materialized-view maintenance statements (CREATE/REFRESH/DROP
        MATERIALIZED VIEW) are also accepted here: they execute
        immediately (they are not log ops) and return the current
        basis unchanged."""
        return self.sql_dml_many([statement], tx_time, id_col)

    def sql_dml_many(
        self,
        statements: list[str],
        tx_time: str | datetime | None = None,
        id_col: str = "id",
    ) -> Basis:
        """Execute several DML statements as ONE transaction (core2's
        submit-tx takes a vector of ops).  Each statement becomes a
        Call op that lowers it inside ``submit_tx``, against the same
        pre-transaction snapshot Assert, Call and Patch expand against:
        the head's rows read at the transaction clock.  All statements
        share one tx_time, and later statements win on id conflicts via
        the within-tx sequence — atomic multi-statement DML.  A replay
        after a concurrent writer's commit lowers them again against
        the winner's state, so ``UPDATE t SET n = n + 1`` loses no
        update."""
        from core2_spark import sql_dml

        if len(statements) == 1 and sql_dml.maintenance_result(self, statements[0]):
            return self.db().basis
        if any(sql_dml.is_maintenance(stmt) for stmt in statements):
            raise ValueError(
                "maintenance statements are not log "
                "ops and cannot join a multi-statement transaction — "
                "run them alone"
            )
        # the module attribute, looked up per call: a tracer may wrap it
        return self.submit_tx(
            [
                Call(lambda snap, stmt=stmt: sql_dml.dml_to_ops(snap, stmt, id_col))
                for stmt in statements
            ],
            tx_time,
        )

    def _all_tables(self) -> dict[str, str]:
        return {
            name: self._table_path(name)
            for name in os.listdir(self.root)
            if os.path.isdir(self._table_path(name)) and not name.startswith("_")
        }

    def optimize(
        self,
        table: str,
        target_files: int | None = None,
        zorder_by: tuple[str, ...] | None = None,
    ) -> int:
        try:
            return self._optimize_impl(table, target_files, zorder_by)
        except ConcurrentWriterError:
            raise
        except Exception as exc:  # noqa: BLE001 — race reclassification
            self._reclassify_race(exc)
            raise

    def _optimize_impl(
        self,
        table: str,
        target_files: int | None = None,
        zorder_by: tuple[str, ...] | None = None,
    ) -> int:
        """Compact the version table's small files (every transaction
        appends at least one file; after thousands of transactions the
        read path pays per-file open cost — the classic streaming-table
        small-file problem).  Rewrites ALL version rows — history,
        tombstones, ``_tx_seq`` included — into ``target_files`` files
        (default: ~128 MB each), changing nothing semantically.

        Like ``Erase`` (the other rewrite), this invalidates previously
        acquired Basis manifests for the table — the reference's
        analogue is sealing/compacting chunks at maintenance points.
        Returns the new file count."""
        self._refuse_unadopted(table)  # before the claim, like vacuum
        self._claim_maintenance()  # conflict-fence concurrent writers
        path = self._table_path(table)
        if target_files is None:
            size = sum(
                os.path.getsize(os.path.join(r, n))
                for r, _d, ns in os.walk(path)
                for n in ns
                if n.endswith(".parquet")
            )
            target_files = max(1, size // (128 * 1024 * 1024) + 1)
        # expectation snapshot BEFORE the read lists files: the guarded
        # swap re-checks it under the log lock (see _rewrite_atomic)
        expect = _list_parquet(path)
        rows = self._scan(table)
        if zorder_by:
            # cluster the rewritten files by the Morton key so
            # id-point / multi-column reads also prune via footer
            # min-max stats (the kd-tree-pruning analogue), on top of
            # the day-partition pruning.  Key FIRST (zorder_key range-
            # repartitions per clustered column to compute rank
            # buckets), then range-partition into target_files by
            # (day,) + _z: each output task owns a contiguous (day, z)
            # slab — few partition directories per task AND tight
            # per-file z-ranges.
            from core2_spark.sinks import zorder_key

            rows = zorder_key(rows, list(zorder_by))
            range_cols = (
                [F.col(bt.SYS_DAY)] if bt.SYS_DAY in rows.columns else []
            ) + [F.col("_z")]
            rows = (
                rows.repartitionByRange(target_files, *range_cols)
                .sortWithinPartitions("_z")
                .drop("_z")
            )
        elif bt.SYS_DAY in rows.columns:
            # hash by partition day so each output task writes into few
            # partition directories (plain round-robin × partitionBy
            # would emit target_files × n_days small files)
            rows = rows.repartition(target_files, F.col(bt.SYS_DAY))
        else:
            rows = rows.repartition(target_files)
        self._rewrite_atomic(path, rows, swap_guard=True, expect_files=expect)
        return target_files

    def apply_changes(self, table: str, changes: DataFrame) -> None:
        """Log-consumer ingest (the follower side of §3.3's CDC feed):
        append the version rows of a ``Snapshot.changes`` feed —
        produced by ANOTHER engine — into this engine's table,
        verbatim, and advance the clock to the feed's newest
        system time.  Because the feed carries the original
        ``system_time_start``/app-time rectangles and within-tx
        sequence, a replica that applies slices of the feed in log
        order converges to the source's exact bitemporal state:
        ``history()``/``table()``/as-of reads answer identically.

        Idempotence note: re-applying an overlapping slice duplicates
        version rows (version resolution tolerates exact duplicates
        for current-state reads but history() would show them) — tail
        with disjoint ``(since, until]`` windows, which is what
        ``changes``' half-open interval is for.

        The slice commits like a transaction (``_manifested``): a
        failure or crash before the clock persists leaves the replica
        as it was.  An empty slice changes nothing."""
        rows = changes.withColumn(
            bt.TOMBSTONE, F.col("_change") == F.lit("delete")
        ).drop("_change")
        newest = rows.agg(F.max(bt.SYS_START)).collect()[0][0]
        if newest is None:
            return
        if newest.tzinfo is not None:
            newest = newest.astimezone(timezone.utc).replace(tzinfo=None)
        self._check_sole_writer()
        with self._manifested() as tx:
            if self._last_tx_time is None or newest > self._last_tx_time:
                self._last_tx_time = newest
            tx.t = self._last_tx_time
            # a feed may carry app-bounded rectangles the replica cannot
            # cheaply detect — conservatively disable merge-on-read
            self._app_bounded.add(table)
            self._append(tx, table, rows)

    def vacuum(self, table: str, older_than: str | datetime) -> None:
        try:
            return self._vacuum_impl(table, older_than)
        except ConcurrentWriterError:
            raise
        except Exception as exc:  # noqa: BLE001 — race reclassification
            self._reclassify_race(exc)
            raise

    def _vacuum_impl(self, table: str, older_than: str | datetime) -> None:
        """History retention: physically drop version rows whose
        system-time visibility window closed BEFORE ``older_than`` —
        they can no longer affect any read at or after the horizon.
        At 100 TB this is what bounds unbounded history growth: a
        version superseded years ago costs storage and (for history
        scans) read time forever, and most deployments only owe
        time-travel up to a regulatory horizon.

        Kept: every version whose derived ``system_time_end`` (the
        successor's start, ∞ if none) is after the horizon — including
        tombstones still hiding their id.  After a vacuum, reads with
        BOTH clocks at or after the horizon (current state, recent
        as-of, changes since) answer exactly as before; any read
        pinned before the horizon on either axis is explicitly out of
        contract.  Refused for app-bounded tables: there a
        system-superseded version can still WIN at app instants its
        successor's rectangle does not cover (partial retroactive
        corrections never shadow periods they don't cover), so naive
        system-axis retention would change answers — bounding that
        history needs rectangle subtraction, not a cutoff.

        Scale path (day-partitioned tables): retention is mostly a
        METADATA operation, not a table rewrite.  Partitions dated
        after the horizon are untouched file-for-file (every version
        there starts — hence ends — after the horizon).  For the
        ≤-horizon slice, one NARROW (id, sys_start [, seqs]) decision
        scan derives per-day keep counts; a day whose versions all
        closed before the horizon is dropped with an rmtree (its full-
        width data is never read), a day whose versions all survive is
        untouched, and only the horizon-straddling days are rewritten.
        At 100 TB that is the difference between retention being a
        directory drop and a full-table rewrite.  Legacy flat tables
        keep the whole-table rewrite.  Like Erase/optimize, any
        rewrite/drop makes previously acquired bases for the table
        stale, and any compact older than the horizon is invalidated."""
        if table in self._app_bounded:
            raise ValueError(
                f"vacuum({table!r}) unsupported: the table has app-time-"
                "bounded versions, whose superseded predecessors can still "
                "win at app instants outside the successor's rectangle"
            )
        self._refuse_unadopted(table)
        horizon = _to_datetime(older_than)
        # claim the maintenance window FIRST: bumps the token (in-
        # flight writers conflict + replay instead of losing files to
        # the swaps) and conservatively pre-stamps the history-rewrite
        # clock, so a half-applied vacuum can never feed an
        # incremental view stale history.  The stamp is the EFFECTIVE
        # destruction bound min(horizon, head): destroyed versions
        # close before the horizon AND before the claim head (nothing
        # already on disk closes later), so feeds/views from at-or-
        # after this bound are provably complete — stamping the raw
        # claim clock would refuse the retention contract's own
        # "reads at the horizon answer as before" guarantee, stamping
        # the raw horizon (often +inf for full retention drops) would
        # force full recomputes forever.
        head = self._last_tx_time or self._epoch
        self._claim_maintenance(
            rewrite_table=table, rewrite_clock=min(horizon, head)
        )
        path = self._table_path(table)
        day_dirs = {
            e.split("=", 1)[1]: os.path.join(path, e)
            for e in os.listdir(path)
            if os.path.isdir(os.path.join(path, e))
            and e.startswith(f"{bt.SYS_DAY}=")
        }
        if day_dirs:
            self._vacuum_partitioned(table, horizon, day_dirs)
        else:
            expect = _list_parquet(path)
            raw = self._scan(table)
            closed = bt.close_system_versions(raw, "id")
            kept = closed.filter(
                F.col(bt.SYS_END) > bt._ts(horizon)
            ).drop(bt.SYS_END)
            self._rewrite_atomic(
                path, kept, swap_guard=True, expect_files=expect
            )
        meta = os.path.join(self.root, "_current", f"{table}.json")
        if os.path.exists(meta):
            with open(meta) as f:
                tx = datetime.fromisoformat(json.load(f)["tx_time"])
            if tx < horizon:
                os.remove(meta)
        # (history-rewrite clock already stamped by the claim above)

    def _vacuum_partitioned(
        self, table: str, horizon: datetime, day_dirs: dict[str, str]
    ) -> None:
        """Partition-wise retention for ``_sys_day=`` layouts (see
        ``vacuum``).  Correctness of the slice restriction: a version's
        end is its successor's start, and any successor starting at or
        before the horizon lies in a ≤-horizon day — so closing within
        the ≤-horizon slice yields exactly the global keep decision
        for every row in the slice (a successor outside the slice
        implies end > horizon, same as the in-slice ∞ default)."""
        import datetime as _dtmod

        path = self._table_path(table)
        horizon_day = horizon.date()
        slice_days = sorted(
            d for d in day_dirs
            if _dtmod.date.fromisoformat(d) <= horizon_day
        )
        if not slice_days:
            return  # whole table is after the horizon: nothing to do
        # per-day expectation snapshots BEFORE the decision read lists
        # files: drops and mixed-day swaps re-check them under the log
        # lock — a concurrent writer's publish after this point (its
        # token still current, its CAS will succeed) must abort the
        # destructive step, never be silently folded away
        expect_day = {
            d: _list_parquet(day_dirs[d]) for d in day_dirs
        }
        seq_cols = []
        probe = self._scan(table)
        for c in (bt.TX_SEQ, bt.ROW_SEQ):
            if c in probe.columns:
                seq_cols.append(c)
        narrow = (
            probe.filter(F.col(bt.SYS_DAY) <= F.lit(horizon_day))
            .select("id", bt.SYS_START, bt.SYS_DAY, *seq_cols)
        )
        closed = bt.close_system_versions(narrow, "id")
        per_day = {
            r["day"]: (r["n"], r["n_keep"])
            for r in closed.groupBy(
                F.col(bt.SYS_DAY).cast("string").alias("day")
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    (F.col(bt.SYS_END) > bt._ts(horizon)).cast("long")
                ).alias("n_keep"),
            )
            .collect()
        }
        drop_days: list[str] = []
        mixed: list[str] = []
        for d in slice_days:
            n, n_keep = per_day.get(d, (0, 0))
            if n_keep == 0:
                drop_days.append(d)
            elif n_keep < n:
                mixed.append(d)
            # else: all kept — partition untouched, file-for-file
        keys_dir = None
        if mixed:
            # snapshot the keep decision BEFORE any mutation: the
            # lazy `closed` plan re-reads table files, and drops/
            # rewrites must not shift successor derivation under it
            # unique per invocation: two vacuums racing past the
            # maintenance claim must not share scratch (one rmtree's
            # while the other scans — vanished-footer task failures);
            # the _tmp_ prefix keeps it invisible to table scans and
            # reclaimed by _recover_rewrites if this vacuum dies
            keys_dir = os.path.join(
                path, f"_tmp_vacuum_keys_{uuid.uuid4().hex[:12]}"
            )
            with self._micros_timestamps():
                closed.filter(
                    F.col(bt.SYS_DAY).cast("string").isin(mixed)
                    & (F.col(bt.SYS_END) > bt._ts(horizon))
                ).select(
                    "id", bt.SYS_START, bt.SYS_DAY, *seq_cols
                ).write.parquet(keys_dir)
        if drop_days:
            # every version in those days closed before the horizon:
            # drop the partitions without reading their contents — but
            # ONLY after re-verifying the maintenance token under the
            # log lock, exactly like the mixed-day swaps below.  The
            # claim bumps the token, but a writer that conflicted on it
            # legitimately refreshes and REPLAYS past it; its fresh
            # commit can land in a to-be-dropped day between this
            # vacuum's decision scan and the rmtree, and an unguarded
            # drop destroys the committed row (found by the 4-writer
            # soak, seeds 1101/1134: serial-replay model showed a
            # committed put missing from the final state).
            with self._log_lock():
                self._check_sole_writer()
                for d in drop_days:
                    FENCE_STATS["listing_checks"] += 1
                    if _list_parquet(day_dirs[d]) != expect_day[d]:
                        FENCE_STATS["listing_aborts"] += 1
                        raise ConcurrentWriterError(
                            f"vacuum drop of day {d} aborted: the "
                            "partition's file set changed since the "
                            "decision read (a concurrent writer's "
                            "in-flight publish) — refresh() and retry"
                        )
                for d in drop_days:
                    shutil.rmtree(day_dirs[d], ignore_errors=True)
        if not mixed:
            return
        keep_keys = self.spark.read.parquet(keys_dir)
        for d in mixed:
            day_df = self._scan(table, day_dirs[d])
            day_keys = keep_keys.filter(
                F.col(bt.SYS_DAY).cast("string") == d
            ).drop(bt.SYS_DAY)
            # null-safe keys: legacy files may lack seq columns (read
            # as NULL), and null = null must still match
            cond = F.col("l.id").eqNullSafe(F.col("r.id"))
            for c in (bt.SYS_START, *seq_cols):
                cond = cond & F.col(f"l.{c}").eqNullSafe(F.col(f"r.{c}"))
            kept = (
                day_df.alias("l")
                .join(day_keys.alias("r"), cond, "left_semi")
            )
            # the swap leaves _old_/_tmp_ siblings inside the table dir
            # ('='-encoded so partition inference never sees them) and
            # is repaired by _recover_rewrites at the next open
            self._rewrite_atomic(
                day_dirs[d], kept, swap_guard=True,
                expect_files=expect_day[d],
            )
        shutil.rmtree(keys_dir, ignore_errors=True)

    # -- §4 materialized current state --------------------------------
    def compact(
        self,
        table: str,
        sort_by: tuple[str, ...] = (),
        sort_files: int | None = None,
    ) -> str:
        """Materialize the current-state view of ``table`` at the
        engine's clock (SURVEY.md §4's optional optimization): the
        latest-version window dedup runs ONCE here, so subsequent
        current-state reads are plain pushed-down parquet scans — no
        window, no shuffle.  Reads fall back to the live resolution
        automatically once newer transactions make the compact stale;
        history/as-of queries never use it.  ``sort_by`` clusters the
        compact by the given columns (range partition + sort) so
        footer min/max stats prune predicates on them.  Returns the
        compact path."""
        import json
        import uuid as _uuid

        snap = self.db()
        # VERSIONED IMMUTABLE compact dirs + an atomic pointer: the old
        # layout swapped ONE dir (`_current/<table>`) in place and then
        # wrote the sidecar — so a reader could pin the sidecar's clock
        # yet list the dir mid-swap (or post-swap, pre-sidecar) and
        # read a DIFFERENT compact's data at that clock (the
        # fuzz_failover_wire torn-read class).  Each compact now lands
        # in a fresh dir no reader has ever seen; the sidecar is
        # os.replace'd to point at it, so readers get (clock, dir) as
        # one atomic unit and the dir's contents can never change
        # under them.  Superseded dirs are pruned only once older than
        # the reclaim window (a reader may briefly hold the previous
        # pointer).
        dirname = f"{table}__{_uuid.uuid4().hex[:12]}"
        path = os.path.join(self.root, "_current", dirname)
        # explicit times bypass any existing compact, so the plan reads
        # only version files
        current = snap.table(
            table, system_time=self._last_tx_time, app_time=self._last_tx_time
        )
        if sort_by:
            # CLUSTERED compact: range-partition + sort by the hot
            # filter keys, so each file/row group covers a narrow key
            # range and min/max footer stats actually prune key
            # predicates (an unsorted compact's row groups all span
            # the full key domain — stats prune nothing).  This is
            # what makes IN-list filters (e.g. materialized-view
            # refresh recomputes, point lookups) skip data at scale.
            # ``sort_files`` pins the file count (size-budgeted by the
            # caller); default lets Spark/AQE choose.
            parts = (
                [F.col(c) for c in sort_by]
                if sort_files is None
                else [sort_files, *[F.col(c) for c in sort_by]]
            )
            current = current.repartitionByRange(*parts).sortWithinPartitions(
                *sort_by
            )
        with self._micros_timestamps():
            self._writer(current).parquet(path)
        meta = os.path.join(self.root, "_current", f"{table}.json")
        tmp = meta + f".tmp{_uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(
                {"tx_time": self._last_tx_time.isoformat(), "dir": dirname}, f
            )
        os.replace(tmp, meta)
        # Prune superseded dirs past the reclaim window.  Candidates are
        # matched by the EXACT versioned pattern (never a bare
        # startswith: with tables 'user' and 'user__events', a prefix
        # test on 'user' would reap 'user__events__<hex>' — another
        # table's LIVE compact) plus this table's legacy in-place
        # `_current/<table>` dir, which nothing references once the
        # sidecar carries a 'dir' key and would otherwise leak a full
        # table copy forever on upgraded roots.  Any dir an existing
        # sidecar points at is unconditionally kept.
        import re as _re
        import time as _time

        cur_dir = os.path.join(self.root, "_current")
        now = _time.time()
        live: set[str] = set()
        for sname in os.listdir(cur_dir):
            if not sname.endswith(".json") or ".json.tmp" in sname:
                continue
            try:
                with open(os.path.join(cur_dir, sname)) as f:
                    smeta = json.load(f)
                # a legacy sidecar (no 'dir') implicitly references the
                # bare in-place dir named after its table
                live.add(smeta.get("dir") or sname[: -len(".json")])
            except (OSError, ValueError, json.JSONDecodeError):
                continue
        versioned = _re.compile(rf"{_re.escape(table)}__[0-9a-f]{{12}}\Z")
        for entry in os.listdir(cur_dir):
            superseded = bool(versioned.fullmatch(entry)) or entry == table
            if not superseded or entry == dirname or entry in live:
                continue
            full = os.path.join(cur_dir, entry)
            try:
                if (
                    os.path.isdir(full)
                    and now - os.path.getmtime(full) > self._reclaim_after_s
                ):
                    shutil.rmtree(full, ignore_errors=True)
            except OSError:
                pass
        return path

    def _compact_pointer(self, table: str):
        """(compact dir path, its clock) from the atomic sidecar, or
        None.  The sidecar is os.replace'd as one unit pointing at an
        IMMUTABLE versioned dir (see ``compact``), so the pair can
        never be torn; a missing/garbled sidecar or a pruned dir reads
        as no-compact (live resolution).  Legacy roots whose sidecar
        predates the versioned layout point at the in-place
        ``_current/<table>`` dir."""
        import json

        meta = os.path.join(self.root, "_current", f"{table}.json")
        try:
            with open(meta) as f:
                m = json.load(f)
            tx = datetime.fromisoformat(m["tx_time"])
        except (OSError, ValueError, KeyError, json.JSONDecodeError):
            return None
        d = m.get("dir")
        path = os.path.join(self.root, "_current", d if d else table)
        if not os.path.isdir(path):
            return None
        return path, tx

    def _stale_compact(self, table: str, basis_time):
        """(compact path, its clock) when a compact exists that is
        OLDER than the basis — usable as the base of a merge-on-read
        — or None.  Never offered for app-bounded tables (a bounded
        period can expire between the compact's clock and the basis,
        changing an id's current state with no new version rows)."""
        if table in self._app_bounded:
            return None
        ptr = self._compact_pointer(table)
        if ptr is None or ptr[1] >= basis_time:
            return None
        return ptr

    def _fresh_compact_path(self, table: str, basis_time) -> str | None:
        """Compact path if one exists AND matches the basis clock."""
        ptr = self._compact_pointer(table)
        if ptr is None or ptr[1] != basis_time:
            return None
        return ptr[0]

    # -- incremental materialized views (see mviews.py) ----------------
    def create_materialized_view(
        self,
        name: str,
        table: str,
        keys: list[str],
        aggs: dict[str, tuple[str, str]],
    ) -> DataFrame:
        """Create a keyed-aggregate materialized view of ``table``'s
        current state at this clock.  ``aggs`` maps output alias →
        ``(fn, column)`` with fn in count/sum/min/max/avg/
        count_distinct (column '*' for count).  Maintained
        incrementally from the CDC feed by
        ``refresh_materialized_view`` — see mviews.py for the algebra
        and its exactness guards."""
        from core2_spark import mviews

        return mviews.create(self, name, table, keys, aggs)

    def materialized_views(self) -> dict[str, dict]:
        """{name: meta} for every materialized view under this root."""
        from core2_spark import mviews

        return mviews.list_views(self)

    def refresh_materialized_view(self, name: str) -> dict:
        """Bring the view to the current clock by re-aggregating only
        the groups the changes since the view's clock touched (a read
        of the current state filtered to those groups).  Returns
        ``{"mode": "noop"|"incremental"|"full", ...}`` — full
        recomputes happen only for app-time-bounded tables and
        post-view Erase/vacuum rewrites."""
        from core2_spark import mviews

        try:
            return mviews.refresh(self, name)
        except ConcurrentWriterError:
            raise
        except Exception as exc:  # noqa: BLE001 — race reclassification
            self._reclassify_race(exc)
            raise

    def materialized_view(self, name: str) -> DataFrame:
        """Read a materialized view (plain pushed-down parquet scan)."""
        from core2_spark import mviews

        return mviews.read(self, name)

    def db(self, basis: Basis | None = None) -> "Snapshot":
        """Latest snapshot: basis clock = the last committed tx_time
        (never a counter-derived guess, which could predate an
        explicitly-timed transaction and read an empty state)."""
        if basis is None:
            basis = acquire_basis(
                self._all_tables(),
                self._last_tx_time or self._epoch,
                self._table_schemas,
            )
        return Snapshot(self, basis)

    def rehydrate(self, token: str) -> Basis:
        """The basis a ``basis_to_json`` token names, checked against
        this engine's tables and recorded schemas (a token is client
        input: see ``basis.basis_from_json``)."""
        return basis_from_json(token, self._all_tables(), self._table_schemas)


class Snapshot:
    """Read view at a basis — core2's 'database value'."""

    _use_compacts = True
    _through = None  # read no version row with system start past this

    def __init__(self, engine: Engine, basis: Basis):
        self.engine = engine
        self.basis = basis

    def _versions(self, table: str, day_lo=None, day_hi=None) -> DataFrame:
        """Raw version rows of ``table`` visible at this basis — the
        single read funnel every Snapshot surface goes through, so a
        speculative overlay (``with_tx``) only has to extend it."""
        df = self.basis.read(
            self.engine.spark, table, day_lo=day_lo, day_hi=day_hi
        )
        if self._through is not None:
            df = df.filter(F.col(bt.SYS_START) <= bt._ts(self._through))
        return df

    def _expand(self, ops: list) -> list[Put | Delete | Erase]:
        """Lower a transaction's ops against this (pre-transaction)
        snapshot — the same rules for a commit, a replay and a what-if:
        Assert evaluates its predicate here (false or NULL aborts with
        TxAssertionError), Call runs its fn on this snapshot and Patch
        merges into the versions visible here; Put, Delete and Erase
        pass through."""
        out: list[Put | Delete | Erase] = []
        for op in ops:
            if isinstance(op, Assert):
                row = self.sql(f"SELECT ({op.predicate}) AS ok").head()
                if row is None or row["ok"] is not True:
                    raise TxAssertionError(
                        op.message
                        or f"transaction assertion failed: {op.predicate}"
                    )
            elif isinstance(op, Call):
                out.extend(self._expand(op.fn(self)))
            elif isinstance(op, Patch):
                from core2_spark.sql_dml import patch_to_ops

                out.extend(
                    patch_to_ops(
                        self, op.table, list(op.docs), op.id_col,
                        app_start=op.app_start, app_end=op.app_end,
                    )
                )
            else:
                out.append(op)
        return out

    def with_tx(
        self,
        ops: list,
        tx_time: str | datetime | None = None,
    ) -> "Snapshot":
        """SPECULATIVE transaction (the reference lineage's
        ``with-tx``/``xt/with`` what-if surface): a snapshot that
        answers as if ``ops`` had been committed at ``tx_time``
        (default: one second past this basis' clock) — without
        writing anything to the log.  Every read surface works —
        table(), history(), entity_history(), sql() with the temporal
        dialect, Datalog, changes() — and the underlying engine state
        is untouched; speculative snapshots stack (``.with_tx(...)``
        on a speculative snapshot layers another transaction).

        Ops are those ``submit_tx`` takes, lowered by the same rules:
        Assert, Call and Patch expand against this snapshot at the
        speculative clock, and Put and Delete stamp the version rows a
        commit would write.  Speculative Erase hides the id's whole
        history, like the real op (without the rewrite)."""
        t = (
            _to_datetime(tx_time)
            if tx_time is not None
            else self.basis.current_time + timedelta(seconds=1)
        )
        if t <= self.basis.current_time:
            raise ValueError(
                f"speculative tx_time {t} is not after the basis clock "
                f"({self.basis.current_time})"
            )
        pre = self._at(t)
        overlays: dict[str, DataFrame] = {}
        erased: dict[str, DataFrame] = {}
        # each table's types as the commit would record them, op by op
        # (Engine._append: _conform, then _widened)
        recorded = {n: _struct(js) for n, js in pre.basis.schemas.items()}
        for seq, op in enumerate(pre._expand(ops)):
            self.engine._refuse_unadopted(op.table)  # as the commit would
            if isinstance(op, Erase):
                into = erased
                rows = op.ids.select(F.col(op.id_col).alias("id")).distinct()
            else:
                into = overlays
                before = recorded.get(op.table)
                rows, schema = _conform(_version_rows(op, t, seq), before)
                recorded[op.table] = _widened(before, schema)
            into[op.table] = (
                into[op.table].unionByName(rows, allowMissingColumns=True)
                if op.table in into
                else rows
            )
        manifests = dict(self.basis.manifests)
        for tname in overlays:
            # a speculative Put may create a brand-new table: an empty
            # manifest entry makes sql() register its view too
            manifests.setdefault(tname, ())
        schemas = {n: json.dumps(s.jsonValue()) for n, s in recorded.items()}
        basis = replace(pre.basis, manifests=manifests, schemas=schemas)
        return _SpeculativeSnapshot(pre, basis, overlays, erased)

    def _at(self, t: datetime) -> "Snapshot":
        """The versions this snapshot reads, read at the later clock
        ``t``: no compact (one taken after this basis holds later
        commits) and no version row past this basis' clock (the
        pinned manifests can hold a concurrent writer's published but
        unlogged files)."""
        s = copy.copy(self)
        s.basis = replace(self.basis, current_time=t)
        s._use_compacts = False
        s._through = self.basis.current_time
        return s

    def history(self, table: str) -> DataFrame:
        """FOR ALL SYSTEM_TIME — every version visible at the basis."""
        raw = self._versions(table)
        if bt.SYS_DAY in raw.columns:  # physical-layout detail
            raw = raw.drop(bt.SYS_DAY)
        return bt.close_system_versions(raw, "id")

    def _row_versions(self, table: str) -> DataFrame:
        """``history`` as a temporal query reads it (a SQL FOR clause,
        an XTQL range bind): delete markers are visibility metadata,
        not rows, and the write-order columns are physical details."""
        return bt.without_tombstones(self.history(table)).drop(
            bt.TX_SEQ, bt.ROW_SEQ, bt.TOMBSTONE
        )

    def entity_history(
        self, table: str, entity_id, newest_first: bool = True
    ) -> DataFrame:
        """Version history of ONE entity (the reference's
        ``entity-history`` API [upstream: core2 api `datalog.clj` /
        xtdb entity-history]): every version row of ``entity_id``
        visible at this basis, with both temporal rectangles and the
        ``_tombstone`` marker, ordered by system time.  The id
        predicate pushes to the scan (and prunes row groups when the
        engine writes bloom filters on id)."""
        h = self.history(table).filter(F.col("id") == F.lit(entity_id))
        order = (
            [F.col(c).desc() for c in (bt.SYS_START, bt.TX_SEQ, bt.ROW_SEQ) if c in h.columns]
            if newest_first
            else [F.col(c).asc() for c in (bt.SYS_START, bt.TX_SEQ, bt.ROW_SEQ) if c in h.columns]
        )
        return h.orderBy(*order)

    def table(
        self,
        table: str,
        system_time: str | datetime | None = None,
        app_time: str | datetime | None = None,
    ) -> DataFrame:
        """Default scan: the visible version per id at the basis
        clocks (or explicit FOR SYSTEM_TIME/APPLICATION_TIME AS OF
        args), using the rectangle-correct resolution: latest known
        version covering the app instant wins, tombstones hide ids —
        partial retroactive corrections never shadow periods they
        don't cover."""
        if system_time is None and app_time is None and self._use_compacts:
            # default read at the basis clock: a fresh compact (if the
            # engine materialized one at exactly this clock) is a plain
            # scan — no window, no shuffle
            compact = self.engine._fresh_compact_path(
                table, self.basis.current_time
            )
            if compact is not None:
                return self.engine.spark.read.parquet(compact)
            # merge-on-read: a STALE compact plus the delta since its
            # clock — the latest-version window runs only over ids
            # touched since the compact (manifest-pruned recent files
            # find them), everything else reads straight from the
            # compact.  Only offered when app-time expiry cannot
            # change untouched ids (see Engine._stale_compact).
            stale = self.engine._stale_compact(table, self.basis.current_time)
            if stale is not None:
                return self._merge_on_read(table, *stale)
        s = system_time if system_time is not None else self.basis.current_time
        t = app_time if app_time is not None else self.basis.current_time
        # manifest pruning: versions with system day AFTER date(s) can
        # never be visible at s — drop their files on the driver, so a
        # deep-history as-of read plans over O(files in range), not
        # O(all history) (see Basis.read)
        versions = self._versions(table, day_hi=_to_datetime(s).date())
        visible = bt.resolve_as_of(versions, s, t, "id")
        drop = [*bt.TEMPORAL_COLS, bt.TOMBSTONE, bt.TX_SEQ, bt.ROW_SEQ, bt.SYS_DAY]
        return visible.drop(*[c for c in drop if c in visible.columns])

    def _merge_on_read(self, table: str, compact_path: str, t0) -> DataFrame:
        """Current state at the basis = (compact at t0 minus ids with
        post-t0 versions) ∪ (full resolution of exactly those ids).

        The delta id-set comes from the manifest-pruned recent files
        (day_lo = t0's day), so finding it costs O(files since t0);
        the anti/semi joins stay un-shuffled via AQE's runtime
        broadcast when the delta is small — which is the workload this
        path exists for (frequent small updates over a hot compacted
        table).  Exactness relies on the no-app-bounds invariant
        enforced by ``Engine._stale_compact``; Erase invalidates the
        compact outright at commit."""
        spark = self.engine.spark
        t0_col = bt._ts(t0)
        s = t = self.basis.current_time
        # Bound the touched-id set at the BASIS clock, not just t0: the
        # pinned manifest can hold a concurrent writer's published-but-
        # unlogged files (SYS_START beyond the basis — the tx is mid-
        # commit).  Unbounded, such an id counts as "touched", gets
        # anti-joined out of the compact base, and its basis-visible
        # version — which lives IN the base, pre-t0 — is not in the
        # recent files, so the row silently vanishes until the in-
        # flight tx logs.  Found by scripts/fuzz_failover_wire.py as
        # load-sensitive torn reads on every wire transport (the
        # publish→log window stretches under load).
        recent = self._versions(table, day_lo=t0.date()).filter(
            (F.col(bt.SYS_START) > t0_col) & (F.col(bt.SYS_START) <= bt._ts(s))
        )
        recent_ids = recent.select("id").distinct()
        base = spark.read.parquet(compact_path)
        untouched = base.join(recent_ids, "id", "left_anti")
        # resolve touched ids over the RECENT files only: the
        # no-app-bounds invariant gating this path means the visible
        # version of any touched id is its latest system version, and
        # a touched id BY DEFINITION has that version in (t0, basis]
        # — a pre-t0 version can never win for it (a post-t0 tombstone
        # hides the id the same way).  Resolving over the full log
        # instead re-opened EVERY table file per read (one task per
        # file), turning the whole merge-on-read into the O(all
        # history) plan it exists to avoid — found by the r9
        # 1,200-day probe as a 1,232-task stage inside every
        # incremental mview refresh.
        vis = bt.resolve_as_of(recent, s, t, "id")
        drop = [*bt.TEMPORAL_COLS, bt.TOMBSTONE, bt.TX_SEQ, bt.ROW_SEQ, bt.SYS_DAY]
        vis = vis.drop(*[c for c in drop if c in vis.columns])
        return untouched.unionByName(vis, allowMissingColumns=True)

    # -- §3.1 SQL ------------------------------------------------------
    def sql(self, query: str, **asof) -> DataFrame:
        """SQL over basis-pinned views of the tables the statement names.

        The SQL:2011 temporal dialect is enabled: table references may
        carry ``FOR SYSTEM_TIME AS OF/FROM..TO/ALL`` (and
        APPLICATION_TIME) clauses, which resolve against the version
        history at this basis (delete markers close periods, then drop
        out — a FOR query never returns the tombstone row itself).
        Bare references ALWAYS see the current-state view, even when
        the same table also appears with a FOR clause elsewhere in the
        query (the history lives under an internal view name).

        Views are SCOPED PER CALL (unique suffix, dropped once the
        query is analyzed): two snapshots at different bases running
        concurrently in one SparkSession never clobber each other's
        view registrations.  A call builds only what its text reads: a
        current-state view per table it names bare, a history view per
        table it names in a FOR clause, a view per ``mview_`` it names
        — the other tables at the basis cost nothing.

        Materialized views are queryable as ``mview_<name>`` (and join
        freely with tables).  They reflect their OWN refresh clock,
        not this basis — a deliberately visible seam: a stale view is
        stale data, and the `mview_` prefix marks the reference as
        coming from the maintenance tier."""
        import uuid

        from core2_spark import sql_dialect
        from core2_spark.sql_dialect import (
            find_temporal_tables,
            pin_now,
            rename_bare_tables,
            rewrite_temporal_sql,
            strip_setting_prefix,
            tokens,
        )

        uid = uuid.uuid4().hex[:8]
        # the statement's head, as Spark lexes it: a leading comment is
        # not its first word
        head = tokens(query)[:3]
        first = head[0].word() if head else ""
        # SHOW TABLES / DESCRIBE <t>: client-shell sugar over the
        # information_schema views (same metadata-only path)
        if first == "SHOW" and len(head) > 1 and head[1].word() == "TABLES":
            return self.sql(
                "SELECT table_name, table_type FROM information_schema.tables "
                "ORDER BY table_name"
            )
        if (
            first in ("DESCRIBE", "DESC")
            and len(head) > 1
            and head[1].kind in ("word", "qid")
            and (len(head) == 2 or head[2].text == ";")
        ):
            tname = head[1].text.strip('"`').replace("\\", "\\\\").replace("'", "\\'")
            return self.sql(
                "SELECT column_name, data_type, is_nullable "
                "FROM information_schema.columns "
                f"WHERE table_name = '{tname}' ORDER BY ordinal_position"
            )
        # EXPLAIN [FORMATTED|EXTENDED]: return the physical plan as a
        # one-column relation (client tooling parity — psql-style
        # EXPLAIN over pgwire/HTTP rides this same path).  The plan is
        # of the DIALECT-REWRITTEN query, so temporal clauses, ASOF
        # joins, and basis views appear as what actually executes.
        if first == "EXPLAIN" and len(head) > 1:
            mode = "formatted"
            rest = head[1]
            if rest.word() in ("FORMATTED", "EXTENDED") and len(head) > 2:
                mode, rest = rest.text.lower(), head[2]
            inner = self.sql(query[rest.start :], **asof)
            plan = inner._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
                inner._jdf.queryExecution(), mode
            )
            return self.engine.spark.createDataFrame(
                [(line,) for line in plan.splitlines()], "plan string"
            )
        # SETTING DEFAULT VALID_TIME/SYSTEM_TIME AS OF '...' prefix:
        # statement-scoped default clocks, the SQL spelling of the
        # **asof kwargs (per-table FOR clauses still override)
        if first == "SETTING":
            query, setting = strip_setting_prefix(query)
            for k, v in setting.items():
                if asof.get(k) is not None:
                    raise ValueError(
                        f"SETTING sets {k} but the call already passed "
                        f"{k}= — pick one"
                    )
                asof[k] = v
        # repeatable queries: CURRENT_TIMESTAMP/CURRENT_DATE/NOW() are
        # the BASIS clock, never the wall clock — the same query at
        # the same basis answers identically forever (core2 semantics)
        query = pin_now(query, self.basis.current_time)
        registered: list[str] = []
        spark = self.engine.spark
        try:
            if "information_schema" in query.lower():
                query = self._register_information_schema(query, uid, registered)
            # name every view the text could read, rewrite, then build
            # only the views the rewrite used: a bare reference the
            # rename leaves alone resolves to no view either way
            hist_map = {
                name: f"{name}__sys_history_{uid}"
                for name in find_temporal_tables(query)
                if name in self.basis.manifests
            }
            bare_map = {name: f"{name}__snap_{uid}" for name in self.basis.manifests}
            mviews: dict[str, str] = {}
            if "mview_" in query.lower():  # zero overhead otherwise
                for vname in self.engine.materialized_views():
                    mviews[f"mview_{vname}"] = vname
                    bare_map[f"mview_{vname}"] = f"mview_{vname}__snap_{uid}"
            used: set[str] = set()
            rewritten = rename_bare_tables(
                rewrite_temporal_sql(query, hist_map), bare_map, used
            )
            for name, view in hist_map.items():
                self._row_versions(name).createOrReplaceTempView(view)
                registered.append(view)
            for name in sorted(used):
                df = (
                    self.engine.materialized_view(mviews[name])
                    if name in mviews
                    else self.table(name, **asof)
                )
                df.createOrReplaceTempView(bare_map[name])
                registered.append(bare_map[name])

            def _fresh(tag: str) -> str:
                v = f"{tag}_{uid}"
                registered.append(v)
                return v

            # spark.sql analyzes eagerly, so the views are resolvable
            # garbage once this returns
            return sql_dialect.run_dialect(spark, rewritten, _fresh)
        finally:
            for v in registered:
                spark.catalog.dropTempView(v)

    def _register_information_schema(
        self, query: str, uid: str, registered: list[str]
    ) -> str:
        """SQL-standard catalog introspection: rewrite
        ``information_schema.tables`` / ``.columns`` references to
        basis-scoped synthesized views (psql-style clients and BI
        tools discover the schema this way; core2 exposes the same
        surface [upstream: core2 `information_schema`]).

        tables: catalog/schema/name/type for every table in this
        basis plus materialized views (reported as their queryable
        ``mview_<name>`` spelling).  columns: one row per column with
        ordinal, Spark data type, and nullability.  Built from
        manifest/schema METADATA only — no data scan, so introspection
        stays O(catalog) on a 100 TB store."""
        from core2_spark.sql_dialect import tokens

        # `information_schema . tables|columns` as word tokens: a
        # literal or comment naming it stays as written
        toks = tokens(query)
        refs = [
            (toks[i].start, toks[i + 2].end, toks[i + 2].word())
            for i in range(len(toks) - 2)
            if toks[i].word() == "INFORMATION_SCHEMA"
            and toks[i + 1].text == "."
            and toks[i + 2].word() in ("TABLES", "COLUMNS")
        ]
        if not refs:
            return query
        spark = self.engine.spark
        t_rows, c_rows = [], []
        entries: list[tuple[str, str, DataFrame]] = [
            (name, "BASE TABLE", self.table(name))
            for name in sorted(self.basis.manifests)
        ]
        for vname in sorted(self.engine.materialized_views()):
            entries.append(
                (
                    f"mview_{vname}",
                    "MATERIALIZED VIEW",
                    self.engine.materialized_view(vname),
                )
            )
        for name, ttype, df in entries:
            t_rows.append(("core2", "public", name, ttype))
            for i, f in enumerate(df.schema.fields, start=1):
                c_rows.append(
                    (
                        "core2",
                        "public",
                        name,
                        f.name,
                        i,
                        f.dataType.simpleString(),
                        "YES" if f.nullable else "NO",
                    )
                )
        tv = f"__infoschema_tables_{uid}"
        cv = f"__infoschema_columns_{uid}"
        spark.createDataFrame(
            t_rows,
            "table_catalog string, table_schema string, "
            "table_name string, table_type string",
        ).createOrReplaceTempView(tv)
        spark.createDataFrame(
            c_rows,
            "table_catalog string, table_schema string, table_name string, "
            "column_name string, ordinal_position int, data_type string, "
            "is_nullable string",
        ).createOrReplaceTempView(cv)
        registered.extend([tv, cv])
        for start, end, kind in reversed(refs):
            query = query[:start] + (tv if kind == "TABLES" else cv) + query[end:]
        return query

    def changes(
        self,
        table: str,
        since: str | datetime,
        until: str | datetime | None = None,
    ) -> DataFrame:
        """Change feed (CDC view of the transaction log): every version
        committed in ``(since, until]`` at this basis, with a
        ``_change`` column ('put' or 'delete').  This is what a
        downstream log consumer reads to stay in sync — the engine's
        analogue of tailing the reference's tx log from an offset;
        ordering columns (system_time_start, _tx_seq) are included so
        consumers can apply changes in log order.

        A feed whose window opens BEFORE the table's history-rewrite
        marker (vacuum / Erase claim clock) is refused loudly: the
        rewrite physically removed closed version rows, so such a
        window would silently omit the very deletes a consumer exists
        to observe (the 3-writer fuzz caught exactly this as a
        diverged replica/view).  Every destroyed version both starts
        and closes at or before the marker, so ``since >= marker``
        windows are provably complete; a refused consumer must resync
        from a snapshot instead of the tail."""
        marker = self.engine._rewrites.get(table)
        if marker is not None and _to_datetime(since) < datetime.fromisoformat(
            marker
        ):
            raise ValueError(
                f"changes({table!r}, since={since!r}): history before "
                f"{marker} was rewritten (vacuum/erase) — the tail is "
                "incomplete below the marker; resync from a snapshot "
                "or tail from the marker forward"
            )
        # manifest pruning on both bounds: a consumer tailing from a
        # recent offset plans over the tail files only (see Basis.read)
        raw = self._versions(
            table,
            day_lo=_to_datetime(since).date(),
            day_hi=_to_datetime(until).date() if until is not None else None,
        )
        s = bt._ts(since)
        hi = bt._ts(until) if until is not None else F.lit(None)
        pred = (F.col(bt.SYS_START) > s) & (
            F.col(bt.SYS_START) <= F.coalesce(hi, F.col(bt.SYS_START))
        )
        if bt.SYS_DAY in raw.columns:
            # partition-pruning twin of the row-level lower bound: a
            # consumer tailing from a recent offset skips all history files
            pred = pred & (F.col(bt.SYS_DAY) >= F.to_date(s))
        out = raw.filter(pred)
        if bt.SYS_DAY in raw.columns:
            out = out.drop(bt.SYS_DAY)
        tomb = (
            F.coalesce(F.col(bt.TOMBSTONE), F.lit(False))
            if bt.TOMBSTONE in raw.columns
            else F.lit(False)
        )
        return out.withColumn(
            "_change", F.when(tomb, F.lit("delete")).otherwise(F.lit("put"))
        ).drop(*[c for c in (bt.TOMBSTONE,) if c in raw.columns])

    # -- §3.2 Datalog --------------------------------------------------
    def q(self, query: dict, args: list | None = None, **asof) -> DataFrame:
        """Datalog over the same basis-pinned views."""
        return dl.q_with_resolver(
            lambda table: self.table(table, **asof), query, args=args
        )

    def xtql(self, pipeline: list, **asof) -> DataFrame:
        """XTQL pipeline over the same basis-pinned views (the
        reference's successor query language; see xtql.py).  Per-from
        ``for-system-time``/``for-valid-time`` ``(at t)`` binds forward
        to Snapshot.table's as-of kwargs — each from gets the engine's
        rectangle-correct resolution at its own instant, overriding any
        pipeline-level ``**asof``."""
        from core2_spark import xtql as _xtql

        def resolve(table: str, history: bool = False, **kw) -> DataFrame:
            if history:
                # range/all-time temporal binds read the version
                # history, as the SQL dialect's FOR-clause view does.
                # Like SQL:2011 FROM..TO, the axis a range bind does
                # NOT name stays unfiltered (all overlapping versions
                # return).
                return self._row_versions(table)
            return self.table(table, **{**asof, **kw})

        return _xtql.xtql_with_resolver(resolve, pipeline)


class _SpeculativeSnapshot(Snapshot):
    """Snapshot layering uncommitted version rows over a parent
    snapshot (``Snapshot.with_tx``; the parent is read through
    ``Snapshot._at``, so its rows end at its own clock).  All read
    surfaces inherit; only the version funnel changes, and compact
    fast paths are bypassed (they materialize COMMITTED state only)."""

    def __init__(self, parent: Snapshot, basis: Basis, overlays, erased):
        super().__init__(parent.engine, basis)
        self._parent = parent
        self._overlays = overlays
        self._erased = erased
        self._use_compacts = False

    def _versions(self, table: str, day_lo=None, day_hi=None) -> DataFrame:
        ov = self._overlays.get(table)
        base = None
        if self.basis.manifests.get(table):
            base = self._parent._versions(table, day_lo=day_lo, day_hi=day_hi)
        if ov is not None:
            # overlay rows carry no _sys_day (that is a file-layout
            # column); the parent's files were already pruned by day
            base = (
                base.drop(bt.SYS_DAY).unionByName(ov, allowMissingColumns=True)
                if base is not None
                else ov
            )
        if base is None:
            raise KeyError(f"unknown table {table!r} at this basis")
        er = self._erased.get(table)
        if er is not None:
            base = base.join(er, "id", "left_anti")
        return base

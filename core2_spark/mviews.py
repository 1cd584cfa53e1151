"""Incremental materialized views over Engine tables.

A materialized view here is a keyed aggregate of one table's CURRENT
state (`SELECT keys..., agg(...) FROM t GROUP BY keys`) stored under
the engine root with the basis clock it reflects.  Keyed aggregates
are the shape where a refresh can re-aggregate only the groups a
change touched.

Refresh algebra::

    changed_ids   = changes(table, since = view.as_of)        -- CDC feed
    affected_keys = keys of the changed ids AT as_of          -- as-of read
                  ∪ keys of the feed's put rows               -- now keys
    new_view      = (old_view  ANTI-JOIN  affected_keys)
                  ∪ groupBy(current_state ⋉ affected_keys)

Why the discovery is exact: a stored group G is stale iff some id
counted under G at ``as_of`` changed, or some changed id now lands in
G.  The first set is the changed ids' rows in the table's state at
``as_of`` — read through ``Snapshot.table`` on a snapshot whose clock
is ``as_of``, so a compact at that clock or before it serves the read
(fresh-compact scan or merge-on-read) like any other.  The second is
the feed's put rows.  Vacuum interactions are guarded by the engine's
persisted per-table rewrite clock: any Erase or vacuum committed
AFTER ``as_of`` forces a full recompute (their rewrites can remove
exactly the versions the as-of read needs); a vacuum at the view's
own clock is provably safe — every version current at ``as_of`` is
either still current or closes after ``as_of``, above any admissible
horizon.

Cost: the changed-id set comes from the manifest-pruned CDC tail.
The as-of read is restricted to the changed ids by a literal IN-list
(pushed into the parquet scan) up to ``_INLIST_CAP`` ids, else by a
broadcast semi join.  The affected-key set is small and, up to
``_INLIST_CAP`` groups, becomes an IN-list pushed into the recompute
scan (row-group stat pruning on the key columns); above that it is
broadcast into the maintenance joins.  The recompute reads the
affected groups' rows of the current state, which is a pass over the
table unless a compact serves it; the view rewrite is small because
views are aggregates.

Two situations refuse incrementality and recompute fully (reported in
the returned stats): app-time-BOUNDED tables (a bounded period can
expire with no new version rows — the same guard merge-on-read uses)
and post-``as_of`` history rewrites (Erase / vacuum).

[upstream analogue: the reference keeps no materialized views; this is
a Spark-native extension in the spirit of its live index — SURVEY §4.]
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import replace
from datetime import datetime
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_AGG_FNS = {
    "count": lambda c: F.count(F.lit(1) if c == "*" else c),
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    "avg": F.avg,
    "count_distinct": F.countDistinct,
    # the scale substitute for count_distinct on massive-cardinality
    # groups: HLL-sketched, and still exact-to-its-own-definition under
    # incremental maintenance because affected groups recompute from
    # scratch (nothing is merged across refreshes)
    "approx_count_distinct": F.approx_count_distinct,
}

_NAME_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")

# Affected-group sets up to this size are collected to the driver and
# applied as IN-list filters (pushed into the parquet scan); bigger
# sets fall back to a broadcast semi join.
_INLIST_CAP = 1024


def _validate(name: str, keys: list[str], aggs: dict[str, tuple[str, str]]):
    if not _NAME_RE.match(name):
        raise ValueError(f"view name {name!r} must be an identifier")
    if not keys:
        raise ValueError("materialized views need at least one group key")
    if not aggs:
        raise ValueError("materialized views need at least one aggregate")
    for alias, (fn, col) in aggs.items():
        if fn not in _AGG_FNS:
            raise ValueError(
                f"unsupported aggregate {fn!r} for {alias!r} "
                f"(supported: {sorted(_AGG_FNS)})"
            )
        if col == "*" and fn != "count":
            raise ValueError(f"'*' only valid with count (got {fn!r})")
        if alias in keys:
            raise ValueError(f"aggregate alias {alias!r} collides with a key")


def _id_and_keys(keys: list[str]) -> list[str]:
    """Projection list (id + group keys) with ``id`` deduplicated — a
    view keyed on the table's own id column (the natural
    current-state-by-key view) must not select the column twice, which
    Spark rejects at parquet write / USING-join time."""
    return ["id", *[k for k in keys if k != "id"]]


def _compute(df: DataFrame, keys: list[str], aggs) -> DataFrame:
    cols = [_AGG_FNS[fn](col).alias(alias) for alias, (fn, col) in aggs.items()]
    return df.groupBy(*keys).agg(*cols)


def _keyjoin(left: DataFrame, right: DataFrame, keys: list[str], how: str):
    """Semi/anti join on group keys with NULL-SAFE equality: groupBy
    treats NULL as a real group, so the maintenance joins must too —
    a plain equi-join would silently never match the NULL group and
    leave its stored row permanently stale."""
    l, r = left.alias("l"), right.alias("r")
    cond = reduce(
        lambda a, b: a & b,
        [F.col(f"l.{k}").eqNullSafe(F.col(f"r.{k}")) for k in keys],
    )
    return l.join(r, cond, how)


def _inlist_condition(key_rows, keys: list[str]):
    """Literal membership filter for the affected-group set.  A single
    key becomes one flat ``In`` (+ isNull when the NULL group is
    affected) — the shape parquet filter pushdown understands.  Multi
    key falls back to a BALANCED tree of per-row conjunctions: a
    left-nested reduce over ~1000 disjuncts overflows Catalyst's
    recursive tree walks, a balanced tree is log-depth."""
    if not key_rows:
        return F.lit(False)
    if len(keys) == 1:
        k = keys[0]
        vals = [r[k] for r in key_rows if r[k] is not None]
        cond = F.col(k).isin(vals) if vals else F.lit(False)
        if len(vals) < len(key_rows):  # the NULL group is affected
            cond = cond | F.col(k).isNull()
        return cond

    def balanced(parts):
        if len(parts) == 1:
            return parts[0]
        mid = len(parts) // 2
        return balanced(parts[:mid]) | balanced(parts[mid:])

    return balanced(
        [
            reduce(
                lambda a, b: a & b,
                [F.col(k).eqNullSafe(F.lit(r[k])) for k in keys],
            )
            for r in key_rows
        ]
    )


def _affected_keys(snap, table, keys, as_of, feed, changed, changed_ids):
    """Distinct group keys whose stored view rows may be stale: every
    key a changed id had AT ``as_of`` (what the view counted) plus
    every key it has NOW.

    The as-of keys are the changed ids' rows of ``Snapshot.table`` at
    a snapshot of the same basis whose clock is ``as_of``, restricted
    by the ``id IN (...)`` literal when ``changed_ids`` is given (it
    pushes into the parquet scan) and by a broadcast semi join of
    ``changed`` otherwise.  Only put rows contribute now-keys: a
    delete tombstone's key columns are NULL, so including them would
    mark the NULL group affected on every delete (spurious refresh
    work); the deleted row's as-of key is already found above."""
    at = snap.engine.db(replace(snap.basis, current_time=as_of))
    rows = at.table(table).select(*_id_and_keys(keys))
    if changed_ids is not None:
        rows = rows.filter(F.col("id").isin(changed_ids))
    else:
        rows = rows.join(F.broadcast(changed), "id", "left_semi")
    now_keys = feed.filter(F.col("_change") == "put").select(*keys)
    return rows.select(*keys).unionByName(now_keys).distinct()


def _base(engine, name: str) -> str:
    return os.path.join(engine.root, "_mviews", name)


def _meta_path(engine, name: str) -> str:
    return os.path.join(_base(engine, name), "meta.json")


def _load_meta(engine, name: str) -> dict:
    path = _meta_path(engine, name)
    if not os.path.exists(path):
        raise ValueError(f"no materialized view {name!r} under {engine.root}")
    with open(path) as f:
        return json.load(f)


def _store(engine, name: str, view: DataFrame, meta: dict) -> None:
    base = _base(engine, name)
    os.makedirs(base, exist_ok=True)
    engine._rewrite_atomic(os.path.join(base, "data"), view)
    tmp = os.path.join(base, "meta.json.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, _meta_path(engine, name))


def create(
    engine,
    name: str,
    table: str,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
) -> DataFrame:
    """Create + fully compute the view at the engine's current clock."""
    _validate(name, list(keys), aggs)
    snap = engine.db()
    view = _compute(snap.table(table), list(keys), aggs)
    clock = engine._last_tx_time or engine._epoch
    _store(
        engine,
        name,
        view,
        {
            "table": table,
            "keys": list(keys),
            "aggs": {a: list(s) for a, s in aggs.items()},
            "as_of": clock.isoformat(),
        },
    )
    return read(engine, name)


def list_views(engine) -> dict[str, dict]:
    """{name: meta} for every materialized view under the root."""
    base = os.path.join(engine.root, "_mviews")
    if not os.path.isdir(base):
        return {}
    out = {}
    for name in sorted(os.listdir(base)):
        path = os.path.join(base, name, "meta.json")
        if os.path.exists(path):
            with open(path) as f:
                out[name] = json.load(f)
    return out


def read(engine, name: str) -> DataFrame:
    _load_meta(engine, name)  # existence check with a clear error
    return engine.spark.read.parquet(os.path.join(_base(engine, name), "data"))


from contextlib import contextmanager


@contextmanager
def _refresh_lock(engine, name: str, timeout_s: float = 60.0,
                  stale_s: float = 300.0):
    """Per-view refresh mutex.  A refresh is a read-modify-write of
    the stored view (kept-anti-join ∪ recompute, then data + meta
    swap): two refreshers interleaving can pair one's meta clock with
    the other's older data — a lost update the final state never
    recovers from — or collide on the fixed ``_tmp_data`` staging
    path.  mkdir is the atomic primitive; a holder dead longer than
    ``stale_s`` is stolen (same discipline as the engine's log lock:
    steal threshold well above the wait deadline is NOT required here
    because every waiter may steal once the holder is provably
    stale)."""
    import time as _time

    lock = os.path.join(_base(engine, name), "_refresh_lock")
    deadline = _time.time() + timeout_s
    while True:
        try:
            os.mkdir(lock)
            break
        except FileNotFoundError:
            # the view directory is gone (dropped): raise the clear
            # error, or retry if a view of this name came back
            _load_meta(engine, name)
            continue
        except FileExistsError:
            try:
                if _time.time() - os.path.getmtime(lock) > stale_s:
                    os.rmdir(lock)  # dead holder; next loop retakes
                    continue
            except OSError:
                continue  # holder released between the two calls
            if _time.time() > deadline:
                from core2_spark.engine import ConcurrentWriterError

                raise ConcurrentWriterError(
                    f"materialized view {name!r}: refresh lock held "
                    f"past {timeout_s}s"
                )
            _time.sleep(0.05)
    try:
        yield
    finally:
        try:
            os.rmdir(lock)
        except OSError:
            pass


def refresh(engine, name: str) -> dict:
    """Bring the view to the engine's current clock.  Returns stats:
    ``{"mode": "noop"|"incremental"|"full", "as_of": iso,
    "refreshed_groups": n}`` (n only for incremental).

    Safe under concurrent refreshers (e.g. several
    ``auto_refresh_views`` writers committing to the viewed table):
    refreshes of one view serialize on a per-view lock, and the meta
    clock is re-read INSIDE the lock so a queued refresher starts
    from the winner's advanced state (usually collapsing to noop)."""
    _load_meta(engine, name)  # existence check with a clear error
    with _refresh_lock(engine, name):
        return _refresh_locked(engine, name)


def drop(engine, name: str) -> None:
    """Delete the view.  The drop takes the refresh lock, so a refresh
    already running finishes first and cannot write the view back
    afterwards; meta goes first, so a refresh queued on the lock finds
    no view and raises instead of refreshing."""
    import shutil

    base = _base(engine, name)
    with _refresh_lock(engine, name):
        _load_meta(engine, name)  # clear error if absent
        os.remove(_meta_path(engine, name))
        for entry in os.listdir(base):
            path = os.path.join(base, entry)
            if entry == "_refresh_lock":
                continue
            if os.path.isdir(path):
                shutil.rmtree(path)
            else:
                os.remove(path)
    try:
        os.rmdir(base)
    except OSError:
        pass  # a refresher queued on the lock re-took it and will raise


def _log_rewrite_marker(engine, table: str) -> str | None:
    """Freshest persisted rewrite marker for ``table`` — one raw read
    of ``_log.json``, no engine-state mutation (usable mid-refresh
    while plans over the current snapshot are still live)."""
    import json as _json

    try:
        with open(os.path.join(engine.root, "_log.json")) as f:
            return _json.load(f).get("rewrites", {}).get(table)
    except (OSError, ValueError):
        return None


def _needs_full(engine, table: str, as_of, meta) -> str | None:
    """Return the rewrite marker forcing a FULL recompute, else None.

    A history rewrite (vacuum / Erase) physically removes closed
    version rows, so any CDC tail that overlaps it is silently
    incomplete.  The marker comparison is ``>=``, not ``>``: a vacuum
    CLAIM stamps the marker with the log head at claim time, so a
    refresh racing the vacuum's physical swap can have advanced the
    view's ``as_of`` to EXACTLY the marker while its feed read the
    post-swap (already-stripped) files — the 3-writer fuzz's seed-1004
    divergence.  With ``>=`` the next refresh that sees the marker
    repairs such a view.  ``handled_rewrite`` records the marker a
    full recompute already covered so the boundary case does not
    re-trigger a full on every subsequent refresh."""
    rewrite = engine._rewrites.get(table)
    if rewrite is None:
        return None
    if rewrite == meta.get("handled_rewrite"):
        return None
    if datetime.fromisoformat(rewrite) >= as_of:
        return rewrite
    return None


def _refresh_locked(engine, name: str) -> dict:
    # Re-sync from the persisted log FIRST: this refresher's in-memory
    # clock and rewrite markers may predate other engines' commits and
    # maintenance claims over the same root, and the destructive-
    # rewrite guard below can only see markers the engine has loaded.
    engine.refresh()
    meta = _load_meta(engine, name)
    table, keys = meta["table"], list(meta["keys"])
    aggs = {a: tuple(s) for a, s in meta["aggs"].items()}
    as_of = datetime.fromisoformat(meta["as_of"])
    head = engine._last_tx_time or engine._epoch
    if head <= as_of and _needs_full(engine, table, as_of, meta) is None:
        return {"mode": "noop", "as_of": meta["as_of"]}
    snap = engine.db()
    meta["as_of"] = max(head, as_of).isoformat()

    rewrite = _needs_full(engine, table, as_of, meta)
    if table in engine._app_bounded or rewrite is not None:
        view = _compute(snap.table(table), keys, aggs)
        if rewrite is not None:
            meta["handled_rewrite"] = rewrite
        _store(engine, name, view, meta)
        return {"mode": "full", "as_of": meta["as_of"]}

    feed = snap.changes(table, since=as_of)
    changed = feed.select("id").distinct()
    changed_rows = changed.limit(_INLIST_CAP + 1).collect()
    changed_ids = (
        [r["id"] for r in changed_rows]
        if len(changed_rows) <= _INLIST_CAP
        else None
    )
    affected = _affected_keys(snap, table, keys, as_of, feed, changed, changed_ids)
    key_rows = affected.limit(_INLIST_CAP + 1).collect()
    if len(key_rows) > _INLIST_CAP:
        affected = affected.localCheckpoint(eager=True)
    cur, old = snap.table(table), read(engine, name)
    if len(key_rows) <= _INLIST_CAP:
        # common case: the affected set fits an IN-list, so BOTH
        # maintenance predicates become literal filters — the
        # recompute side pushes into the parquet scan (row-group stat
        # pruning on the keys) and neither side joins at all.  The
        # kept side must coalesce: `isin` is NULL (not false) for a
        # NULL-group row when NULL is unaffected, and negating NULL
        # would silently drop that stored row.
        cond = _inlist_condition(key_rows, keys)
        recomputed = _compute(cur.filter(cond), keys, aggs)
        kept = old.filter(~F.coalesce(cond, F.lit(False)))
        n_groups = len(key_rows)
    else:
        # big delta: keep the set distributed (checkpointed above);
        # the explicit broadcast (not AQE's estimate) keeps both
        # joins shuffle-free
        recomputed = _compute(
            _keyjoin(cur, F.broadcast(affected), keys, "left_semi"), keys, aggs
        )
        kept = _keyjoin(old, F.broadcast(affected), keys, "left_anti")
        n_groups = affected.count()
    # Destructive-rewrite re-validation: a vacuum may have CLAIMED and
    # swapped while this refresh computed (its marker persists before
    # the swap, but after our engine re-sync above) — in which case
    # the feed we just consumed may already be missing closed version
    # rows.  One raw log read decides; on a hit, recompute wholesale
    # from the current snapshot instead of storing a tail-derived
    # view.  A claim landing after this read is repaired by the NEXT
    # refresh via the >= marker guard in _needs_full.
    late = _log_rewrite_marker(engine, table)
    if late is not None and late != engine._rewrites.get(table) and (
        datetime.fromisoformat(late) >= as_of
    ):
        # Recompute at the FRESH head, not this refresh's: the marker
        # proves the log advanced past our re-sync, so our snapshot's
        # clock may predate the vacuum and a recompute against it can
        # miss rows that were live at our head but closed before the
        # horizon.  Re-syncing makes head >= marker (both come from
        # the same log), so stamping handled_rewrite here is sound —
        # the soak caught the stale-head variant storing
        # {as_of < marker, handled = marker}, which exempted the next
        # refresh from the repair and tripped the changes() guard.
        engine.refresh()
        head = engine._last_tx_time or engine._epoch
        meta["as_of"] = max(head, as_of).isoformat()
        snap = engine.db()
        view = _compute(snap.table(table), keys, aggs)
        meta["handled_rewrite"] = engine._rewrites.get(table)
        _store(engine, name, view, meta)
        return {"mode": "full", "as_of": meta["as_of"]}
    _store(engine, name, kept.unionByName(recomputed), meta)
    return {
        "mode": "incremental",
        "as_of": meta["as_of"],
        "refreshed_groups": n_groups,
    }

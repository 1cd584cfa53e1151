"""Bitemporal layer: core2's distinctive capability on Spark.

Reference semantics (README.adoc:11 — "system time... as well as
application time versioning of all data"): every row version lives on
two timelines,

- system time  [system_time_start, system_time_end)  — when the
  database learned the fact (assigned at transaction time, immutable),
- application time [app_time_start, app_time_end)    — when the fact
  is true in the domain (user-supplied, defaults to [tx-time, ∞)).

core2 resolves visibility with a temporal kd-tree index [upstream:
core2 `temporal.clj`, `temporal/kd_tree.clj`]; queries run at a *basis*
(S, T) and see versions where start <= t < end on both axes.  The
Spark-native design needs no index: versions are ordinary columns on an
append-only table, visibility is a pushed-down Parquet filter, and
"latest version per id" is a key-partitioned window dedup.  At 100 TB,
partition/Z-order the version table by a time column so as-of filters
prune files; the window dedup shuffles by `id` only once.

DML [upstream: core2 `indexer.clj`, `sql/plan.clj` DML section]:
- put    → append new version rows (never rewrite),
- delete → append a tombstone closing the app-time period,
- erase  → the only destructive op: anti-join rewrite removing an id.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Open-ended sentinel, same convention as SQL:2011 "until changed".
END_OF_TIME = "9999-12-31 00:00:00"

SYS_START = "system_time_start"
SYS_END = "system_time_end"
APP_START = "app_time_start"
APP_END = "app_time_end"
TEMPORAL_COLS = (SYS_START, SYS_END, APP_START, APP_END)

# Monotonic position of an op WITHIN one transaction.  All ops in a
# submit_tx share one tx_time, so system_time_start alone cannot order
# two Puts (or a Put and a Delete) touching the same id in the same
# transaction; the reference's row-id rule is "later write wins".
# Writers stamp it (Engine.submit_tx); readers use it as the default
# tiebreaker wherever versions are ordered.
TX_SEQ = "_tx_seq"
# Row-level write sequence WITHIN one op: duplicate ids inside a single
# Put tie on (system_time_start, _tx_seq), and an un-tiebroken
# row_number would pick a DIFFERENT winner on different evaluations of
# the same basis — violating repeatable reads.  The winner among
# within-op duplicates is inherently arbitrary (DataFrames are
# unordered), but stamping monotonically_increasing_id AT WRITE TIME
# freezes the choice in the parquet file: every read of every basis
# agrees forever.  Legacy rows without the column sort before stamped
# rows of the same transaction (asc_nulls_first / desc_nulls_last).
ROW_SEQ = "_row_seq"

# Partition column for engine version tables: the calendar day of
# system_time_start.  Writers partition appends by it so as-of reads
# prune whole files (see `sys_day_predicate`); it is a physical-layout
# detail readers drop from query outputs.
SYS_DAY = "_sys_day"


def sys_day_predicate(versions: DataFrame, s: Column) -> Column:
    """Redundant partition-pruning predicate for `SYS_START <= s`:
    Spark cannot derive `_sys_day <= date(s)` from the row-level
    timestamp bound on its own, so visibility filters add it
    explicitly when the layout column exists — the filter lands in
    PartitionFilters and the scan skips every file of later days."""
    if SYS_DAY not in versions.columns:
        return F.lit(True)
    return F.col(SYS_DAY) <= F.to_date(s)


def _ts(value: str | datetime | Column) -> Column:
    if isinstance(value, Column):
        return value
    return F.lit(value).cast("timestamp")


def put(
    df: DataFrame,
    tx_time: str | datetime,
    app_start: str | datetime | Column | None = None,
    app_end: str | datetime | Column | None = None,
) -> DataFrame:
    """Stamp incoming rows as new versions (core2 `:put`).

    ``system_time_start`` is the transaction time; app-time defaults to
    [tx_time, ∞) as in the reference.  Appending the result to the
    version table is the caller's write (`df.write.mode("append")`).
    """
    return (
        df.withColumn(SYS_START, _ts(tx_time))
        .withColumn(SYS_END, _ts(END_OF_TIME))
        .withColumn(APP_START, _ts(app_start if app_start is not None else tx_time))
        .withColumn(APP_END, _ts(app_end if app_end is not None else END_OF_TIME))
    )


def close_system_versions(versions: DataFrame, id_col: str = "id") -> DataFrame:
    """Derive ``system_time_end`` from the succeeding version per id.

    Append-only writers don't rewrite the previous version's end; reads
    reconstruct it: each version's system period ends where the next
    version (by system_time_start) begins — a lead() window per id.
    This is the read-side equivalent of core2's indexer updating its
    temporal index on ingest.
    """
    order = [F.col(SYS_START).asc()]
    if TX_SEQ in versions.columns:
        order.append(F.col(TX_SEQ).asc())  # same-tx versions: write order
    if ROW_SEQ in versions.columns:
        order.append(F.col(ROW_SEQ).asc())  # within-op duplicates: stable
    w = Window.partitionBy(id_col).orderBy(*order)
    return versions.withColumn(
        SYS_END, F.coalesce(F.lead(SYS_START).over(w), _ts(END_OF_TIME))
    )


def as_of_predicate(
    system_time: str | datetime | Column | None = None,
    app_time: str | datetime | Column | None = None,
) -> Column:
    """Visibility predicate at a basis (S, T): start <= t < end on each
    requested axis — plain column algebra, pushes down to the scan."""
    pred = F.lit(True)
    if system_time is not None:
        s = _ts(system_time)
        pred = pred & (F.col(SYS_START) <= s) & (s < F.col(SYS_END))
    if app_time is not None:
        t = _ts(app_time)
        pred = pred & (F.col(APP_START) <= t) & (t < F.col(APP_END))
    return pred


def scan_as_of(
    versions: DataFrame,
    system_time: str | datetime | None = None,
    app_time: str | datetime | None = None,
) -> DataFrame:
    """core2 default scan: visible versions at the basis (SQL
    ``FOR SYSTEM_TIME AS OF s`` / ``FOR APPLICATION_TIME AS OF t``)."""
    return versions.filter(as_of_predicate(system_time, app_time))


def scan_between(
    versions: DataFrame,
    axis_start_col: str,
    axis_end_col: str,
    lo: str | datetime,
    hi: str | datetime,
) -> DataFrame:
    """SQL:2011 ``FOR ... FROM lo TO hi``: versions whose period
    overlaps [lo, hi)."""
    return versions.filter(
        (F.col(axis_start_col) < _ts(hi)) & (F.col(axis_end_col) > _ts(lo))
    )


def latest_versions(
    versions: DataFrame,
    id_col: str = "id",
    tiebreak_cols: tuple[str, ...] | None = None,
) -> DataFrame:
    """Newest system-time version per id (the "current state" view) via
    key-partitioned row_number — one shuffle on id, no index needed.

    ``tiebreak_cols`` break equal system_time_start deterministically
    (core2 uses the monotonic row-id: the later write wins).  Default
    (None): the engine's intra-transaction sequence column ``_tx_seq``
    when present, else no tiebreak."""
    if tiebreak_cols is None:
        tiebreak_cols = tuple(
            c for c in (TX_SEQ, ROW_SEQ) if c in versions.columns
        )
    order = [F.col(SYS_START).desc()] + [F.col(c).desc() for c in tiebreak_cols]
    w = Window.partitionBy(id_col).orderBy(*order)
    return (
        versions.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


TOMBSTONE = "_tombstone"


def resolve_as_of(
    versions: DataFrame,
    system_time: str | datetime | Column,
    app_time: str | datetime | Column,
    id_col: str = "id",
    tiebreak_cols: tuple[str, ...] | None = None,
) -> DataFrame:
    """Rectangle-correct bitemporal point query (core2's 2-D model):
    among versions KNOWN at S (system_time_start <= S) whose app period
    COVERS T, the latest system version per id wins; tombstones hide
    the id.

    Unlike the lead()-closure view (`close_system_versions` +
    `scan_as_of`, which treats every newer version as fully superseding
    the older one), this resolution honors PARTIAL app-time
    corrections: a February transaction asserting a fact only for
    January leaves the original version visible for March queries.
    No system_time_end column is needed at all — supersession is
    implied by "latest covering version wins".
    """
    s, t = _ts(system_time), _ts(app_time)
    known = versions.filter(
        (F.col(SYS_START) <= s)
        & (F.col(APP_START) <= t)
        & (t < F.col(APP_END))
        & sys_day_predicate(versions, s)
    )
    latest = latest_versions(known, id_col, tiebreak_cols)
    if TOMBSTONE in versions.columns:
        latest = latest.filter(~F.coalesce(F.col(TOMBSTONE), F.lit(False)))
    return latest


def delete_tombstone(
    ids: DataFrame,
    id_col: str,
    tx_time: str | datetime,
    app_start: str | datetime | None = None,
    app_end: str | datetime | None = None,
) -> DataFrame:
    """Tombstone rows for `resolve_as_of` semantics: a version covering
    app [app_start, app_end) (default [tx, ∞)) flagged deleted —
    queries at a covered T resolve to it and hide the id; queries
    OUTSIDE the portion (and all history before tx) still see the
    older versions.  Bounded app periods are SQL:2011's
    DELETE ... FOR PORTION OF APPLICATION_TIME."""
    return (
        ids.select(id_col)
        .withColumn(SYS_START, _ts(tx_time))
        .withColumn(SYS_END, _ts(END_OF_TIME))
        .withColumn(APP_START, _ts(app_start if app_start is not None else tx_time))
        .withColumn(APP_END, _ts(app_end if app_end is not None else END_OF_TIME))
        .withColumn(TOMBSTONE, F.lit(True))
    )


def without_tombstones(versions: DataFrame) -> DataFrame:
    """Row versions only — delete markers removed.  Apply AFTER
    ``close_system_versions`` has let the markers close their
    predecessors' system periods: SQL:2011 FOR SYSTEM_TIME queries
    return row versions, never the delete marker itself (a marker row
    would surface the deleted id with NULL data columns)."""
    if TOMBSTONE in versions.columns:
        return versions.filter(~F.coalesce(F.col(TOMBSTONE), F.lit(False)))
    return versions


def erase(versions: DataFrame, ids: DataFrame, id_col: str) -> DataFrame:
    """core2 `:erase` — the only destructive op: physically remove every
    version of the given ids (anti-join rewrite of the table)."""
    return versions.join(F.broadcast(ids), id_col, "left_anti")

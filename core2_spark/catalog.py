"""Table catalog: load fixture tables / register them as temp views.

core2 is schemaless-at-write with per-chunk Arrow schemas inferred at
read (reference README.adoc:12); tables are named bags of documents.
Spark analogue: one Parquet dataset per table; ``mergeSchema`` on read
unions per-file schemas (the dynamic-schema normalization pass in
``dynamics.py`` handles type widening / variant encoding when legs
conflict).

At 100 TB each table is a partitioned Parquet/Delta directory, not a
single file — ``load_tables`` takes any path Spark's Parquet reader
accepts, so directories-of-files work unchanged.  Filters and column
pruning push down to the Parquet scan (check via
``df.explain`` → PushedFilters / ReadSchema).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any scale factor we target.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Per-application cache of the inferred table SCHEMAS (r11, guide
# §7.3 "planning time" + §6 "file listing").  `spark.read.parquet`
# costs 150-400 ms *warm* per call, most of it parquet footer schema
# inference, and every query build pays it once per table it touches —
# at bench scale that planning overhead rivals the query's own
# execution.  The first load infers and memoizes the schema; later
# loads pass it to `spark.read.schema(...)`, which skips inference
# (measured: 0.35 s -> 0.12 s per lineitem relation, warm).
#
# Deliberately a SCHEMA cache, not a DataFrame cache: the first r11
# form memoized the returned DataFrame object, and sharing one
# LogicalRelation instance across the bench's 10 concurrent query
# threads serialized their analysis/optimization on the instance's
# JVM-side lazy-val locks — every concurrent per-query time inflated
# ~2x and the headline wall went 2.3 s -> 4.2 s with NO sequential
# regression (A/B'd both ways in-session; cache-off restored 2.4 s).
# A schema is an immutable value: each build constructs its own
# relation, so concurrent plans share nothing.  No data and no results
# are cached — every action still scans the parquet inputs.  Keyed by
# applicationId so a restarted session re-infers; FIFO-capped so a
# long-lived test session over hundreds of tmp fixture dirs does not
# pin entries forever.  Fixture tables are immutable by contract
# (nothing in the repo writes into a table_path), so a cached schema
# cannot go stale.
_SCHEMA_CACHE: dict[tuple[str, str, str, bool], "StructType"] = {}
_SCHEMA_CACHE_MAX = 512


def _relation_cache_key(
    spark: SparkSession, sf_dir: str, name: str, merge_schema: bool
) -> tuple[str, str, str, bool] | None:
    try:
        app = spark.sparkContext.applicationId
    except Exception:
        return None  # stopped or Connect-style session: bypass
    return (app, os.path.normpath(sf_dir), name, merge_schema)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, merge_schema: bool = False
) -> DataFrame:
    rkey = _relation_cache_key(spark, sf_dir, name, merge_schema)
    cached_schema = _SCHEMA_CACHE.get(rkey) if rkey is not None else None
    if name == "events":
        # events: the cached entry is the RAW on-disk schema (pre
        # ts-normalization) — the hit path re-runs the same
        # normalization branch on it.
        df, schema = _load_events(spark, sf_dir, raw_schema=cached_schema)
    elif cached_schema is not None:
        # Schema supplied -> no footer inference; per-file
        # reconciliation against an explicit schema is exactly what
        # mergeSchema's merged result produces, so the hit path is
        # value-identical for both flags.
        df = spark.read.schema(cached_schema).parquet(table_path(sf_dir, name))
    else:
        reader = spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        df = reader.parquet(table_path(sf_dir, name))
        schema = df.schema
    if rkey is not None and cached_schema is None:
        while len(_SCHEMA_CACHE) >= _SCHEMA_CACHE_MAX:
            _SCHEMA_CACHE.pop(next(iter(_SCHEMA_CACHE)))
        _SCHEMA_CACHE[rkey] = schema
    return df


def _load_events(
    spark: SparkSession, sf_dir: str, raw_schema=None
) -> tuple[DataFrame, "StructType"]:
    """Load events, tolerating either physical encoding of ``ts``.
    Returns ``(normalized_df, raw_read_schema)``; passing a previously
    returned ``raw_schema`` back in skips footer inference (the
    ``nanosAsLong`` conf is still set, so an int64-ns fixture reads
    identically on the hit path).

    Fixture generations differ: some write ``ts`` as Parquet
    TIMESTAMP(NANOS) — which Spark's reader rejects outright unless the
    legacy conf maps it to raw int64 nanos — others as ordinary
    TIMESTAMP(MICROS).  Setting ``nanosAsLong`` is a no-op for µs
    files, so always set it, read, and convert only when ``ts``
    actually arrived as int64.

    The ns→µs division MUST be integral (`DIV`): epoch-nanos ≈ 1.7e18
    exceeds double's 53-bit mantissa, so `/ 1000` in double arithmetic
    perturbs the low microseconds and individual timestamps drift ±1µs
    from the oracle's (DuckDB truncates the same way on its ns→µs
    cast)."""
    ensure_nanos_conf(spark)
    reader = spark.read if raw_schema is None else spark.read.schema(raw_schema)
    df = reader.parquet(table_path(sf_dir, "events"))
    raw = df.schema
    return normalize_event_ts(df, raw["ts"].dataType), raw


_NANOS_CONF_SESSIONS: "weakref.WeakSet" = None  # type: ignore[assignment]


def ensure_nanos_conf(spark: SparkSession) -> None:
    """Set ``nanosAsLong`` once per session.  The value is constant so
    repeated sets were harmless, but mutating session-global conf on
    every table load is a race-shaped pattern under the concurrent
    bench — guard it to exactly one RPC per session."""
    global _NANOS_CONF_SESSIONS
    import weakref

    if _NANOS_CONF_SESSIONS is None:
        _NANOS_CONF_SESSIONS = weakref.WeakSet()
    if spark not in _NANOS_CONF_SESSIONS:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        _NANOS_CONF_SESSIONS.add(spark)


def normalize_event_ts(df: DataFrame, ts_type) -> DataFrame:
    """Normalize the ``ts`` column to TimestampType whatever the
    fixture generation wrote — shared by the batch loader above and
    the streaming source (streaming/events.py) so the two paths can't
    drift.  An UNEXPECTED encoding fails fast here at load time
    instead of flowing silently into every downstream events query
    (or surfacing as an opaque watermark analysis error)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

    if isinstance(ts_type, LongType):
        # ns fixture read via nanosAsLong: integral DIV, not `/ 1000`
        # — epoch-nanos exceed double's 53-bit mantissa (see module
        # docstring), so float division perturbs the microseconds.
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    if isinstance(ts_type, TimestampNTZType):
        # µs-NTZ fixture: watermarks/windows need an instant
        # (TimestampType).  The session pins UTC (session.py), so the
        # cast is value-preserving and matches DuckDB's naive read.
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    if isinstance(ts_type, TimestampType):
        return df
    raise TypeError(
        f"events.ts arrived as {ts_type}; expected int64 (legacy ns), "
        "timestamp_ntz (µs), or timestamp — a fixture regression would "
        "otherwise corrupt every events query undetected"
    )


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load every fixture table under ``sf_dir`` → {name: DataFrame}."""
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Register each table as a temp view so ``spark.sql`` can use it."""
    dfs = load_tables(spark, sf_dir, names)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs

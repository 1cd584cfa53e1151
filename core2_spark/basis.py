"""Basis / repeatable reads (SURVEY.md §3.3, §1.1 transaction log).

core2 queries run at a *basis*: a pinned log position + clock, so the
same query re-run later returns identical results (reference
README.adoc:13 — deterministic transactions/indexing).  Without Delta
in this environment, the engine pins a basis as a **file manifest**:
the exact set of parquet files visible at basis-acquisition time plus
an explicit ``current_time``.  Readers load via the manifest, so files
appended afterwards are invisible — repeatable reads over an
append-only table directory.

A basis also pins each table's schema, and that schema has one source:
the types the engine records in its log (``Engine._table_schemas``).
A basis covers exactly the tables that have one, and every read passes
it explicitly, so no read infers types from parquet footers; absent
fields read as NULL.

At 100 TB this is exactly the Delta/Iceberg snapshot model (their
manifests do the same thing with statistics attached); ``Basis`` keeps
the engine's semantics identical so swapping the storage layer in is a
config change, not a redesign.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


@dataclass(frozen=True)
class Basis:
    """A pinned snapshot: {table → exact file list} + query clock."""

    current_time: datetime
    manifests: dict[str, tuple[str, ...]] = field(default_factory=dict)
    # table → directory root; needed to resolve Hive-style partition
    # values (e.g. `_sys_day=2024-06-01/`) when reading explicit leaf
    # files from a partitioned version table.
    roots: dict[str, str] = field(default_factory=dict)
    # table → recorded schema (StructType json string): reads pass it
    # explicitly, so plan time reads no parquet footer
    schemas: dict[str, str] = field(default_factory=dict)

    def read(
        self,
        spark: SparkSession,
        table: str,
        day_lo=None,
        day_hi=None,
    ) -> DataFrame:
        """Read the pinned file set, optionally MANIFEST-PRUNED by the
        ``_sys_day`` partition component of each path: files whose day
        falls outside ``[day_lo, day_hi]`` are dropped on the driver
        before Spark ever builds its file index.  PartitionFilters
        prune *row groups scanned*, but the file listing and footer
        reads are still O(total files) — at deep history that planning
        cost grows linearly even for a one-day read.  Manifest pruning
        (exactly what a Delta/Iceberg snapshot does with its manifest
        statistics) makes an as-of or changes-tail read O(files in
        range).  Flat legacy files carry no day in their path and are
        always kept — the row-level temporal predicates remain the
        source of truth."""
        files = self.manifests[table]
        if day_lo is not None or day_hi is not None:
            pruned = tuple(
                f
                for f in files
                if _file_day_in_range(f, day_lo, day_hi)
            )
            # never prune to zero: keep one file so an empty result via
            # the row-level predicates still resolves
            files = pruned if pruned else files[:1]
        # Version files may differ (e.g. tombstone rows carry no data
        # columns): the recorded schema reads them all, absent fields
        # NULL.
        from pyspark.sql import functions as F

        from core2_spark.temporal import SYS_DAY, SYS_START

        schema = T.StructType.fromJson(json.loads(self.schemas[table]))
        part = tuple(f for f in files if f"{os.sep}{SYS_DAY}=" in f)
        if not part:
            return spark.read.schema(schema).parquet(*files)
        flat = tuple(f for f in files if f"{os.sep}{SYS_DAY}=" not in f)
        # basePath recovers the partition column from each leaf file's
        # directory name — but it silently DROPS any leaf that is not
        # under a partition directory, so a mixed-depth manifest (a
        # legacy flat-file root that later gained day-partitioned
        # appends) must be read as two scans and unioned, with the
        # flat files' `_sys_day` derived from their system-time column
        # (flat files predate the layout, so date(SYS_START) is exactly
        # what the partitioned writer would have stamped).
        df = spark.read.schema(schema).option("basePath", self.roots[table]).parquet(*part)
        if flat:
            legacy = spark.read.schema(schema).parquet(*flat).withColumn(
                SYS_DAY, F.to_date(F.col(SYS_START))
            )
            df = df.unionByName(legacy, allowMissingColumns=True)
        return df


class InvalidBasisToken(ValueError):
    """A basis token names a table, a file or a schema the engine does
    not record."""

    def getSqlState(self) -> str:  # noqa: N802 — the pyspark spelling
        return "22023"  # invalid parameter value


def basis_to_json(basis: Basis) -> str:
    """Serialize a basis to a portable token.  core2 passes a basis
    across request boundaries so a client can re-run any query against
    the exact snapshot later (README.adoc:13 — deterministic
    queries at a log position); the JSON token is this engine's
    equivalent: clock + pinned manifests + roots + schemas."""
    return json.dumps(
        {
            "current_time": basis.current_time.isoformat(),
            "manifests": {t: list(fs) for t, fs in basis.manifests.items()},
            "roots": dict(basis.roots),
            "schemas": dict(basis.schemas),
        }
    )


def basis_from_json(
    token: str, roots: dict[str, str], schemas: dict[str, str]
) -> Basis:
    """Rehydrate a basis token (see ``basis_to_json``) against the
    engine's own table ``roots`` and recorded ``schemas``.  A token is
    client input: it is refused (``InvalidBasisToken``) when it names a
    table the engine does not record, a file outside that table's
    directory, or a schema not contained in the recorded one (a table
    only widens, so an older token's schema always is).  The roots are
    always the engine's.  Reads at the rehydrated basis answer
    identically as long as the pinned files still exist (Erase/optimize
    rewrites invalidate old manifests, as ever)."""
    try:
        d = json.loads(token)
        current_time = datetime.fromisoformat(d["current_time"])
        manifests = {t: tuple(map(str, fs)) for t, fs in d["manifests"].items()}
        given = {t: d.get("schemas", {}).get(t, schemas.get(t)) for t in manifests}
        for t, fs in manifests.items():
            if t not in roots or t not in schemas:
                raise InvalidBasisToken(f"unknown table {t!r}")
            home = os.path.realpath(roots[t]) + os.sep
            if any(not os.path.realpath(f).startswith(home) for f in fs):
                raise InvalidBasisToken(f"a file of {t!r} lies outside its table")
            recorded, pinned = (
                T.StructType.fromJson(json.loads(s)) for s in (schemas[t], given[t])
            )
            if not _within(pinned, recorded):
                raise InvalidBasisToken(f"schema of {t!r} is not the table's")
    except InvalidBasisToken:
        raise
    except (ValueError, KeyError, TypeError, AttributeError) as exc:
        # malformed JSON, keys, clock or schema
        raise InvalidBasisToken(f"malformed basis token: {exc}") from exc
    return Basis(
        current_time=current_time,
        manifests=manifests,
        roots={t: roots[t] for t in manifests},
        schemas=given,
    )


def _within(small: T.DataType, big: T.DataType) -> bool:
    """``small`` is ``big`` with struct fields left out, at any depth."""
    if isinstance(small, T.StructType) and isinstance(big, T.StructType):
        have = {f.name: f.dataType for f in big.fields}
        return all(
            f.name in have and _within(f.dataType, have[f.name]) for f in small.fields
        )
    if isinstance(small, T.ArrayType) and isinstance(big, T.ArrayType):
        return _within(small.elementType, big.elementType)
    return small == big


def _file_day_in_range(path: str, day_lo, day_hi) -> bool:
    """True if the file's ``_sys_day=`` path component (if any) falls
    in the closed [day_lo, day_hi] range; files without the component
    (flat legacy layout) are never pruned."""
    from core2_spark.temporal import SYS_DAY

    marker = f"{os.sep}{SYS_DAY}="
    i = path.find(marker)
    if i < 0:
        return True
    raw = path[i + len(marker) :].split(os.sep, 1)[0]
    try:
        from datetime import date

        day = date.fromisoformat(raw)
    except ValueError:
        return True  # unparseable partition value: keep, rows decide
    if day_lo is not None and day < day_lo:
        return False
    if day_hi is not None and day > day_hi:
        return False
    return True


def _list_parquet_files(path: str) -> tuple[str, ...]:
    if os.path.isfile(path):
        return (path,)
    out = []
    for root, _dirs, names in os.walk(path):
        for n in sorted(names):
            if n.endswith(".parquet"):
                out.append(os.path.join(root, n))
    return tuple(sorted(out))


def acquire_basis(
    table_paths: dict[str, str],
    current_time: datetime | str,
    schemas: dict[str, str],
) -> Basis:
    """Snapshot the current file sets of the given tables that have a
    schema in ``schemas`` (table → StructType json: the engine's
    recorded types, which the basis reads with).

    ``current_time`` is the query clock: queries must use it instead of
    the wall clock (core2's determinism rule — LOCALTIMESTAMP is
    basis-pinned, never `now()`).
    """
    if isinstance(current_time, str):
        current_time = datetime.fromisoformat(current_time)
    roots = {t: p for t, p in table_paths.items() if t in schemas}
    return Basis(
        current_time=current_time,
        manifests={t: _list_parquet_files(p) for t, p in roots.items()},
        roots=roots,
        schemas={t: schemas[t] for t in roots},
    )

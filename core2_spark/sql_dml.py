"""SQL DML → transaction ops (SURVEY.md §2.1 DML sinks, §3.3).

core2 executes SQL DML deterministically at index time: INSERT appends
version rows, UPDATE closes the old version's application period and
appends the new one, DELETE closes it, ERASE physically removes
[upstream: core2 `sql/plan.clj` DML section, `core2/indexer.clj`].

This frontend keeps the same split the engine already has: statements
are parsed here (a small regex skeleton over the research dialect —
the statement *shapes*, not a full SQL grammar), while every value,
predicate, and SET expression is delegated verbatim to Spark SQL
through ``Snapshot.sql`` on the pre-transaction snapshot.  The
statements lower inside `Engine.submit_tx` (``dml_to_ops`` runs as a
Call op) to `engine` ops, so SQL DML and programmatic ops share one
log, one clock, one pre-transaction snapshot and one visibility rule.
DML looks up no column types: the commit casts each written value to
the type its column records (`engine._conform`), as it does for every
writer.

Supported statements::

    INSERT INTO t (c1, c2, ...) VALUES (...), (...)
    INSERT INTO t RECORDS {c1: v1, c2: v2}, {...}  -- XTDB v2 spelling
    INSERT INTO t SELECT ...                      -- over snapshot views
    PATCH INTO t RECORDS {id: 1, c1: v1}, {...}   -- merge partial docs
    UPDATE t [FOR PORTION OF APPLICATION_TIME FROM 'a' TO 'b']
        SET c = expr, ... [WHERE pred]       -- VALID_TIME = synonym
    DELETE FROM t [FOR PORTION OF APPLICATION_TIME FROM 'a' TO 'b']
        [WHERE pred]
    ERASE FROM t [WHERE pred]
    ASSERT <boolean expr> [, 'message']  -- abort tx when false/NULL
    MERGE INTO t [AS] a USING (src_table | (SELECT ...)) [AS] s
        ON a.id = s.id
        [WHEN MATCHED [AND cond] THEN UPDATE SET c = expr, ...]
        [WHEN MATCHED [AND cond] THEN DELETE]
        [WHEN NOT MATCHED [AND cond] THEN INSERT (c1, ...) VALUES (e1, ...)]

Maintenance statements (NOT log ops — they execute immediately, like
their Engine-method counterparts)::

    CREATE MATERIALIZED VIEW v AS
        SELECT k1, k2, COUNT(*) AS n, SUM(c) AS s FROM t GROUP BY k1, k2
    REFRESH MATERIALIZED VIEW v
    DROP MATERIALIZED VIEW v
    VACUUM t OLDER THAN TIMESTAMP '2024-03-01'
    OPTIMIZE t [ZORDER BY (c1, c2)]

The CREATE shape is exactly the incrementally-maintainable form
mviews.py supports: bare key columns (repeated in GROUP BY) plus
COUNT(*)/COUNT(DISTINCT c)/SUM/MIN/MAX/AVG aggregates, one table, no
WHERE — a deliberate subset, rejected loudly otherwise.

UPDATE appends new versions of the matched current rows (the old
versions stay visible to historical queries — core2's semantics);
DELETE appends tombstones; ERASE rewrites the table without the ids
(the only destructive op, as upstream).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from core2_spark.sql_dialect import blank, split_commas, string_at, tokens

# Statement shapes.  Each is matched on the statement with its comments
# and literal bodies blanked (sql_dialect.blank, see _match), so a group
# ends at a non-blank: a lazy group is `.*?\S`, a trailing one `.*\S`
# (also what keeps a long blanked literal from backtracking
# quadratically).
_ASSERT_STMT = re.compile(
    r"^\s*ASSERT\s+(?P<body>.*\S)\s*$", re.IGNORECASE | re.DOTALL
)
_RECORDS_STMT = re.compile(
    r"^\s*(?P<verb>INSERT|PATCH)\s+INTO\s+(?P<table>\w+)"
    # valid-time-bounded patch: both the reference's FOR VALID_TIME
    # spelling and our SQL:2011 FOR PORTION OF spelling
    r"(?:\s+FOR\s+(?:PORTION\s+OF\s+)?(?:APPLICATION_TIME|VALID_TIME)"
    r"\s+FROM\s+'(?P<app_from>[^']+)'\s+TO\s+'(?P<app_to>[^']+)')?"
    r"\s+RECORDS\s+(?P<records>\{.*\S)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_INSERT_VALUES = re.compile(
    r"^\s*INSERT\s+INTO\s+(?P<table>\w+)\s*\((?P<cols>[^)]*)\)\s*"
    r"VALUES\s*(?P<values>.*\S)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_INSERT_SELECT = re.compile(
    r"^\s*INSERT\s+INTO\s+(?P<table>\w+)\s+(?P<select>SELECT\b.*\S)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_UPDATE = re.compile(
    r"^\s*UPDATE\s+(?P<table>\w+)"
    r"(?:\s+FOR\s+PORTION\s+OF\s+(?:APPLICATION_TIME|VALID_TIME)\s+FROM\s+"
    r"'(?P<app_from>[^']+)'\s+TO\s+'(?P<app_to>[^']+)')?"
    r"\s+SET\s+(?P<sets>.*?\S)(?:\s+WHERE\s+(?P<where>.*\S))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DELETE = re.compile(
    r"^\s*(?P<verb>DELETE|ERASE)\s+FROM\s+(?P<table>\w+)"
    r"(?:\s+FOR\s+PORTION\s+OF\s+(?:APPLICATION_TIME|VALID_TIME)\s+FROM\s+"
    r"'(?P<app_from>[^']+)'\s+TO\s+'(?P<app_to>[^']+)')?"
    r"(?:\s+WHERE\s+(?P<where>.*\S))?\s*$",
    re.IGNORECASE | re.DOTALL,
)


# -- RECORDS literals (XTDB v2 `INSERT INTO t RECORDS {...}` /
# `PATCH INTO t RECORDS {...}` document spelling) ----------------------


def parse_records(text: str) -> list[dict]:
    """Parse a comma-separated list of ``{key: value, ...}`` record
    literals into Python dicts.  Values: numbers, ``'strings'``
    (decoded as Spark decodes them), TRUE/FALSE/NULL, DATE/TIMESTAMP 'iso',
    ``[...]`` arrays, and ``{...}`` nested records (stored as struct
    columns — SURVEY §1.2 dynamic/nested types; PATCH replaces a
    nested value wholesale, top-level shallow merge as upstream)."""
    import datetime as _dt

    i, n = 0, len(text)

    def err(msg: str) -> ValueError:
        return ValueError(f"RECORDS literal: {msg} at offset {i}: "
                          f"...{text[max(0, i - 20):i + 20]!r}...")

    def skip_ws() -> None:
        nonlocal i
        while i < n and text[i].isspace():
            i += 1

    def parse_string() -> str:
        nonlocal i
        lit = string_at(text, i)  # decoded as Spark decodes it
        if lit is None:
            raise err("unterminated string")
        value, i = lit
        return value

    def parse_value():
        nonlocal i
        skip_ws()
        if i >= n:
            raise err("expected a value")
        ch = text[i]
        if ch == "'":
            return parse_string()
        if ch == "[":
            i += 1
            arr = []
            skip_ws()
            if i < n and text[i] == "]":
                i += 1
                return arr
            while True:
                arr.append(parse_value())
                skip_ws()
                if i < n and text[i] == ",":
                    i += 1
                    continue
                if i < n and text[i] == "]":
                    i += 1
                    return arr
                raise err("expected ',' or ']' in array")
        if ch == "{":
            # nested document value → struct-typed column (the
            # reference's nested records); PATCH replaces the whole
            # nested value (top-level shallow merge, as upstream)
            i += 1
            obj: dict = {}
            skip_ws()
            if i < n and text[i] == "}":
                i += 1
                return obj
            while True:
                skip_ws()
                km = re.match(r"\w+", text[i:])
                if not km:
                    raise err("expected a key in nested record")
                k = km.group(0)
                i += km.end()
                skip_ws()
                if i >= n or text[i] != ":":
                    raise err("expected ':' in nested record")
                i += 1
                if k in obj:
                    raise err(f"duplicate key {k!r} in nested record")
                obj[k] = parse_value()
                skip_ws()
                if i < n and text[i] == ",":
                    i += 1
                    continue
                if i < n and text[i] == "}":
                    i += 1
                    return obj
                raise err("expected ',' or '}' in nested record")
        # Spark's literal spellings too (1.5D, 42L, CAST('NaN' AS DOUBLE)):
        # what a bound parameter renders as
        m = re.match(r"(-?\d+\.\d+([eE][+-]?\d+)?|-?\d+[eE][+-]?\d+)[dD]?",
                     text[i:])
        if m:
            i += m.end()
            return float(m.group(1))
        m = re.match(r"(-?\d+)[lL]?", text[i:])
        if m:
            i += m.end()
            return int(m.group(1))
        m = re.match(r"CAST\s*\(\s*'(NaN|-?Infinity)'\s+AS\s+DOUBLE\s*\)",
                     text[i:], re.IGNORECASE)
        if m:
            i += m.end()
            return float(m.group(1))
        m = re.match(r"(TRUE|FALSE|NULL)\b", text[i:], re.IGNORECASE)
        if m:
            i += m.end()
            word = m.group(1).upper()
            return {"TRUE": True, "FALSE": False, "NULL": None}[word]
        m = re.match(r"(DATE|TIMESTAMP)\s*'([^']+)'", text[i:],
                     re.IGNORECASE)
        if m:
            i += m.end()
            raw = m.group(2)
            if m.group(1).upper() == "DATE":
                return _dt.date.fromisoformat(raw)
            return _dt.datetime.fromisoformat(raw)
        raise err("unrecognized value")

    records: list[dict] = []
    while True:
        skip_ws()
        if i >= n:
            break
        if text[i] != "{":
            raise err("expected '{'")
        i += 1
        rec: dict = {}
        skip_ws()
        if i < n and text[i] == "}":
            i += 1
        else:
            while True:
                skip_ws()
                m = re.match(r"\w+", text[i:])
                if not m:
                    raise err("expected a key")
                key = m.group(0)
                i += m.end()
                skip_ws()
                if i >= n or text[i] != ":":
                    raise err("expected ':' after key")
                i += 1
                if key in rec:
                    raise err(f"duplicate key {key!r} in one record")
                rec[key] = parse_value()
                skip_ws()
                if i < n and text[i] == ",":
                    i += 1
                    continue
                if i < n and text[i] == "}":
                    i += 1
                    break
                raise err("expected ',' or '}' in record")
        records.append(rec)
        skip_ws()
        if i < n:
            if text[i] != ",":
                raise err("expected ',' between records")
            i += 1
    if not records:
        raise ValueError("RECORDS literal: no records")
    return records


def _infer_type(values: list):
    """Spark type for a column from its non-null Python values (bool
    before int: bool is an int subclass)."""
    from pyspark.sql import types as T

    vals = [v for v in values if v is not None]
    if not vals:
        return T.StringType()
    if all(isinstance(v, bool) for v in vals):
        return T.BooleanType()
    if all(isinstance(v, int) and not isinstance(v, bool) for v in vals):
        return T.LongType()
    if all(isinstance(v, (int, float)) and not isinstance(v, bool)
           for v in vals):
        return T.DoubleType()
    if all(isinstance(v, str) for v in vals):
        return T.StringType()
    import datetime as _dt

    if all(type(v) is _dt.date for v in vals):
        return T.DateType()
    if all(isinstance(v, _dt.datetime) for v in vals):
        return T.TimestampType()
    if all(isinstance(v, list) for v in vals):
        return T.ArrayType(_infer_type([e for v in vals for e in v]))
    if all(isinstance(v, dict) for v in vals):
        keys: list[str] = []
        for v in vals:
            for k in v:
                if k not in keys:
                    keys.append(k)
        if not keys:
            raise ValueError(
                "RECORDS literal: an empty nested record {} has no "
                "storable type — give it at least one key"
            )
        return T.StructType(
            [
                T.StructField(k, _infer_type([v.get(k) for v in vals]), True)
                for k in keys
            ]
        )
    raise ValueError(
        "RECORDS literal: a key mixes incompatible value types "
        f"across records: {sorted({type(v).__name__ for v in vals})}"
    )


def _drop_allnull_new_keys(records: list[dict], columns) -> list[dict]:
    """Remove keys whose value is None in EVERY record and which the
    table does not already have: a null value is not stored (the
    reference's document semantics — reading the key gives NULL either
    way), and keeping it would force a type on a column no value ever
    witnessed (the first all-NULL sighting would otherwise lock the
    merged parquet schema to STRING and corrupt later typed writes).
    ``columns()`` gives the table's columns; it is called only when
    some key is NULL in every record."""
    keys = {k for r in records for k in r}
    null = {k for k in keys if all(r.get(k) is None for r in records)}
    dead = null - set(columns()) if null else set()
    if not dead:
        return records
    return [{k: v for k, v in r.items() if k not in dead} for r in records]


def _coerce_value(v, dtype):
    """Align a raw Python value with the column's inferred Spark type.
    ``_infer_type`` promotes a key mixing int and float across records
    to DoubleType, but createDataFrame rejects the remaining raw ints
    against an explicit DoubleType schema — the reference's dynamic
    typing accepts `RECORDS {x: 1}, {x: 2.5}`, so coerce (recursively
    through arrays/structs) instead of aborting the transaction."""
    from pyspark.sql import types as T

    if v is None:
        return None
    # A value whose Python shape doesn't match the inferred column type
    # (e.g. {nest: {v: 1}} in one record, {nest: [1]} in another) falls
    # through untouched so createDataFrame reports the schema mismatch
    # as a clean transaction abort instead of an AttributeError here.
    if isinstance(dtype, T.DoubleType):
        return float(v) if isinstance(v, (int, float)) else v
    if isinstance(dtype, T.ArrayType):
        if not isinstance(v, (list, tuple)):
            return v
        return [_coerce_value(e, dtype.elementType) for e in v]
    if isinstance(dtype, T.StructType):
        if not isinstance(v, dict):
            return v
        return {
            f.name: _coerce_value(v.get(f.name), f.dataType)
            for f in dtype.fields
        }
    return v


def records_to_df(spark, records: list[dict], mask_col: str | None = None):
    """Records → DataFrame over the union of keys (first-seen order).
    With ``mask_col``, each row carries the sorted list of keys its
    record actually mentioned — PATCH needs to distinguish 'absent'
    (retain current) from explicit NULL (set null)."""
    from pyspark.sql import types as T

    keys: list[str] = []
    for r in records:
        for k in r:
            if k not in keys:
                keys.append(k)
    fields = [
        T.StructField(k, _infer_type([r.get(k) for r in records]), True)
        for k in keys
    ]
    if mask_col is not None:
        fields.append(
            T.StructField(mask_col, T.ArrayType(T.StringType()), False)
        )
    types = {f.name: f.dataType for f in fields}
    rows = []
    for r in records:
        row = [_coerce_value(r.get(k), types[k]) for k in keys]
        if mask_col is not None:
            row.append(sorted(r.keys()))
        rows.append(tuple(row))
    return spark.createDataFrame(rows, T.StructType(fields))


def _split_set_clauses(sets: str) -> list[tuple[str, str]]:
    """Split `a = expr, b = expr` on top-level commas, each clause at
    its first `=` token."""
    out = []
    for part in _split_top_level(sets):
        toks = tokens(part)
        eq = next((k for k, t in enumerate(toks) if t.text == "="), None)
        if not eq:  # no `=`, or no column before it
            raise ValueError(f"SET clause needs `column = expression`: {part!r}")
        out.append(("".join(t.text for t in toks[:eq]), part[toks[eq].end :].strip()))
    return out


_MERGE_HEAD = re.compile(
    r"^\s*MERGE\s+INTO\s+(?P<table>\w+)(?:\s+AS)?(?:\s+(?P<talias>(?!USING\b)\w+))?"
    r"\s+USING\s+(?P<source>\w+|\((?:[^()]|\([^()]*\))*\))(?:\s+AS)?"
    r"\s+(?P<salias>\w+)\s+ON\s+(?P<on>.*?\S)"
    r"(?P<whens>\s+WHEN\s.*\S)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_MERGE_WHEN = re.compile(
    r"^\s*(?P<notm>NOT\s+)?MATCHED(?:\s+AND\s+(?P<cond>.*?\S))?\s+THEN\s+"
    r"(?:UPDATE\s+SET\s+(?P<sets>.*\S)|(?P<delete>DELETE)"
    r"|INSERT\s*\((?P<cols>[^)]*)\)\s*VALUES\s*\((?P<vals>.*)\))\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _split_whens(whens: str) -> list[str]:
    """Split the WHEN-clause tail at top-level ``WHEN`` tokens: a WHEN
    inside a literal, a comment or a subquery does not split it, nor
    does a CASE..WHEN..END inside a THEN expression."""
    depth = case_depth = 0
    heads = []
    for t in tokens(whens):
        w = t.word()
        if t.text == "(":
            depth += 1
        elif t.text == ")":
            depth -= 1
        elif w == "CASE":
            case_depth += 1
        elif w == "END":
            case_depth = max(0, case_depth - 1)
        elif w == "WHEN" and depth == case_depth == 0:
            heads.append(t)
    ends = [t.start for t in heads[1:]] + [len(whens)]
    return [whens[t.end : e] for t, e in zip(heads, ends)]


def parse_merge(statement: str) -> "_ParsedDml | None":
    m = _match(_MERGE_HEAD, statement)
    if not m:
        return None
    clauses = []
    for w in _split_whens(m["whens"]):
        cm = _match(_MERGE_WHEN, w)
        if not cm:
            raise ValueError(f"unsupported MERGE WHEN clause: WHEN {w[:80]}")
        if cm["sets"] is not None:
            kind, detail = "update", {"sets": _split_set_clauses(cm["sets"])}
        elif cm["delete"] is not None:
            kind, detail = "delete", {}
        else:
            kind = "insert"
            detail = {
                "cols": _split_top_level(cm["cols"]),
                "vals": _split_top_level(cm["vals"]),
            }
            if len(detail["cols"]) != len(detail["vals"]):
                raise ValueError(
                    "MERGE INSERT column/value count mismatch: "
                    f"{len(detail['cols'])} columns, {len(detail['vals'])} values"
                )
        matched = cm["notm"] is None
        if not matched and kind != "insert":
            raise ValueError("WHEN NOT MATCHED supports only INSERT")
        if matched and kind == "insert":
            raise ValueError("WHEN MATCHED supports UPDATE or DELETE, not INSERT")
        clauses.append(
            {"matched": matched, "cond": cm["cond"], "kind": kind, **detail}
        )
    if not clauses:
        raise ValueError("MERGE requires at least one WHEN clause")
    return _ParsedDml(
        "merge",
        m["table"],
        {
            "talias": m["talias"] or m["table"],
            "source": m["source"],
            "salias": m["salias"],
            "on": m["on"],
            "clauses": clauses,
        },
    )


@dataclass(frozen=True)
class _ParsedDml:
    verb: str
    table: str
    detail: dict


def parse_dml(statement: str) -> _ParsedDml:
    merged = parse_merge(statement)
    if merged is not None:
        return merged
    m = _match(_RECORDS_STMT, statement)
    if m:
        if m["verb"].upper() == "INSERT" and m["app_from"]:
            raise ValueError(
                "FOR VALID_TIME bounds apply to PATCH only; INSERT "
                "RECORDS appends from the transaction time onward"
            )
        return _ParsedDml(
            "insert_records" if m["verb"].upper() == "INSERT" else "patch",
            m["table"],
            {
                "records": parse_records(m["records"]),
                "app_from": m["app_from"],
                "app_to": m["app_to"],
            },
        )
    m = _match(_ASSERT_STMT, statement)
    if m:
        # ASSERT <predicate>[, 'message'] — the message splits at a
        # TOP-LEVEL comma (the predicate may contain commas inside
        # parens or strings)
        pred, *rest = _split_top_level(m["body"])
        msg = string_at(rest[0], 0) if len(rest) == 1 else None
        if rest and (msg is None or msg[1] != len(rest[0])):
            raise ValueError(
                "ASSERT takes one predicate and an optional trailing "
                "'message' string"
            )
        return _ParsedDml("assert", "", {"pred": pred, "msg": msg[0] if msg else None})
    m = _match(_INSERT_VALUES, statement)
    if m:
        return _ParsedDml(
            "insert_values",
            m["table"],
            {"cols": _split_top_level(m["cols"]), "values": m["values"]},
        )
    m = _match(_INSERT_SELECT, statement)
    if m:
        return _ParsedDml("insert_select", m["table"], {"select": m["select"]})
    m = _match(_UPDATE, statement)
    if m:
        return _ParsedDml(
            "update",
            m["table"],
            {
                "sets": _split_set_clauses(m["sets"]),
                "where": m["where"],
                "app_from": m["app_from"],
                "app_to": m["app_to"],
            },
        )
    m = _match(_DELETE, statement)
    if m:
        if m["verb"].upper() == "ERASE" and m["app_from"]:
            raise ValueError(
                "ERASE removes whole ids (the only destructive op); "
                "FOR PORTION OF applies to DELETE only"
            )
        return _ParsedDml(
            m["verb"].lower(),
            m["table"],
            {
                "where": m["where"],
                "app_from": m["app_from"],
                "app_to": m["app_to"],
            },
        )
    raise ValueError(f"unsupported DML statement: {statement[:120]}")


def _set_rows(snap, table: str, target: str, sets, rest: str):
    """``SELECT <target>.*, (e) AS __set_i <rest>`` with each SET column
    replaced by its value: the new versions an UPDATE or a MERGE
    WHEN MATCHED UPDATE writes (the commit casts each value to its
    column's type).  A SET naming a column ``table`` lacks raises."""
    rows = snap.sql(
        f"SELECT {target}.*"
        + "".join(f", ({e}) AS __set_{i}" for i, (_c, e) in enumerate(sets))
        + f" {rest}"
    )
    cols = rows.columns[: len(rows.columns) - len(sets)]
    folded = {c.lower(): c for c in cols}  # Spark resolves names case-insensitively
    value = {}
    for i, (c, _e) in enumerate(sets):
        parts = [part.strip("`") for part in c.split(".")]
        if len(parts) == 2 and parts[0].lower() in (table.lower(), target.lower()):
            parts = parts[1:]  # `SET t.c = …` names column c of the target
        name = folded.get(".".join(parts).lower())
        if name is None:
            raise ValueError(f"SET {c}: table {table!r} has no such column")
        value[name] = f"__set_{i}"
    return rows.select(
        *[rows[value[c]].alias(c) if c in value else rows[c] for c in cols]
    )


def dml_to_ops(snap, statement: str, id_col: str = "id") -> list:
    """Lower one DML statement to engine ops against ``snap``, the
    pre-transaction snapshot (core2: DML runs deterministically at
    index time against the database value as of the tx).  Every read
    the statement makes, its WHERE and SET subqueries included, goes
    through ``snap.sql``.  ``Engine.sql_dml_many`` runs this inside
    ``submit_tx`` as a Call op, so a replay after a conflict lowers
    the statement again against the winner's state."""
    from core2_spark.engine import Assert, Delete, Erase, Patch, Put

    p = parse_dml(statement)
    d = p.detail

    if p.verb == "merge":
        return _merge_to_ops(snap, p, id_col)

    if p.verb == "assert":
        return [Assert(d["pred"], d["msg"])]

    if p.verb == "patch":
        return [Patch(p.table, tuple(d["records"]), id_col,
                      app_start=d["app_from"], app_end=d["app_to"])]

    if p.verb == "insert_records":
        known = p.table in snap.basis.manifests
        records = _drop_allnull_new_keys(
            d["records"], lambda: snap.table(p.table).columns if known else ()
        )
        rows = records_to_df(snap.engine.spark, records)
        if id_col not in rows.columns:
            raise ValueError(
                f"INSERT RECORDS into {p.table!r}: every record needs "
                f"the id key {id_col!r}"
            )
        return [Put(p.table, rows)]
    if p.verb == "insert_values":
        cols = ", ".join(d["cols"])
        return [Put(p.table, snap.sql(f"SELECT * FROM (VALUES {d['values']}) AS _ins({cols})"))]
    if p.verb == "insert_select":
        return [Put(p.table, snap.sql(d["select"]))]

    where = f" WHERE {d['where']}" if d["where"] else ""
    if p.verb == "update":
        updated = _set_rows(
            snap, p.table, p.table, d["sets"], f"FROM {p.table}{where}"
        )
        return [Put(p.table, updated, app_start=d["app_from"], app_end=d["app_to"])]

    ids = snap.sql(f"SELECT {id_col} FROM {p.table}{where}")
    if p.verb == "delete":
        return [Delete(p.table, ids, id_col, app_start=d["app_from"], app_end=d["app_to"])]
    return [Erase(p.table, ids, id_col)]


def _merge_to_ops(snap, p: _ParsedDml, id_col: str) -> list:
    """Lower MERGE INTO to engine ops against the pre-tx snapshot.

    Semantics follow SQL:2003 MERGE (core2 exposes the same
    upsert-shaped writes through put-with-valid-time; the SQL spelling
    is the ergonomic upgrade): source rows join the CURRENT target
    state on the ON condition; matched targets flow to the first
    WHEN MATCHED clause whose AND-condition holds (3VL: NULL = no),
    unmatched source rows to the first WHEN NOT MATCHED clause.  A
    target row matched by MORE THAN ONE source row is a cardinality
    violation and raises — the standard's rule, and the only way the
    result stays deterministic.  Duplicate ids WITHIN the inserted set
    are refused for the same reason: a single Put freezes an arbitrary
    within-partition winner, which a deterministic engine must not do.

    The target is read through ``snap.sql`` like any other table.  The
    source is materialized once into a uid-suffixed temp view, dropped
    on exit, which the cardinality check and every clause read:
    ``Snapshot.sql`` leaves a name it does not know to the session
    catalog, and the suffix keeps concurrent MERGEs in one
    SparkSession (see engine_concurrent_writers) from reading each
    other's source.

    Scale: one equi-shaped join source⋈target for the matched set, one
    anti-join for the not-matched set, one count-per-id aggregation per
    violation check — all shuffle on the ON keys; nothing is collected
    to the driver."""
    import uuid as _uuid

    from pyspark.sql import functions as F

    from core2_spark.engine import Delete, Put

    spark = snap.engine.spark
    d = p.detail
    table, tal, sal, on = p.table, d["talias"], d["salias"], d["on"]
    sv = f"_merge_s_{_uuid.uuid4().hex[:8]}"
    src = d["source"]
    src_df = snap.sql(src[1:-1]) if src.startswith("(") else snap.table(src)
    src_df.localCheckpoint(eager=True).createOrReplaceTempView(sv)
    try:
        joined = f"FROM {table} {tal} JOIN {sv} {sal} ON {on}"
        # cardinality violation: >1 source rows matching one target row
        dup = snap.sql(
            f"SELECT {tal}.{id_col} {joined} "
            f"GROUP BY {tal}.{id_col} HAVING COUNT(*) > 1 LIMIT 1"
        ).take(1)
        if dup:
            raise ValueError(
                f"MERGE cardinality violation: target id {dup[0][0]!r} is "
                "matched by more than one source row"
            )

        ops: list = []
        matched_clauses = [c for c in d["clauses"] if c["matched"]]
        unmatched_clauses = [c for c in d["clauses"] if not c["matched"]]

        def _clause_filter(clauses, idx) -> str:
            """First-match-wins: this clause's condition AND NOT any
            earlier clause's (NULL condition values count as false)."""
            conds = [
                f"COALESCE(({c['cond']}), FALSE)" if c["cond"] else "TRUE"
                for c in clauses
            ]
            parts = [conds[idx]] + [f"NOT {c}" for c in conds[:idx]]
            return " AND ".join(parts)

        for i, c in enumerate(matched_clauses):
            flt = _clause_filter(matched_clauses, i)
            if c["kind"] == "update":
                updated = _set_rows(
                    snap, table, tal, c["sets"], f"{joined} WHERE {flt}"
                )
                ops.append(Put(table, updated))
            else:  # delete
                ids = snap.sql(
                    f"SELECT {tal}.{id_col} AS {id_col} {joined} WHERE {flt}"
                )
                ops.append(Delete(table, ids, id_col))

        for i, c in enumerate(unmatched_clauses):
            flt = _clause_filter(unmatched_clauses, i)
            proj = ", ".join(
                f"({val}) AS {col}" for col, val in zip(c["cols"], c["vals"])
            )
            inserted = snap.sql(
                f"SELECT {proj} FROM {sv} {sal} "
                f"WHERE NOT EXISTS (SELECT 1 FROM {table} {tal} WHERE {on}) "
                f"AND ({flt})"
            ).localCheckpoint(eager=True)
            if id_col in inserted.columns:
                # duplicate source ids flowing to one INSERT would
                # freeze an arbitrary within-Put winner — refuse, like
                # the matched-side cardinality rule
                idup = (
                    inserted.groupBy(id_col)
                    .count()
                    .filter(F.col("count") > 1)
                    .take(1)
                )
                if idup:
                    raise ValueError(
                        "MERGE cardinality violation: source inserts id "
                        f"{idup[0][0]!r} more than once"
                    )
            ops.append(Put(table, inserted))
        return ops
    finally:
        spark.catalog.dropTempView(sv)


def patch_to_ops(snap, table: str, records: list[dict],
                 id_col: str = "id", app_start: str | None = None,
                 app_end: str | None = None) -> list:
    """Compile PATCH (XTDB v2 ``patchDocs`` / ``PATCH INTO t RECORDS``)
    to engine ops against the pre-tx snapshot: each record's keys merge
    into the CURRENT visible version of its id (insert when the id is
    absent); keys a record does not mention retain their current value,
    while an explicit NULL sets null — the mask column carries that
    distinction.  Keys new to the table extend the merged schema
    (dynamic columns, SURVEY §1.2), exactly like a widening Put.

    Duplicate ids within one PATCH are refused: a single Put freezes an
    arbitrary within-partition winner, which a deterministic engine
    must not do (same rule as MERGE's insert-set check).

    Scale: the record list is the transaction payload (driver-side by
    definition, like INSERT VALUES); the current-state read is an
    IN-list lookup bounded by the record count, then one broadcast-size
    join — never a scan-shaped op."""
    from pyspark.sql import functions as F

    from core2_spark.engine import Put

    spark = snap.engine.spark
    if not records:
        raise ValueError("PATCH: no records")
    ids = []
    for r in records:
        if id_col not in r or r[id_col] is None:
            raise ValueError(
                f"PATCH into {table!r}: every record needs a non-null "
                f"id key {id_col!r}"
            )
        ids.append(r[id_col])
    if len(set(ids)) != len(ids):
        from collections import Counter

        dup = sorted(i for i, n in Counter(ids).items() if n > 1)[0]
        raise ValueError(
            f"PATCH cardinality violation: id {dup!r} appears in more "
            "than one record"
        )

    mask = "_patched_keys"
    if table not in snap.basis.manifests:
        # patching a table that does not exist yet = plain insert
        records = _drop_allnull_new_keys(records, lambda: ())
        pdf = records_to_df(spark, records, mask_col=mask)
        return [Put(table, pdf.drop(mask),
                    app_start=app_start, app_end=app_end)]

    cur = snap.table(table)
    # explicit NULL on a key the table does not have is a no-op (the
    # row reads NULL either way); never let it force a column type
    records = _drop_allnull_new_keys(records, lambda: cur.columns)
    pdf = records_to_df(spark, records, mask_col=mask)
    patch_cols = [c for c in pdf.columns if c != mask]
    if len(ids) <= 256:
        # small lists push down into the parquet scan (row-group
        # pruning on the id stats)
        cur_hit = cur.filter(F.col(id_col).isin(ids))
    else:
        # a 100k-id IN-list is a 100k-node Catalyst expression tree;
        # a broadcast semi-join against the (driver-side, bounded)
        # patch payload keeps the plan O(1) in record count
        cur_hit = cur.join(
            F.broadcast(pdf.select(id_col)), on=id_col, how="left_semi"
        )
    p, c = pdf.alias("_p"), cur_hit.alias("_c")
    joined = p.join(c, F.col(f"_p.{id_col}") == F.col(f"_c.{id_col}"), "left")

    current = {f.name: f.dataType for f in cur.schema.fields}
    out_cols = list(current) + [k for k in patch_cols if k not in current]
    proj = []
    for name in out_cols:
        if name == id_col or name not in current:
            # a new key is NULL where a record does not mention it
            proj.append(F.col(f"_p.{name}").alias(name))
        elif name in patch_cols:
            # the merged value keeps its column's type: CASE's own
            # coercion would cast a STRING column's unpatched values to
            # a numeric patch value's type
            mentioned = F.array_contains(F.col(f"_p.{mask}"), F.lit(name))
            value = F.col(f"_p.{name}").cast(current[name])
            proj.append(F.when(mentioned, value).otherwise(F.col(f"_c.{name}")).alias(name))
        else:
            proj.append(F.col(f"_c.{name}").alias(name))
    merged = joined.select(*proj)
    return [Put(table, merged, app_start=app_start, app_end=app_end)]


# -- materialized-view maintenance statements -------------------------

_CREATE_MVIEW = re.compile(
    r"^\s*CREATE\s+MATERIALIZED\s+VIEW\s+(?P<name>\w+)\s+AS\s+"
    r"(?P<select>SELECT\b.*\S)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_REFRESH_MVIEW = re.compile(
    r"^\s*REFRESH\s+MATERIALIZED\s+VIEW\s+(?P<name>\w+)\s*$", re.IGNORECASE
)
_DROP_MVIEW = re.compile(
    r"^\s*DROP\s+MATERIALIZED\s+VIEW\s+(?P<name>\w+)\s*$", re.IGNORECASE
)
_VACUUM = re.compile(
    r"^\s*VACUUM\s+(?P<table>\w+)\s+OLDER\s+THAN\s+"
    r"(?:TIMESTAMP\s+)?'(?P<horizon>[^']+)'\s*$",
    re.IGNORECASE,
)
_OPTIMIZE = re.compile(
    r"^\s*OPTIMIZE\s+(?P<table>\w+)"
    r"(?:\s+ZORDER\s+BY\s+\(?(?P<cols>[\w\s,]+?)\)?)?\s*$",
    re.IGNORECASE,
)
_MVIEW_SELECT = re.compile(
    r"^\s*SELECT\s+(?P<items>.*?\S)\s+FROM\s+(?P<table>\w+)\s+"
    r"GROUP\s+BY\s+(?P<keys>[\w\s,]+?)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_MVIEW_AGG = re.compile(
    r"^(?P<fn>COUNT|SUM|MIN|MAX|AVG)\s*\(\s*(?P<distinct>DISTINCT\s+)?"
    r"(?P<col>\*|\w+)\s*\)\s+AS\s+(?P<alias>\w+)$",
    re.IGNORECASE,
)


_MAINTENANCE = (_CREATE_MVIEW, _REFRESH_MVIEW, _DROP_MVIEW, _VACUUM, _OPTIMIZE)


def _match(pattern: re.Pattern, statement: str) -> dict | None:
    """``pattern.match`` on ``blank(statement)``, each group sliced from
    ``statement`` by span (None when unmatched): a keyword inside a
    literal or a comment is no keyword, and a group keeps its text."""
    m = pattern.match(blank(statement))
    if m is None:
        return None
    return {
        g: statement[m.start(g) : m.end(g)] if m.start(g) >= 0 else None
        for g in pattern.groupindex
    }


def _split_top_level(text: str) -> list[str]:
    """Split on top-level comma tokens (not inside parens, brackets,
    literals or comments); each part runs from its first token to its
    last."""
    return [text[p[0].start : p[-1].end] if p else "" for p in split_commas(tokens(text))]


def is_maintenance(statement: str) -> bool:
    """A materialized-view or table maintenance statement: it runs
    immediately and is no log op."""
    return any(_match(p, statement) for p in _MAINTENANCE)


def parse_mview_select(select: str) -> tuple[str, list[str], dict]:
    """`SELECT keys..., aggs... FROM t GROUP BY keys` → the
    (table, keys, aggs) triple mviews.create takes.  Restricted by
    design to the incrementally-maintainable shape; anything else
    (expressions over keys, WHERE, joins, HAVING) errors loudly."""
    m = _match(_MVIEW_SELECT, select)
    if not m:
        raise ValueError(
            "CREATE MATERIALIZED VIEW supports exactly "
            "'SELECT <keys and aggregates> FROM <table> GROUP BY <keys>': "
            f"{select[:120]}"
        )
    keys = _split_top_level(m["keys"])
    aggs: dict[str, tuple[str, str]] = {}
    seen_keys: list[str] = []
    for item in _split_top_level(m["items"]):
        a = _match(_MVIEW_AGG, item)
        if a:
            fn = a["fn"].lower()
            if a["distinct"]:
                if fn != "count":
                    raise ValueError(
                        f"DISTINCT only supported with COUNT: {item!r}"
                    )
                fn = "count_distinct"
            aggs[a["alias"]] = (fn, a["col"])
        elif re.match(r"^\w+$", item):
            seen_keys.append(item)
        else:
            raise ValueError(
                f"unsupported select item {item!r} (bare key column or "
                "COUNT/SUM/MIN/MAX/AVG(col) AS alias)"
            )
    if seen_keys != keys:
        raise ValueError(
            f"select-list keys {seen_keys} must equal GROUP BY keys {keys} "
            "(same order)"
        )
    return m["table"], keys, aggs


def maintenance_result(engine, statement: str) -> dict | None:
    """Execute ``statement`` if it is a materialized-view maintenance
    statement; return a result dict, or None when it is ordinary DML."""
    from core2_spark import mviews

    m = _match(_CREATE_MVIEW, statement)
    if m:
        table, keys, aggs = parse_mview_select(m["select"])
        mviews.create(engine, m["name"], table, keys, aggs)
        return {"statement": "create_materialized_view", "name": m["name"]}
    m = _match(_REFRESH_MVIEW, statement)
    if m:
        stats = mviews.refresh(engine, m["name"])
        return {"statement": "refresh_materialized_view", "name": m["name"], **stats}
    m = _match(_DROP_MVIEW, statement)
    if m:
        mviews.drop(engine, m["name"])
        return {"statement": "drop_materialized_view", "name": m["name"]}
    m = _match(_VACUUM, statement)
    if m:
        # round 6: retention as a statement (VACUUM t OLDER THAN
        # TIMESTAMP '...') — partition-wise on day layouts
        engine.vacuum(m["table"], older_than=m["horizon"])
        return {"statement": "vacuum", "table": m["table"],
                "older_than": m["horizon"]}
    m = _match(_OPTIMIZE, statement)
    if m:
        cols = tuple(c for c in _split_top_level(m["cols"] or "") if c)
        n = engine.optimize(m["table"], zorder_by=cols or None)
        return {"statement": "optimize", "table": m["table"],
                "target_files": n, "zorder_by": list(cols)}
    return None

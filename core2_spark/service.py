"""One statement path behind the HTTP, Flight and pgwire servers
(SURVEY.md §3 client boundary).

The servers are protocol codecs; every statement they receive goes
through the same four steps here:

1. **classify** — ``classify(sql)`` reads the leading keyword: a write
   (DML, materialized-view DDL, VACUUM, OPTIMIZE — all run through
   ``Engine.sql_dml``) yields its CommandComplete tag, a query None.
2. **bind** — ``bind(sql, values, marker)`` substitutes the ``?``
   (Flight) or ``$n`` (pgwire) placeholder tokens of the dialect's
   lexer, so string literals, quoted identifiers and comments are
   skipped where Spark's own lexer skips them.  Each value is rendered
   by Spark's own ``Literal.sql``, so a bound value is always exactly
   one literal: it cannot change the statement's structure, and a
   placeholder inside a literal or inside a bound value stays text.
3. **build** — ``Statements.build(sql, basis_token)`` returns the
   query's DataFrame without executing it: through the server's
   executor, or at the snapshot a client-supplied basis token names.
4. **guard** — ``df_to_arrow(df, max_result_rows)`` executes once, as
   ``limit(max + 1).toArrow()``, and refuses a result over the cap.
   The servers are RESULT boundaries: queries should reduce before
   crossing them.

``error(exc)`` turns any failure into ``(sqlstate, message)`` for the
wire: the SQLSTATE Spark attached to the exception, else ``XX000``.
"""

from __future__ import annotations

from collections.abc import Callable

import pyarrow as pa
from pyspark import SparkContext
from pyspark.sql import DataFrame

from core2_spark.sql_dialect import tokens

# the write statements, by leading keyword, with their CommandComplete
# tags; in this dialect create/refresh/drop exist only for MATERIALIZED
# VIEW, and Engine.sql_dml rejects anything else loudly
_WRITE_TAGS = {
    "insert": "INSERT 0 0", "update": "UPDATE 0", "delete": "DELETE 0",
    "erase": "ERASE 0", "merge": "MERGE 0", "patch": "PATCH 0",
    "assert": "ASSERT", "create": "CREATE MATERIALIZED VIEW",
    "refresh": "REFRESH MATERIALIZED VIEW", "drop": "DROP MATERIALIZED VIEW",
    "vacuum": "VACUUM", "optimize": "OPTIMIZE",
}


def classify(sql: str) -> str | None:
    """The CommandComplete tag of a write statement; None for a query.
    The leading keyword is the first token as Spark lexes the text, so
    a comment ahead of it does not hide a write."""
    head = tokens(sql)[:1]
    return _WRITE_TAGS.get(head[0].text.lower()) if head else None


def _literal(value) -> str:
    """``value`` as Spark SQL literal text.  Types without a direct JVM
    counterpart (dates, timestamps, decimals) bind as their string
    form, which Spark casts where the statement compares them."""
    if value is None:
        return "NULL"
    if not isinstance(value, (bool, int, float, str, bytes)):
        value = str(value)
    expressions = SparkContext._jvm.org.apache.spark.sql.catalyst.expressions
    return getattr(getattr(expressions, "Literal$"), "MODULE$").apply(value).sql()


def bind(sql: str, values: list, marker: str) -> str:
    """Substitute the placeholders of ``sql`` with ``values``: ``?``
    binds them in order, ``$n`` binds ``values[n - 1]``.  Placeholders
    without a value stay as they are."""
    if not values:
        return sql
    rendered = [_literal(v) for v in values]
    out, pos, n = [], 0, 0
    for tok in tokens(sql):
        if tok.kind != "param" or tok.text[0] != marker:
            continue
        if marker == "?":
            i, n = n, n + 1
        else:
            i = int(tok.text[1:]) - 1
        if 0 <= i < len(rendered):
            out += [sql[pos : tok.start], rendered[i]]
            pos = tok.end
    out.append(sql[pos:])
    return "".join(out)


def df_to_arrow(df: DataFrame, max_result_rows: int | None = None) -> pa.Table:
    """Spark DataFrame → Arrow table in one execution, refusing results
    over ``max_result_rows`` (the driver-materialization guard)."""
    if max_result_rows is None:
        return df.toArrow()
    table = df.limit(max_result_rows + 1).toArrow()
    if table.num_rows > max_result_rows:
        raise ValueError(
            f"result exceeds max_result_rows={max_result_rows}; the servers "
            "are a result boundary — aggregate or LIMIT before fetching, or "
            "raise the cap deliberately"
        )
    return table


def error(exc: BaseException) -> tuple[str, str]:
    """``(sqlstate, message)`` for a failed statement."""
    get_state = getattr(exc, "getSqlState", None)
    state = get_state() if get_state is not None else None
    # str() carries the analyzer message; pyspark reprs are often empty
    return state or "XX000", str(exc) or repr(exc)


class Statements:
    """The engine side of a server: ``executor(sql) -> DataFrame`` runs
    queries at the server's own snapshot; ``engine`` (optional) serves
    client-supplied basis tokens, XTQL, the catalog and writes."""

    def __init__(self, executor: Callable[[str], DataFrame], engine=None):
        self.executor = executor
        self._engine = engine

    @property
    def has_engine(self) -> bool:
        return self._engine is not None

    @property
    def engine(self):
        if self._engine is None:
            raise ValueError(
                "this server is read-only: writes, basis tokens and the "
                "catalog need an attached engine (engine=...)"
            )
        return self._engine

    def head_token(self) -> str:
        """The log head as a portable basis token."""
        from core2_spark.basis import basis_to_json

        return basis_to_json(self.engine.db().basis)

    def snapshot(self, basis_token: str | None = None):
        """The engine's snapshot at ``basis_token``, or at the log head."""
        if basis_token is None:
            return self.engine.db()
        return self.engine.db(self.engine.rehydrate(basis_token))

    def build(self, sql: str, basis_token: str | None = None) -> DataFrame:
        """The query's DataFrame, not executed."""
        if basis_token is None:
            return self.executor(sql)
        return self.snapshot(basis_token).sql(sql)

"""SQL:2011 temporal dialect pre-pass (SURVEY.md §3.1 dialect deltas).

core2's SQL accepts `FOR SYSTEM_TIME AS OF ...` / `FOR
APPLICATION_TIME AS OF ...` table clauses; Spark SQL does not.  This
module rewrites those clauses into ordinary filtered subqueries over
the bitemporal version columns BEFORE handing the query to
``spark.sql`` — a pre-pass, not a SQL engine (Catalyst does the rest).

The pre-pass is TOKENIZER-BASED, not a bare regex: the scanner
understands string literals, quoted identifiers (``"t"`` / `` `t` ``),
and comments, and only rewrites a name in table position (after FROM /
JOIN / a FROM-list comma).  That closes the regex failure shapes —
a `FOR SYSTEM_TIME` inside a string literal, keyword-like table names,
and quoted identifiers all behave; subqueried FOR clauses rewrite
because the scan sees every token, parenthesized or not.

Supported clause forms (per table reference, any order, at most one
per axis)::

    t FOR SYSTEM_TIME AS OF TIMESTAMP '2024-01-02 03:04:05'
    t FOR SYSTEM_TIME FROM TIMESTAMP '...' TO TIMESTAMP '...'
    t FOR SYSTEM_TIME BETWEEN TIMESTAMP '...' AND TIMESTAMP '...'
    t FOR SYSTEM_TIME ALL
    t FOR ALL SYSTEM_TIME               (equivalent spelling)
    t FOR APPLICATION_TIME ...          (same forms)

`TIMESTAMP`/`DATE` markers are optional before each literal.  The
pre-pass also expands SQL:2011 ``(s1, e1) OVERLAPS (s2, e2)`` — absent
from Spark SQL — into the half-open overlap predicate.  The FOR
rewrite targets *version tables* (those carrying the four temporal
columns).  `FOR ... ALL` disables the axis filter.  A bare table
reference is never rewritten — the engine maps bare names to the
current-state view and FOR references to the history view via
``table_map``.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from core2_spark import temporal as bt

_AXIS_COLS = {
    "SYSTEM_TIME": (bt.SYS_START, bt.SYS_END),
    "APPLICATION_TIME": (bt.APP_START, bt.APP_END),
    # XTDB v2 renamed the SQL:2011 application-time axis to VALID_TIME;
    # both spellings are the same axis here
    "VALID_TIME": (bt.APP_START, bt.APP_END),
}

# words that can follow a table reference and must not be mistaken for
# an alias
_KEYWORDS = {
    "join", "inner", "left", "right", "full", "cross", "on", "where",
    "group", "order", "having", "limit", "union", "intersect", "except",
    "natural", "using", "qualify", "window", "for", "asof", "as",
    "outer", "semi", "anti", "lateral", "by",
}

_TOKEN_RE = re.compile(
    r"""
      (?P<ws>\s+|--[^\n]*|/\*.*?\*/)
    | (?P<str>'(?:[^'\\]|\\.|'')*')
    | (?P<qid>"(?:[^"]|"")*"|`(?:[^`]|``)*`)
    | (?P<word>[A-Za-z_][A-Za-z0-9_$]*)
    | (?P<other>.)
    """,
    re.VERBOSE | re.DOTALL,
)


class _Tok:
    __slots__ = ("kind", "text", "start", "end")

    def __init__(self, kind: str, text: str, start: int, end: int):
        self.kind, self.text, self.start, self.end = kind, text, start, end

    def word(self) -> str:
        return self.text.upper() if self.kind == "word" else ""


def _tokens(sql: str) -> list[_Tok]:
    """Significant tokens only (whitespace/comments dropped — the
    rewrite splices by source offsets, so nothing else is reformatted)."""
    out = []
    for m in _TOKEN_RE.finditer(sql):
        kind = m.lastgroup
        if kind != "ws":
            out.append(_Tok(kind, m.group(), m.start(), m.end()))
    return out


def _unquote(tok: _Tok) -> str:
    if tok.kind == "qid":
        q = tok.text[0]
        return tok.text[1:-1].replace(q + q, q)
    return tok.text


class _Match:
    """One `table FOR ...` reference: source span + parsed pieces."""

    __slots__ = ("table_tok", "preds", "alias_tok", "start", "end")

    def __init__(self, table_tok, preds, alias_tok, start, end):
        self.table_tok, self.preds = table_tok, preds
        self.alias_tok, self.start, self.end = alias_tok, start, end


def _parse_literal(toks: list[_Tok], i: int, sql: str) -> tuple[str, int]:
    """[TIMESTAMP|DATE] '<literal>' → (sql fragment, next index)."""
    marker = "TIMESTAMP"
    if i < len(toks) and toks[i].word() in ("TIMESTAMP", "DATE"):
        marker = toks[i].word()
        i += 1
    if i >= len(toks) or toks[i].kind != "str":
        at = toks[i].start if i < len(toks) else len(sql)
        raise ValueError(
            f"temporal dialect: expected a quoted time literal at offset {at} "
            f"in: {sql[max(0, at - 40):at + 20]!r}"
        )
    return f"{marker} {toks[i].text}", i + 1


def _parse_clause(toks: list[_Tok], i: int, sql: str) -> tuple[str | None, int]:
    """After `FOR <axis>`: parse one clause body, return (predicate or
    None for ALL, next index)."""
    axis = toks[i - 1].word()
    start_col, end_col = _AXIS_COLS[axis]
    w = toks[i].word() if i < len(toks) else ""
    if w == "ALL":
        return None, i + 1
    if w == "AS" and i + 1 < len(toks) and toks[i + 1].word() == "OF":
        lit, i = _parse_literal(toks, i + 2, sql)
        return f"{start_col} <= {lit} AND {lit} < {end_col}", i
    if w == "FROM":
        lo, i = _parse_literal(toks, i + 1, sql)
        if i >= len(toks) or toks[i].word() != "TO":
            raise ValueError(f"temporal dialect: expected TO after FROM {lo}")
        hi, i = _parse_literal(toks, i + 1, sql)
        # half-open [lo, hi): overlap test
        return f"{start_col} < {hi} AND {end_col} > {lo}", i
    if w == "BETWEEN":
        lo, i = _parse_literal(toks, i + 1, sql)
        if i >= len(toks) or toks[i].word() != "AND":
            raise ValueError(f"temporal dialect: expected AND after BETWEEN {lo}")
        hi, i = _parse_literal(toks, i + 1, sql)
        # SQL:2011 BETWEEN is end-inclusive: [lo, hi]
        return f"{start_col} <= {hi} AND {end_col} > {lo}", i
    at = toks[i].start if i < len(toks) else len(sql)
    raise ValueError(
        f"temporal dialect: expected AS OF / FROM / BETWEEN / ALL after "
        f"FOR {axis} at offset {at}"
    )


def _find_matches(sql: str) -> list[_Match]:
    toks = _tokens(sql)
    matches = []
    i = 0
    while i < len(toks):
        t = toks[i]
        def _clause_head(j: int) -> int | None:
            """Index of the axis-body start if toks[j] begins a FOR
            clause (`FOR <axis> ...` or `FOR ALL <axis>`), else None."""
            if j >= len(toks) or toks[j].word() != "FOR":
                return None
            if j + 1 < len(toks) and toks[j + 1].word() in _AXIS_COLS:
                return j + 2
            if (
                j + 2 < len(toks)
                and toks[j + 1].word() == "ALL"
                and toks[j + 2].word() in _AXIS_COLS
            ):
                return -(j + 3)  # negative marks the FOR ALL <axis> form
            return None

        # table position: a name right after FROM / JOIN / ','
        in_table_pos = (
            t.kind in ("word", "qid")
            and i > 0
            and (toks[i - 1].word() in ("FROM", "JOIN") or toks[i - 1].text == ",")
        )
        if not (in_table_pos and _clause_head(i + 1) is not None):
            i += 1
            continue
        preds: list[str] = []
        j = i + 1
        while (head := _clause_head(j)) is not None:
            if head < 0:  # FOR ALL <axis>: no filter on that axis
                j = -head
                continue
            pred, j = _parse_clause(toks, head, sql)
            if pred is not None:
                preds.append(pred)
        # optional alias: AS name | name (not a keyword)
        alias_tok = None
        if j < len(toks) and toks[j].word() == "AS":
            alias_tok = toks[j + 1]
            j += 2
        elif j < len(toks) and (
            toks[j].kind == "qid"
            or (toks[j].kind == "word" and toks[j].text.lower() not in _KEYWORDS)
        ):
            alias_tok = toks[j]
            j += 1
        end = (alias_tok.end if alias_tok else toks[j - 1].end)
        matches.append(_Match(t, preds, alias_tok, t.start, end))
        i = j
    return matches


def _rewrite_overlaps(sql: str) -> str:
    """Expand SQL:2011 ``(s1, e1) OVERLAPS (s2, e2)`` (which Spark SQL
    lacks) into the half-open predicate ``(s1 < e2 AND s2 < e1)`` —
    the same algebra as ``functions.periods.overlaps``.  Operates on
    the token stream, so OVERLAPS inside strings/identifiers is left
    alone; operands are arbitrary balanced expressions."""
    toks = _tokens(sql)

    def group_before(idx: int) -> tuple[int, list[list[_Tok]]] | None:
        """Parse the balanced paren group ENDING at toks[idx]; return
        (start index, top-level comma-split operand token lists)."""
        if toks[idx].text != ")":
            return None
        depth, i = 0, idx
        while i >= 0:
            if toks[i].text == ")":
                depth += 1
            elif toks[i].text == "(":
                depth -= 1
                if depth == 0:
                    break
            i -= 1
        if i < 0:
            return None
        return i, _split_group(toks[i + 1 : idx])

    def group_after(idx: int) -> tuple[int, list[list[_Tok]]] | None:
        if idx >= len(toks) or toks[idx].text != "(":
            return None
        depth, i = 0, idx
        while i < len(toks):
            if toks[i].text == "(":
                depth += 1
            elif toks[i].text == ")":
                depth -= 1
                if depth == 0:
                    break
            i += 1
        if i >= len(toks):
            return None
        return i, _split_group(toks[idx + 1 : i])

    def _split_group(inner: list[_Tok]) -> list[list[_Tok]]:
        parts, cur, depth = [], [], 0
        for t in inner:
            if t.text == "(":
                depth += 1
            elif t.text == ")":
                depth -= 1
            if t.text == "," and depth == 0:
                parts.append(cur)
                cur = []
            else:
                cur.append(t)
        parts.append(cur)
        return parts

    out, pos = [], 0
    for k, t in enumerate(toks):
        if t.word() != "OVERLAPS" or k == 0:
            continue
        left = group_before(k - 1)
        right = group_after(k + 1)
        if not left or not right or len(left[1]) != 2 or len(right[1]) != 2:
            continue
        lstart, rend_idx = left[0], right[0]
        if toks[lstart].start < pos:  # overlapping earlier rewrite
            continue

        def text_of(part: list[_Tok]) -> str:
            return sql[part[0].start : part[-1].end]

        (s1, e1), (s2, e2) = left[1], right[1]
        out.append(sql[pos : toks[lstart].start])
        out.append(
            f"({text_of(s1)} < {text_of(e2)} AND {text_of(s2)} < {text_of(e1)})"
        )
        pos = toks[rend_idx].end
    out.append(sql[pos:])
    return "".join(out)


def find_temporal_tables(sql: str) -> set[str]:
    """Unquoted names of every table carrying a FOR clause — the engine
    uses this to decide which history views to register."""
    return {_unquote(m.table_tok) for m in _find_matches(sql)}


def rewrite_temporal_sql(sql: str, table_map: dict[str, str] | None = None) -> str:
    """Rewrite every `table FOR <axis> ...` reference into a filtered
    subquery aliased to the table name.

    ``table_map`` redirects the rewritten subquery's FROM source (e.g.
    ``{"trades": "trades__sys_history"}``): the engine registers the
    current-state view under the bare name (temporal columns dropped)
    and the full version history under an internal view name, so a
    FOR-clause reference must read the history view while bare
    references in the same query keep reading current state."""
    sql = _rewrite_overlaps(sql)
    table_map = table_map or {}
    out = []
    pos = 0
    for m in _find_matches(sql):
        out.append(sql[pos : m.start])
        source = table_map.get(_unquote(m.table_tok), m.table_tok.text)
        name = m.alias_tok.text if m.alias_tok else m.table_tok.text
        if m.preds:
            where = " AND ".join(m.preds)
            out.append(f"(SELECT * FROM {source} WHERE {where}) AS {name}")
        else:
            out.append(f"(SELECT * FROM {source}) AS {name}")
        pos = m.end
    out.append(sql[pos:])
    return "".join(out)


def rename_bare_tables(sql: str, name_map: dict[str, str]) -> str:
    """Rename bare table references at table positions (after FROM /
    JOIN, or after ',' inside a FROM list) to scoped view names,
    preserving qualified-column resolution by aliasing back to the
    original name when the reference carries no alias of its own.

    Why: ``Snapshot.sql`` registers per-call temp views; renaming the
    references (instead of registering under the bare name) makes two
    concurrent snapshots of the same table collision-free in one
    SparkSession.  CTE names shadow tables per the standard, so any
    ``name AS (`` definition suppresses renaming of that name.

    Lookups are case-insensitive (exact case wins): SQL identifiers
    fold, and Spark resolves case-insensitively by default — so
    ``FROM MVIEW_REV`` must find the ``mview_rev`` mapping instead of
    slipping through unrenamed and failing resolution."""
    toks = _tokens(sql)
    folded_map = {k.lower(): v for k, v in name_map.items()}

    # CTE definitions: `name AS (` — those names shadow real tables.
    shadowed = {
        _unquote(toks[i])
        for i in range(len(toks) - 2)
        if toks[i].kind in ("word", "qid")
        and toks[i + 1].word() == "AS"
        and toks[i + 2].text == "("
    }

    edits: list[tuple[int, int, str]] = []
    in_from = False
    from_depth = 0
    depth = 0
    _CLAUSE_ENDERS = {
        "WHERE", "GROUP", "HAVING", "ORDER", "LIMIT", "UNION",
        "INTERSECT", "EXCEPT", "WINDOW", "QUALIFY", "SELECT",
    }
    for i, t in enumerate(toks):
        if t.text == "(":
            depth += 1
            continue
        if t.text == ")":
            depth -= 1
            if in_from and depth < from_depth:
                in_from = False
            continue
        w = t.word()
        if w == "FROM":
            in_from, from_depth = True, depth
            continue
        if in_from and depth == from_depth and w in _CLAUSE_ENDERS:
            in_from = False
            continue
        prev = toks[i - 1] if i > 0 else None
        at_table_pos = prev is not None and (
            prev.word() in ("FROM", "JOIN")
            or (prev.text == "," and in_from and depth == from_depth)
        )
        if not at_table_pos or t.kind not in ("word", "qid"):
            continue
        name = _unquote(t)
        mapped = name_map.get(name, folded_map.get(name.lower()))
        if mapped is None or name in shadowed or name.lower() in {
            s.lower() for s in shadowed
        }:
            continue
        nxt = toks[i + 1] if i + 1 < len(toks) else None
        has_alias = nxt is not None and (
            nxt.word() == "AS"
            or nxt.kind == "qid"
            or (nxt.kind == "word" and nxt.text.lower() not in _KEYWORDS)
        )
        repl = mapped if has_alias else f"{mapped} AS {t.text}"
        edits.append((t.start, t.end, repl))
    for s, e, r in reversed(edits):
        sql = sql[:s] + r + sql[e:]
    return sql


_PRED_ENDERS = {
    "GROUP", "ORDER", "HAVING", "LIMIT", "WINDOW", "QUALIFY",
    "UNION", "INTERSECT", "EXCEPT",
}


def split_exists_disjunctions(sql: str) -> str:
    """Distribute ``[NOT] EXISTS`` over top-level ``OR`` in the
    subquery's WHERE clause::

        EXISTS (S WHERE a OR b)      →  (EXISTS (S WHERE (a))
                                         OR EXISTS (S WHERE (b)))
        NOT EXISTS (S WHERE a OR b)  →  (NOT EXISTS (S WHERE (a))
                                         AND NOT EXISTS (S WHERE (b)))

    Both identities are exact under 3VL (EXISTS tests row-set
    non-emptiness, and rows(a OR b) is nonempty iff rows(a) or rows(b)
    is).  Why: Catalyst cannot decorrelate an EXISTS whose outer-column
    reference couples into a disjunction (`corr AND p1 OR p2` throws
    during optimization; DuckDB executes it — found by the round-4
    fuzzer, tests/test_random_sql.py).  After the split each disjunct's
    correlation is conjunctive at the top level, which Spark
    decorrelates into ordinary semi/anti joins.

    Nested disjunctions under a top-level AND (`(corr OR p) AND q`)
    are handled by a bounded DNF pass: the predicate is parsed into a
    boolean AST (BETWEEN's non-boolean AND, CASE..END internals, and
    parenthesized subqueries are kept inside atoms), NOT is pushed to
    the atoms by De Morgan, and AND is distributed over OR — all exact
    identities in Kleene 3VL, which is a distributive lattice.  The
    expansion is capped at ``_DNF_CAP`` disjuncts; past the cap the
    predicate is left alone (Catalyst then reports its own error).

    The engine applies this as a RETRY after Catalyst rejects the
    original query (see ``Snapshot.sql``), so decorrelatable queries
    keep their single semi-join plan."""
    for _ in range(8):  # fixpoint: splits can expose nested EXISTS
        rewritten = _split_exists_once(sql)
        if rewritten == sql:
            return sql
        sql = rewritten
    return sql


_DNF_CAP = 24  # max disjuncts an expansion may produce

# inside an atom, NOT belongs to the operator that follows it
# (`x NOT BETWEEN/IN/LIKE/RLIKE/ILIKE/SIMILAR ...`, `IS NOT NULL`);
# at factor position it is boolean negation
_NOT_OPERATORS = {"BETWEEN", "IN", "LIKE", "RLIKE", "ILIKE", "SIMILAR"}


def _parse_bool(toks: list[_Tok], lo: int, hi: int, sql: str):
    """Parse toks[lo:hi] as a boolean predicate into an AST of
    ``("or"|"and", [children])`` / ``("not", child)`` /
    ``("atom", text)`` nodes.  Atoms are balanced source spans: parens
    (incl. subqueries), CASE..END bodies, and the AND belonging to a
    BETWEEN are consumed into the atom, so the boolean structure seen
    here is exactly SQL's."""

    def parse_expr(i):
        node, i = parse_term(i)
        children = [node]
        while i < hi and toks[i].word() == "OR":
            node, i = parse_term(i + 1)
            children.append(node)
        return (("or", children) if len(children) > 1 else children[0]), i

    def parse_term(i):
        node, i = parse_factor(i)
        children = [node]
        while i < hi and toks[i].word() == "AND":
            node, i = parse_factor(i + 1)
            children.append(node)
        return (("and", children) if len(children) > 1 else children[0]), i

    def matching_close(i):
        d = 0
        while i < hi:
            if toks[i].text == "(":
                d += 1
            elif toks[i].text == ")":
                d -= 1
                if d == 0:
                    return i
            i += 1
        raise ValueError("unbalanced parens in predicate")

    def parse_factor(i):
        if i >= hi:
            raise ValueError("empty boolean factor")
        if (
            toks[i].word() == "NOT"
            and i + 1 < hi
            and toks[i + 1].word() != "EXISTS"
        ):
            node, j = parse_factor(i + 1)
            return ("not", node), j
        if toks[i].text == "(":
            j = matching_close(i)
            after = toks[j + 1].word() if j + 1 < hi else ""
            is_whole_factor = j + 1 >= hi or after in ("AND", "OR")
            starts_select = i + 1 <= j - 1 and toks[i + 1].word() == "SELECT"
            if is_whole_factor and not starts_select and i + 1 <= j - 1:
                node, k = parse_expr_range(i + 1, j)
                if k != j:
                    raise ValueError("trailing tokens inside boolean group")
                return node, j + 1
        return parse_atom(i)

    def parse_expr_range(i, sub_hi):
        nonlocal hi
        saved = hi
        hi = sub_hi
        try:
            return parse_expr(i)
        finally:
            hi = saved

    def parse_atom(i):
        start = i
        pending_between = 0
        case_depth = 0
        while i < hi:
            t = toks[i]
            w = t.word()
            if t.text == "(":
                i = matching_close(i) + 1
                continue
            if t.text == ")":
                raise ValueError("unbalanced close paren in predicate")
            if w == "CASE":
                case_depth += 1
            elif w == "END" and case_depth:
                case_depth -= 1
            elif case_depth == 0:
                if w == "BETWEEN":
                    pending_between += 1
                elif w == "AND":
                    if pending_between:
                        pending_between -= 1
                    else:
                        break
                elif w == "OR":
                    break
            i += 1
        if i == start:
            raise ValueError("empty atom in predicate")
        return ("atom", sql[toks[start].start : toks[i - 1].end]), i

    node, i = parse_expr(lo)
    if i != hi:
        raise ValueError("trailing tokens after boolean predicate")
    return node


def _to_dnf(node, cap: int = _DNF_CAP) -> list[list[str]] | None:
    """AST → list of disjuncts, each a list of atom texts (possibly
    ``NOT (atom)``).  None if the expansion would exceed ``cap``.
    De Morgan + double-negation push NOT to the atoms; AND distributes
    over OR by cartesian product — both exact in Kleene 3VL."""

    def nnf(n, neg: bool):
        kind = n[0]
        if kind == "not":
            return nnf(n[1], not neg)
        if kind == "atom":
            return ("natom" if neg else "atom", n[1])
        if kind in ("and", "or"):
            flipped = ("or" if kind == "and" else "and") if neg else kind
            return (flipped, [nnf(c, neg) for c in n[1]])
        raise ValueError(f"unknown node {kind}")

    def expand(n) -> list[list[str]] | None:
        kind = n[0]
        if kind == "atom":
            return [[n[1]]]
        if kind == "natom":
            return [[f"NOT ({n[1]})"]]
        if kind == "or":
            out: list[list[str]] = []
            for c in n[1]:
                sub = expand(c)
                if sub is None or len(out) + len(sub) > cap:
                    return None
                out.extend(sub)
            return out
        # and: cartesian product of children's disjunct lists
        out = [[]]
        for c in n[1]:
            sub = expand(c)
            if sub is None or len(out) * len(sub) > cap:
                return None
            out = [a + b for a in out for b in sub]
        return out

    return expand(nnf(node, False))


def _split_exists_once(sql: str) -> str:
    toks = _tokens(sql)
    out: list[str] = []
    pos = 0
    i = 0
    while i < len(toks):
        t = toks[i]
        if t.word() != "EXISTS" or i + 1 >= len(toks) or toks[i + 1].text != "(":
            i += 1
            continue
        negated = i > 0 and toks[i - 1].word() == "NOT"
        # balanced subquery group
        depth, j = 0, i + 1
        while j < len(toks):
            if toks[j].text == "(":
                depth += 1
            elif toks[j].text == ")":
                depth -= 1
                if depth == 0:
                    break
            j += 1
        if j >= len(toks):
            break
        open_idx, close_idx = i + 1, j
        # top-level WHERE inside the group (depth 1 relative to sql)
        where_idx = None
        d = 0
        for k in range(open_idx, close_idx + 1):
            if toks[k].text == "(":
                d += 1
            elif toks[k].text == ")":
                d -= 1
            elif d == 1 and toks[k].word() == "WHERE":
                where_idx = k
                break
        if where_idx is None:
            i = close_idx + 1
            continue
        # predicate extent: WHERE+1 .. first top-level clause ender
        pred_lo = where_idx + 1
        pred_hi = close_idx  # exclusive
        d = 0
        for k in range(pred_lo, close_idx):
            if toks[k].text == "(":
                d += 1
            elif toks[k].text == ")":
                d -= 1
            elif d == 0 and toks[k].word() in _PRED_ENDERS:
                pred_hi = k
                break
        # full bounded DNF of the predicate (handles nested
        # disjunctions like `(corr OR p) AND q`); fall back to a plain
        # top-level OR split if the parse balks or the cap is hit
        disjuncts: list[str] | None = None
        try:
            terms = _to_dnf(_parse_bool(toks, pred_lo, pred_hi, sql))
            if terms is not None and len(terms) >= 2:
                disjuncts = [
                    " AND ".join(f"({c})" for c in conj) for conj in terms
                ]
        except ValueError:
            disjuncts = None
        if disjuncts is None:
            parts: list[tuple[int, int]] = []
            d = 0
            part_lo = pred_lo
            for k in range(pred_lo, pred_hi):
                if toks[k].text == "(":
                    d += 1
                elif toks[k].text == ")":
                    d -= 1
                elif d == 0 and toks[k].word() == "OR":
                    parts.append((part_lo, k))
                    part_lo = k + 1
            parts.append((part_lo, pred_hi))
            if len(parts) >= 2:
                disjuncts = [
                    f"({sql[toks[lo].start : toks[hi - 1].end]})"
                    for lo, hi in parts
                ]
        if disjuncts is None:
            i = close_idx + 1
            continue
        pre = sql[toks[open_idx].end : toks[where_idx].end]  # "SELECT.. WHERE"
        post = (
            sql[toks[pred_hi].start : toks[close_idx].start]
            if pred_hi < close_idx
            else ""
        )
        word = "NOT EXISTS" if negated else "EXISTS"
        branches = [f"{word} ({pre} {d_txt} {post})" for d_txt in disjuncts]
        joiner = " AND " if negated else " OR "
        start = toks[i - 1].start if negated else t.start
        out.append(sql[pos:start])
        out.append("(" + joiner.join(branches) + ")")
        pos = toks[close_idx].end
        i = close_idx + 1
    out.append(sql[pos:])
    return "".join(out)


# CURRENT_TIME/LOCALTIME (SQL TIME type) are omitted: Spark has no
# TIME type or function to pin — they error identically with or
# without the pre-pass.
_NOW_WORDS = {
    "CURRENT_TIMESTAMP",
    "LOCALTIMESTAMP",
    "CURRENT_DATE",
    "NOW",
}


def pin_now(sql: str, at) -> str:
    """Replace the SQL now-family niladic functions with LITERALS at
    the basis clock — core2's repeatable-query semantics (SURVEY §2.8:
    'pin now to a basis parameter, never the wall clock').  A query
    executed twice at the same basis must answer identically; Spark's
    CURRENT_TIMESTAMP reads the wall clock at plan time, which would
    make snapshot reads unrepeatable.  Token-aware: occurrences inside
    strings, quoted identifiers, and comments are untouched; an
    optional empty argument list (``NOW()``) is consumed."""
    ts = at.isoformat(sep=" ", timespec="microseconds")
    out, pos = [], 0
    toks = _tokens(sql)
    i = 0
    while i < len(toks):
        t = toks[i]
        w = t.word()
        if w not in _NOW_WORDS:
            i += 1
            continue
        end = t.end
        j = i + 1
        if (
            j + 1 < len(toks)
            and toks[j].text == "("
            and toks[j + 1].text == ")"
        ):
            end = toks[j + 1].end
            j += 2
        elif w == "NOW":
            # bare NOW is a valid identifier, not a now-function
            i += 1
            continue
        lit = (
            f"DATE '{at.date().isoformat()}'"
            if w == "CURRENT_DATE"
            else f"TIMESTAMP '{ts}'"
        )
        out.append(sql[pos : t.start])
        out.append(lit)
        pos = end
        i = j
    out.append(sql[pos:])
    return "".join(out)


def _split_union_terms(body: str) -> tuple[list[str], list[str], bool]:
    """Split a CTE body at top-level ``UNION [ALL]`` boundaries.
    Returns ``(term_texts, combinators, has_other_set_op)`` where
    combinators holds one ``"UNION"`` / ``"UNION ALL"`` per cut (empty
    for a single term) and has_other_set_op reports a top-level
    INTERSECT / EXCEPT / MINUS.  No validation happens here: whether
    mixed combinators or other set ops are legal depends on whether
    the CTE turns out to be RECURSIVE — a plain CTE's body runs
    verbatim and may combine freely (the caller decides)."""
    toks = _tokens(body)  # significant tokens only; no ws to skip
    depth = 0
    cuts: list[tuple[int, int, str]] = []  # (start, end, combinator)
    has_other = False
    i = 0
    while i < len(toks):
        t = toks[i]
        if t.text == "(":
            depth += 1
        elif t.text == ")":
            depth -= 1
        elif depth == 0 and t.word() in ("INTERSECT", "EXCEPT", "MINUS"):
            has_other = True
        elif depth == 0 and t.word() == "UNION":
            j = i + 1
            if j < len(toks) and toks[j].word() == "ALL":
                cuts.append((t.start, toks[j].end, "UNION ALL"))
                i = j
            elif j < len(toks) and toks[j].word() == "DISTINCT":
                cuts.append((t.start, toks[j].end, "UNION"))
                i = j
            else:
                cuts.append((t.start, t.end, "UNION"))
        i += 1
    if not cuts:
        return [body], [], has_other
    terms, pos = [], 0
    for s, e, _c in cuts:
        terms.append(body[pos:s])
        pos = e
    terms.append(body[pos:])
    return terms, [c for _s, _e, c in cuts], has_other


def expand_recursive_ctes(sql, run_sql, fresh_name):
    """Compile a statement-head ``WITH RECURSIVE`` into semi-naive
    fixpoint iteration (SURVEY §2.7 `:fixpoint` reachable from the SQL
    frontend, matching core2's algebra; Spark SQL has no recursive
    CTE).  Each CTE body splits at its top-level UNION: terms that
    reference the CTE name in table position are recursive, the rest
    form the base.  ``UNION`` iterates under set semantics (the
    `operators.recursion.fixpoint` semi-naive loop: dedup + anti-join
    against everything seen); ``UNION ALL`` accumulates bags and stops
    when an iteration derives nothing.  The recursive reference sees
    the previous iteration's rows (the standard's working table), and
    only LINEAR recursion (one self-reference per term) is accepted.

    Scale: each iteration is one distributed join over the frontier
    only — never the accumulated set — and the accumulator is
    localCheckpoint'd periodically so plan depth stays bounded.

    ``run_sql`` executes a SQL fragment (references already resolved
    by the caller's earlier rewrite passes); ``fresh_name(tag)``
    returns a unique temp-view name the caller will drop.  Returns the
    rewritten main query with CTE references renamed to the computed
    views, or None when the statement has no ``WITH RECURSIVE`` head.
    """
    toks = _tokens(sql)  # significant tokens only (ws already dropped)
    if len(toks) < 2 or toks[0].word() != "WITH" or toks[1].word() != "RECURSIVE":
        return None
    from core2_spark.operators.recursion import fixpoint

    n = len(toks)
    i = 2
    ctes: list[tuple[str, list[str] | None, str]] = []
    while i < n:
        if toks[i].kind not in ("word", "qid"):
            raise ValueError("WITH RECURSIVE: expected a CTE name")
        name = _unquote(toks[i])
        i += 1
        cols: list[str] | None = None
        if i < n and toks[i].text == "(":
            cols = []
            i += 1
            while i < n and toks[i].text != ")":
                if toks[i].kind in ("word", "qid"):
                    cols.append(_unquote(toks[i]))
                i += 1
            i += 1  # past ')'
        if i >= n or toks[i].word() != "AS":
            raise ValueError(f"WITH RECURSIVE {name}: expected AS")
        i += 1
        if i >= n or toks[i].text != "(":
            raise ValueError(f"WITH RECURSIVE {name}: expected ( after AS")
        depth, j = 1, i + 1
        while j < n and depth:
            if toks[j].text == "(":
                depth += 1
            elif toks[j].text == ")":
                depth -= 1
            j += 1
        if depth:
            raise ValueError(f"WITH RECURSIVE {name}: unbalanced parentheses")
        body = sql[toks[i].end : toks[j - 1].start]
        ctes.append((name, cols, body))
        i = j
        if i < n and toks[i].text == ",":
            i += 1
            continue
        break
    if i >= n:
        raise ValueError("WITH RECURSIVE: missing main query")
    main = sql[toks[i].start :]

    view_map: dict[str, str] = {}
    for name, cols, body in ctes:
        body = rename_bare_tables(body, view_map)  # earlier CTEs resolve
        terms, combinators, has_other_set_op = _split_union_terms(body)
        combinator = combinators[0] if combinators else None
        fr_view = fresh_name(f"rcte_frontier_{name}")
        base_terms: list[str] = []
        rec_terms: list[str] = []
        for t in terms:
            rt = rename_bare_tables(t, {name: fr_view})
            if rt == t:
                base_terms.append(t)
            elif rt.count(fr_view) > 1:
                raise ValueError(
                    f"recursive CTE {name}: non-linear recursion (multiple "
                    "self-references in one term) is not supported"
                )
            else:
                rec_terms.append(rt)
        if not rec_terms:
            # plain CTE under a WITH RECURSIVE head: the body runs
            # VERBATIM, so mixed combinators / INTERSECT / EXCEPT are
            # perfectly legal here — validation applies only to bodies
            # that actually iterate
            df = run_sql(body)
        else:
            if len(set(combinators)) > 1:
                raise ValueError(
                    f"recursive CTE {name} mixes UNION and UNION ALL; "
                    "one accumulation semantics per recursive CTE is "
                    "supported"
                )
            if has_other_set_op:
                # UNION and EXCEPT are left-associative EQUAL-precedence
                # (only INTERSECT binds tighter), so a term-wise split
                # on UNION would mis-group `a UNION ALL b EXCEPT c`;
                # refuse rather than iterate the wrong algebra
                raise ValueError(
                    f"recursive CTE {name}: top-level INTERSECT/EXCEPT "
                    "in a recursive body is not supported"
                )
            if not base_terms:
                raise ValueError(
                    f"recursive CTE {name}: every UNION term references "
                    "the CTE; a non-recursive base term is required"
                )
            base_df = None
            for t in base_terms:
                d = run_sql(t)
                base_df = d if base_df is None else base_df.union(d)
            out_cols = cols or base_df.columns
            base_df = base_df.toDF(*out_cols)

            def step(frontier, _rec=tuple(rec_terms), _fr=fr_view, _cols=out_cols):
                frontier.createOrReplaceTempView(_fr)
                d = None
                for rt in _rec:
                    p = run_sql(rt)
                    d = p if d is None else d.union(p)
                return d.toDF(*_cols)

            if combinator == "UNION":
                df = fixpoint(base_df, step, max_iterations=200)
            else:  # UNION ALL: bag accumulation, stop on empty frontier
                acc, frontier = base_df, base_df
                for it in range(200):
                    derived = step(frontier).localCheckpoint(eager=True)
                    if derived.isEmpty():
                        break
                    acc = acc.union(derived)
                    frontier = derived
                    if (it + 1) % 8 == 0:
                        acc = acc.localCheckpoint(eager=True)
                else:
                    raise RuntimeError(
                        f"recursive CTE {name} did not converge in 200 "
                        "iterations (UNION ALL over cyclic data?)"
                    )
                df = acc
        if cols:
            df = df.toDF(*cols)
        vname = fresh_name(f"rcte_{name}")
        df.createOrReplaceTempView(vname)
        view_map[name] = vname
    return rename_bare_tables(main, view_map)


_ASOF_CLAUSE_END = {
    "WHERE", "GROUP", "ORDER", "HAVING", "LIMIT", "WINDOW", "QUALIFY",
    "UNION", "INTERSECT", "EXCEPT", "JOIN", "LEFT", "RIGHT", "FULL",
    "INNER", "CROSS", "ASOF", "SEMI", "ANTI",
}


def rewrite_asof_joins(sql: str) -> str:
    """Compile DuckDB-style ``ASOF [LEFT] JOIN`` into a union+window
    matcher plus two equi-joins — pure text→text, no temp views.

    Syntax (the DuckDB surface; core2 itself reaches as-of semantics
    through scan-side temporal clauses, reference README.adoc:1-16):

        FROM l ASOF JOIN r ON l.k = r.k AND l.ts >= r.ts

    matches each ``l`` row with the single ``r`` row having the
    greatest ``r.ts <= l.ts`` within equal keys (``<=`` flips the
    direction: smallest ``r.ts >= l.ts``).  ``ASOF LEFT JOIN`` keeps
    unmatched left rows with NULL right columns.  Both relations stay
    referenceable by their aliases — the rewrite only replaces the
    join expression, never touching the select list or later clauses.

    Scale: the naive reading of ASOF JOIN is a range join (quadratic
    per key group under Spark's nested-loop fallback).  The emitted
    plan is the same union+window trick as ``operators.asof_join``:
    one shuffle on the keys computes, per left (keys, ts), the
    matched right ts; two hash equi-joins then attach the full rows.
    No range join appears anywhere in the plan.

    An optional TOLERANCE band ``l.ts - r.ts <= bound`` (match order;
    ``r.ts - l.ts`` for the forward direction) nulls out matches
    farther than ``bound`` — pandas merge_asof semantics; bound may be
    numeric or an INTERVAL literal.

    Limits (loud errors, never silent wrong answers): both sides must
    be plain table/view references with optional aliases; the ON
    clause must be a conjunction of column equalities plus exactly one
    ``>=``/``<=`` timestamp comparison (plus the optional band); right
    rows must be unique per (keys, ts) — ENFORCED via a windowed count
    + raise_error in the emitted plan, since a duplicate right side
    would silently multiply output rows.  NULL timestamps never match
    (SQL comparison semantics), and NULL keys never match (equi-join).
    """
    out = sql
    for _ in range(16):  # one ASOF join rewritten per pass
        rewritten = _rewrite_one_asof(out)
        if rewritten is None:
            return out
        out = rewritten
    raise ValueError("more than 16 ASOF JOINs in one statement")


def _rewrite_one_asof(sql: str) -> str | None:
    toks = _tokens(sql)
    n = len(toks)
    pos = None
    for i, t in enumerate(toks):
        if t.word() == "ASOF":
            j = i + 1
            left_kind = False
            if j < n and toks[j].word() == "LEFT":
                left_kind = True
                j += 1
            if j < n and toks[j].word() == "JOIN":
                pos = (i, j, left_kind)
                break
    if pos is None:
        return None
    asof_i, join_i, left_kind = pos

    def _table_ref(i: int) -> tuple[str, str, int] | None:
        """Parse ``name [AS] [alias]`` at token i → (name_sql, alias,
        next_index); None if not a plain reference."""
        if i >= n or toks[i].kind not in ("word", "qid"):
            return None
        name_tok = toks[i]
        i += 1
        if i < n and toks[i].word() == "AS":
            i += 1
        alias = None
        if (
            i < n
            and toks[i].kind in ("word", "qid")
            and toks[i].word() not in _ASOF_CLAUSE_END | {"ON", "AS"}
        ):
            alias = _unquote(toks[i])
            i += 1
        return name_tok.text, alias or _unquote(name_tok), i

    # left relation: `name`, `name alias`, or `name AS alias` ending
    # exactly at ASOF — pick the longest form that parses
    l_name = l_alias = None
    l_span_start = -1
    for cand in (asof_i - 3, asof_i - 2, asof_i - 1):
        if cand < 0:
            continue
        prev = cand - 1
        if prev >= 0 and toks[prev].text == ".":
            continue  # qualified ref fragment, not a table name
        if toks[cand].word() in _ASOF_CLAUSE_END | {"FROM", "ON", "AND", "AS"}:
            continue  # keyword, not a table name
        got = _table_ref(cand)
        if got is not None and got[2] == asof_i:
            if prev >= 0 and toks[prev].text == ")":
                raise ValueError(
                    "ASOF JOIN: left side must be a plain table "
                    "reference (wrap subqueries in a CTE)"
                )
            l_name, l_alias, _ = got
            l_span_start = toks[cand].start
            break
    if l_name is None:
        raise ValueError(
            "ASOF JOIN: left side must be a plain table reference "
            "(wrap subqueries in a CTE)"
        )

    got = _table_ref(join_i + 1)
    if got is None:
        raise ValueError(
            "ASOF JOIN: right side must be a plain table reference "
            "(wrap subqueries in a CTE)"
        )
    r_name, r_alias, after_r = got
    if after_r >= n or toks[after_r].word() != "ON":
        raise ValueError("ASOF JOIN requires an ON clause")

    # ON conjunct list ends at the next top-level clause keyword,
    # unbalanced ')', or end of statement
    depth = 0
    end_i = n
    k = after_r + 1
    while k < n:
        t = toks[k]
        if t.text == "(":
            depth += 1
        elif t.text == ")":
            if depth == 0:
                end_i = k
                break
            depth -= 1
        elif depth == 0 and t.word() in _ASOF_CLAUSE_END:
            end_i = k
            break
        k += 1
    on_toks = toks[after_r + 1 : end_i]

    # split at AND; each conjunct must be  qual.col OP qual.col
    conjuncts: list[list[_Tok]] = [[]]
    for t in on_toks:
        if t.word() == "AND":
            conjuncts.append([])
        else:
            conjuncts[-1].append(t)

    def _qualified(ts: list[_Tok], i: int):
        if (
            i + 2 < len(ts)
            and ts[i].kind in ("word", "qid")
            and ts[i + 1].text == "."
            and ts[i + 2].kind in ("word", "qid")
        ):
            return _unquote(ts[i]), ts[i + 2].text, i + 3
        return None

    eq_pairs: list[tuple[str, str]] = []  # (left col sql, right col sql)
    match_cond = None  # (l_ts, r_ts, direction)
    tolerance = None  # (first_qual, first_col, second_qual, second_col, bound_sql)
    for c in conjuncts:
        strip = [t for t in c if t.text not in ("(", ")")]
        q1 = _qualified(strip, 0)
        if q1 is None:
            raise ValueError(
                "ASOF JOIN ON: each conjunct must compare qualified "
                f"columns, got {' '.join(t.text for t in c)!r}"
            )
        # tolerance band: qual.ts - qual.ts <= <expr>  (pandas
        # merge_asof semantics — out-of-band matches become no-match)
        a_qual0, a_col0, i0 = q1
        if i0 < len(strip) and strip[i0].text == "-":
            q2t = _qualified(strip, i0 + 1)
            if (
                q2t is not None
                and q2t[2] + 1 < len(strip)
                and strip[q2t[2]].text == "<"
                and strip[q2t[2] + 1].text == "="
            ):
                if tolerance is not None:
                    raise ValueError(
                        "ASOF JOIN ON: at most one tolerance band"
                    )
                if q2t[2] + 2 >= len(strip):
                    raise ValueError("ASOF JOIN tolerance: missing bound")
                # slice the bound from the ORIGINAL text: numbers
                # tokenize as single chars, so re-joining token texts
                # would mangle 60 into '6 0'
                bound = sql[strip[q2t[2] + 2].start : strip[-1].end]
                tolerance = (a_qual0, a_col0, q2t[0], q2t[1], bound)
                continue
        a_qual, a_col, i2 = q1
        # the tokenizer emits single chars: >= / <= arrive as two toks
        op = None
        if i2 < len(strip) and strip[i2].text in (">", "<", "="):
            if (
                strip[i2].text in (">", "<")
                and i2 + 1 < len(strip)
                and strip[i2 + 1].text == "="
            ):
                op = strip[i2].text + "="
                i2 += 2
            elif strip[i2].text == "=":
                op = "="
                i2 += 1
        if op is None:
            raise ValueError(
                "ASOF JOIN ON supports only =, >= and <= comparisons "
                f"(got {' '.join(t.text for t in c)!r}); strict </> "
                "variants are not implemented"
            )
        q2 = _qualified(strip, i2)
        if q2 is None or q2[2] != len(strip):
            raise ValueError(
                "ASOF JOIN ON: each conjunct must be qual.col OP "
                f"qual.col, got {' '.join(t.text for t in c)!r}"
            )
        b_qual, b_col, _ = q2
        quals = {a_qual.lower(), b_qual.lower()}
        if quals != {l_alias.lower(), r_alias.lower()}:
            raise ValueError(
                f"ASOF JOIN ON references {sorted(quals)}; expected the "
                f"join's own aliases {[l_alias, r_alias]}"
            )
        a_is_left = a_qual.lower() == l_alias.lower()
        lcol, rcol = (a_col, b_col) if a_is_left else (b_col, a_col)
        if op == "=":
            eq_pairs.append((lcol, rcol))
        else:
            if match_cond is not None:
                raise ValueError(
                    "ASOF JOIN ON: exactly one >=/<= match condition "
                    "is required (found two)"
                )
            # normalize to the LEFT operand's perspective
            if not a_is_left:
                op = ">=" if op == "<=" else "<="
            match_cond = (lcol, rcol, "backward" if op == ">=" else "forward")
    if match_cond is None:
        raise ValueError(
            "ASOF JOIN ON: a >= or <= match condition is required"
        )
    l_ts, r_ts, direction = match_cond
    rt_out = "__asof_rt"
    if tolerance is not None:
        tq1, tc1, tq2, tc2, bound = tolerance
        expected = (
            (l_alias.lower(), l_ts, r_alias.lower(), r_ts)
            if direction == "backward"
            else (r_alias.lower(), r_ts, l_alias.lower(), l_ts)
        )
        if (tq1.lower(), tc1, tq2.lower(), tc2) != expected:
            raise ValueError(
                "ASOF JOIN tolerance must subtract the match-condition "
                "timestamps in match order "
                f"({expected[0]}.{expected[1]} - {expected[2]}.{expected[3]})"
            )
        diff = (
            "__asof_t - __asof_rt"
            if direction == "backward"
            else "__asof_rt - __asof_t"
        )
        rt_out = (
            f"CASE WHEN {diff} <= ({bound}) THEN __asof_rt END AS __asof_rt"
        )

    import uuid as _uuid

    mm = f"__asof_m_{_uuid.uuid4().hex[:8]}"
    keys = [f"__asof_k{i}" for i in range(len(eq_pairs))]
    l_keys_sel = ", ".join(
        f"{lc} AS {k}" for (lc, _rc), k in zip(eq_pairs, keys)
    )
    r_keys_sel = ", ".join(rc for (_lc, rc) in eq_pairs)
    part = f"PARTITION BY {', '.join(keys)} " if keys else ""
    if direction == "backward":
        order = "ORDER BY __asof_t ASC, __asof_side ASC"
        frame = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
        pick = "last"
    else:
        order = "ORDER BY __asof_t ASC, __asof_side DESC"
        frame = "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING"
        pick = "first"
    key_cols = (", ".join(keys) + ", ") if keys else ""
    # __asof_dup counts RIGHT rows sharing one (keys, ts) cell: a
    # duplicate right side would silently multiply output rows at the
    # join-back (and diverge from DuckDB's native ASOF, the oracle),
    # so the docstring's uniqueness precondition is ENFORCED — a
    # violating right row trips raise_error instead of matching twice.
    dup_part = f"PARTITION BY {', '.join(keys) + ', ' if keys else ''}__asof_t"
    matcher = (
        f"(SELECT DISTINCT {key_cols}__asof_t AS __asof_lt, {rt_out} "
        f"FROM (SELECT {key_cols}__asof_t, __asof_side, "
        f"{pick}(CASE WHEN __asof_side = 0 THEN __asof_t END, true) "
        f"OVER ({part}{order} {frame}) AS __asof_rt, "
        f"COUNT(CASE WHEN __asof_side = 0 THEN 1 END) "
        f"OVER ({dup_part}) AS __asof_dup "
        f"FROM (SELECT {l_keys_sel}{', ' if l_keys_sel else ''}"
        f"{l_ts} AS __asof_t, 1 AS __asof_side FROM {l_name} "
        f"WHERE {l_ts} IS NOT NULL "
        f"UNION ALL SELECT {r_keys_sel}{', ' if r_keys_sel else ''}"
        f"{r_ts}, 0 FROM {r_name} WHERE {r_ts} IS NOT NULL)) "
        f"WHERE (__asof_side = 1 OR (CASE WHEN __asof_dup > 1 THEN "
        f"CAST(raise_error('ASOF JOIN: right side has duplicate "
        f"(keys, ts) rows; aggregate it first for a deterministic "
        f"match') AS BOOLEAN) ELSE FALSE END))"
        f"{'' if left_kind else ' AND __asof_rt IS NOT NULL'}) {mm}"
    )
    jkind = "LEFT JOIN" if left_kind else "JOIN"
    mm_on = " AND ".join(
        [f"{l_alias}.{lc} = {mm}.{k}" for (lc, _rc), k in zip(eq_pairs, keys)]
        + [f"{l_alias}.{l_ts} = {mm}.__asof_lt"]
    )
    r_on = " AND ".join(
        [f"{r_alias}.{rc} = {mm}.{k}" for (_lc, rc), k in zip(eq_pairs, keys)]
        + [f"{r_alias}.{r_ts} = {mm}.__asof_rt"]
    )
    l_text = sql[l_span_start : toks[asof_i].start].rstrip()
    replacement = (
        f"{l_text} {jkind} {matcher} ON {mm_on} "
        f"{jkind} {r_name} {r_alias} ON {r_on}"
    )
    tail_start = toks[end_i].start if end_i < n else len(sql)
    return sql[:l_span_start] + replacement + " " + sql[tail_start:]


# -- SETTING DEFAULT <axis> prefix -------------------------------------

_SETTING_HEAD = re.compile(r"^\s*SETTING\s+", re.IGNORECASE)
_SETTING_CLAUSE = re.compile(
    r"DEFAULT\s+(?P<axis>VALID_TIME|APPLICATION_TIME|SYSTEM_TIME)\s+"
    r"(?:AS\s+OF\s+(?:TIMESTAMP\s+)?'(?P<ts>[^']+)'|(?P<all>ALL))"
    r"\s*(?P<sep>,\s*)?",
    re.IGNORECASE,
)


def strip_setting_prefix(sql: str) -> tuple[str, dict]:
    """The reference's ``SETTING DEFAULT VALID_TIME AS OF '...'[,
    DEFAULT SYSTEM_TIME AS OF '...']`` query prefix: statement-scoped
    default clocks for every bare table reference (a per-table ``FOR
    <axis> AS OF`` still overrides, because explicit FOR clauses
    resolve against the history view, not the default scan).

    Returns (sql-without-prefix, {"app_time": ..., "system_time": ...})
    — exactly the kwargs ``Snapshot.sql``/``Snapshot.table`` already
    accept, so the prefix is pure spelling.  ``DEFAULT <axis> ALL`` is
    rejected with guidance (spell it per-table: ``FROM t FOR <axis>
    ALL`` — a statement-wide ALL changes row multiplicity of every
    reference, which silently breaks joins written for current
    state)."""
    m = _SETTING_HEAD.match(sql)
    if not m:
        return sql, {}
    pos = m.end()
    out: dict = {}
    axis_kw = {
        "VALID_TIME": "app_time",
        "APPLICATION_TIME": "app_time",
        "SYSTEM_TIME": "system_time",
    }
    while True:
        cm = _SETTING_CLAUSE.match(sql, pos)
        if cm is None:
            if not out:
                raise ValueError(
                    "SETTING must be followed by DEFAULT "
                    "VALID_TIME/SYSTEM_TIME AS OF '...' clauses"
                )
            break
        if cm["all"]:
            raise ValueError(
                f"SETTING DEFAULT {cm['axis'].upper()} ALL is not "
                "supported — spell it per table reference (FROM t FOR "
                f"{cm['axis'].upper()} ALL); a statement-wide ALL "
                "changes the row multiplicity of every reference"
            )
        kw = axis_kw[cm["axis"].upper()]
        if kw in out:
            raise ValueError(
                f"SETTING sets {cm['axis'].upper()} twice"
            )
        out[kw] = cm["ts"]
        pos = cm.end()
        if not cm["sep"]:
            break
    return sql[pos:], out


# -- NEST_MANY / NEST_ONE nested-result subqueries ---------------------


def rewrite_nest_subqueries(sql: str) -> str:
    """The reference's NEST_MANY / NEST_ONE nested-result subqueries
    (XTDB v2 SQL; README.adoc:13-15) as a text→text pre-pass::

        SELECT c.name,
               NEST_MANY(SELECT o.val AS v FROM orders o
                         WHERE o.custkey = c.id) AS orders
        FROM customer c

    compiles to a correlated AGGREGATED scalar subquery, which
    Catalyst decorrelates into one left outer join + one aggregation —
    the same plan a hand-written groupBy+collect_list+equi-join
    produces (the datalog pull path), so a nested result costs one
    shuffle at 100 TB, never a per-outer-row subquery.

    Semantics:

    - NEST_MANY yields ``array<struct>``; ``[]`` (not NULL) when no
      rows match — the reference's empty nested collection.
    - Element order is canonical ascending over the struct fields in
      projection order (``sort_array``): collect_list order under
      distributed aggregation is non-deterministic, which a
      deterministic engine must not expose.  ORDER BY inside the body
      is therefore rejected loudly, never silently ignored.
    - NEST_ONE yields ``struct``, NULL when no row matches, and RAISES
      at execution when more than one matches — the reference's
      `:max-1-row` guard; picking a winner would be non-deterministic.
    - DISTINCT / GROUP BY / LIMIT inside the body are rejected loudly
      (an aggregated body cannot be re-aggregated by the wrapper)."""
    while True:
        out = _rewrite_one_nest(sql)
        if out is None:
            return sql
        sql = out


def _rewrite_one_nest(sql: str) -> str | None:
    toks = _tokens(sql)
    for idx, t in enumerate(toks):
        fn = t.word()
        if fn not in ("NEST_MANY", "NEST_ONE"):
            continue
        if idx + 1 >= len(toks) or toks[idx + 1].text != "(":
            raise ValueError(f"{fn} must be followed by (SELECT ...)")
        depth, close = 0, None
        for j in range(idx + 1, len(toks)):
            if toks[j].text == "(":
                depth += 1
            elif toks[j].text == ")":
                depth -= 1
                if depth == 0:
                    close = j
                    break
        if close is None:
            raise ValueError(f"{fn}: unbalanced parentheses")
        inner = toks[idx + 2 : close]
        if not inner or inner[0].word() != "SELECT":
            raise ValueError(f"{fn}(...) must wrap a SELECT subquery")
        if len(inner) > 1 and inner[1].word() == "DISTINCT":
            raise ValueError(f"{fn}: DISTINCT inside the body is not "
                             "supported")
        d, from_i = 0, None
        for j, it in enumerate(inner):
            if it.text == "(":
                d += 1
            elif it.text == ")":
                d -= 1
            elif d == 0 and it.word() == "FROM" and from_i is None:
                from_i = j
            elif d == 0 and it.word() in ("ORDER", "LIMIT", "GROUP"):
                raise ValueError(
                    f"{fn}: {it.word()} inside the body is not supported "
                    "(element order is canonical ascending; aggregate "
                    "outside the nest instead)"
                )
        if from_i is None:
            raise ValueError(f"{fn}(...) body needs a FROM clause")
        proj = sql[inner[0].end : inner[from_i].start].strip()
        rest = sql[inner[from_i].start : toks[close].start].strip()
        if fn == "NEST_MANY":
            repl = (f"(SELECT sort_array(collect_list(struct({proj}))) "
                    f"{rest})")
        else:
            repl = (
                "(SELECT CASE WHEN count(*) > 1 THEN raise_error("
                f"'NEST_ONE: subquery returned more than one row') "
                f"ELSE any_value(struct({proj})) END {rest})"
            )
        return sql[: t.start] + repl + sql[toks[close].end :]
    return None


def sql_with_temporal(
    spark: SparkSession,
    sql: str,
    version_views: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """Run SQL with the temporal dialect enabled.  ``version_views``
    registers version tables (with the four temporal columns and
    system_time_end already derived) as temp views first.  The
    ``WITH RECURSIVE`` frontend is available here too."""
    import uuid as _uuid

    if version_views:
        for name, df in version_views.items():
            df.createOrReplaceTempView(name)
    rewritten = rewrite_temporal_sql(sql)
    if "asof" in rewritten.lower():  # zero overhead otherwise
        rewritten = rewrite_asof_joins(rewritten)
    scratch: list[str] = []

    def _fresh(tag: str) -> str:
        v = f"{tag}_{_uuid.uuid4().hex[:8]}"
        scratch.append(v)
        return v

    try:
        expanded = expand_recursive_ctes(rewritten, spark.sql, _fresh)
        return spark.sql(rewritten if expanded is None else expanded)
    finally:
        for v in scratch:
            spark.catalog.dropTempView(v)

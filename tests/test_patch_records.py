"""PATCH / RECORDS surface (sql_dml.py, engine.Patch): XTDB v2's
``patchDocs`` tx op and its SQL spellings ``PATCH INTO t RECORDS {..}``
and ``INSERT INTO t RECORDS {..}``.  Patch merges partial documents
into the current visible version — unmentioned keys retain, explicit
NULL sets null, absent ids insert, new keys widen the merged schema —
and, like every op, appends versions (history stays queryable)."""

from __future__ import annotations

import datetime as dt

import pytest

from core2_spark.engine import Engine, Patch, Put
from core2_spark.sql_dml import parse_records


# -- RECORDS literal parser -------------------------------------------


def test_parse_records_scalars():
    recs = parse_records(
        "{id: 1, name: 'ada', score: 2.5, ok: TRUE, note: NULL}, "
        "{id: -2, ok: false}"
    )
    assert recs == [
        {"id": 1, "name": "ada", "score": 2.5, "ok": True, "note": None},
        {"id": -2, "ok": False},
    ]


def test_parse_records_string_escape_and_arrays():
    recs = parse_records("{id: 1, q: 'it''s', tags: ['a', 'b'], xs: [1, 2]}")
    assert recs == [{"id": 1, "q": "it's", "tags": ["a", "b"], "xs": [1, 2]}]


def test_parse_records_spark_literal_spellings():
    """What a bound parameter renders as (Spark's Literal.sql)."""
    recs = parse_records(
        "{id: 7L, q: 'it\\'s \\\\ ok', px: 1.5D, big: 1.0E20D, "
        "lo: CAST('-Infinity' AS DOUBLE), ok: true}"
    )
    assert recs == [
        {"id": 7, "q": "it's \\ ok", "px": 1.5, "big": 1e20,
         "lo": float("-inf"), "ok": True}
    ]


def test_parse_records_date_timestamp():
    recs = parse_records(
        "{id: 1, d: DATE '2024-03-01', ts: TIMESTAMP '2024-03-01 12:30:00'}"
    )
    assert recs == [
        {
            "id": 1,
            "d": dt.date(2024, 3, 1),
            "ts": dt.datetime(2024, 3, 1, 12, 30),
        }
    ]


def test_parse_records_nested():
    recs = parse_records(
        "{id: 1, addr: {city: 'paris', zip: 75}}, "
        "{id: 2, addr: {city: 'oslo'}}"
    )
    assert recs == [
        {"id": 1, "addr": {"city": "paris", "zip": 75}},
        {"id": 2, "addr": {"city": "oslo"}},
    ]


@pytest.mark.parametrize(
    "bad",
    [
        "{id: 1, doc: {a: 1, a: 2}}",  # duplicate key in nested record
        "{id: 1, id: 2}",  # duplicate key in one record
        "{id: 1} {id: 2}",  # missing comma between records
        "{id: }",  # missing value
        "{id: 1, name: 'open}",  # unterminated string
        "",  # no records
    ],
)
def test_parse_records_rejects(bad):
    with pytest.raises(ValueError):
        parse_records(bad)


# -- engine behavior ---------------------------------------------------


@pytest.fixture()
def eng(spark, tmp_path):
    e = Engine(spark, str(tmp_path / "db"))
    e.sql_dml(
        "INSERT INTO accounts (id, owner, balance) VALUES "
        "(1, 'ada', CAST(100.0 AS DOUBLE)), (2, 'bob', CAST(50.0 AS DOUBLE)), "
        "(3, 'eve', CAST(75.0 AS DOUBLE))",
        tx_time="2024-01-01 00:00:01",
    )
    return e


def by_id(df):
    return {r["id"]: r.asDict() for r in df.collect()}


def test_insert_records_visible_and_type_aligned(eng):
    # balance: 10 is an int literal; the existing column is DOUBLE —
    # the records path must cast by name like INSERT VALUES does
    eng.sql_dml("INSERT INTO accounts RECORDS {id: 4, owner: 'dan', balance: 10}")
    got = by_id(eng.db().table("accounts"))
    assert got[4]["owner"] == "dan"
    assert got[4]["balance"] == 10.0
    assert [f.dataType.simpleString() for f in
            eng.db().table("accounts").schema.fields
            if f.name == "balance"] == ["double"]


def test_records_mixed_int_float_promotes_to_double(spark, tmp_path):
    """A key mixing int and float ACROSS records infers DOUBLE; the
    remaining raw ints must be coerced before createDataFrame (the
    reference's dynamic typing accepts the batch) — including inside
    nested structs and arrays."""
    e = Engine(spark, str(tmp_path / "db"))
    e.sql_dml(
        "INSERT INTO t RECORDS "
        "{id: 1, x: 1, xs: [1, 2], nest: {v: 1}}, "
        "{id: 2, x: 2.5, xs: [3.5], nest: {v: 4.5}}"
    )
    got = by_id(e.db().table("t"))
    assert got[1]["x"] == 1.0 and got[2]["x"] == 2.5
    assert got[1]["xs"] == [1.0, 2.0] and got[2]["xs"] == [3.5]
    assert got[1]["nest"]["v"] == 1.0 and got[2]["nest"]["v"] == 4.5
    schema = {f.name: f.dataType.simpleString()
              for f in e.db().table("t").schema.fields}
    assert schema["x"] == "double"
    assert schema["xs"] == "array<double>"
    # PATCH takes the same path
    e.sql_dml("PATCH INTO t RECORDS {id: 1, y: 7}, {id: 2, y: 7.5}")
    got = by_id(e.db().table("t"))
    assert got[1]["y"] == 7.0 and got[2]["y"] == 7.5


def test_records_shape_mismatch_aborts_cleanly(spark, tmp_path):
    """A key mixing a struct in one record with an array (or scalar)
    in another must abort with the engine's type-mismatch message,
    never an AttributeError from the coercion pass."""
    e = Engine(spark, str(tmp_path / "db"))
    for bad in (
        "{id: 1, nest: {v: 1}}, {id: 2, nest: [1]}",
        "{id: 1, xs: [1, 2]}, {id: 2, xs: {v: 3}}",
    ):
        with pytest.raises((ValueError, TypeError, Exception)) as ei:
            e.sql_dml(f"INSERT INTO t RECORDS {bad}")
        assert not isinstance(ei.value, AttributeError)
    assert "t" not in e._all_tables()


def test_patch_merges_retains_and_widens(eng):
    eng.sql_dml(
        "PATCH INTO accounts RECORDS "
        "{id: 1, balance: 175}, "  # update one key, retain owner
        "{id: 2, tier: 'gold'}, "  # brand-new column
        "{id: 9, owner: 'zoe', balance: 1}",  # absent id -> insert
        tx_time="2024-01-01 00:00:02",
    )
    got = by_id(eng.db().table("accounts"))
    assert got[1]["owner"] == "ada" and got[1]["balance"] == 175.0
    assert got[2]["tier"] == "gold" and got[2]["balance"] == 50.0
    assert got[9]["owner"] == "zoe" and got[9]["balance"] == 1.0
    # rows the patch never touched read NULL for the widened column
    assert got[3]["tier"] is None and got[1]["tier"] is None


def test_patch_explicit_null_vs_absent(eng):
    eng.sql_dml("PATCH INTO accounts RECORDS {id: 1, owner: NULL}")
    got = by_id(eng.db().table("accounts"))
    assert got[1]["owner"] is None  # explicit NULL sets null
    assert got[1]["balance"] == 100.0  # absent key retains


def test_patch_history_preserved(eng):
    pre = eng.db()
    eng.sql_dml(
        "PATCH INTO accounts RECORDS {id: 1, balance: 999}",
        tx_time="2024-01-01 00:00:02",
    )
    assert by_id(pre.table("accounts"))[1]["balance"] == 100.0
    assert by_id(eng.db().table("accounts"))[1]["balance"] == 999.0


def test_patch_refuses_duplicate_and_missing_ids(eng):
    with pytest.raises(ValueError, match="cardinality"):
        eng.sql_dml(
            "PATCH INTO accounts RECORDS {id: 1, balance: 1}, {id: 1, balance: 2}"
        )
    with pytest.raises(ValueError, match="id key"):
        eng.sql_dml("PATCH INTO accounts RECORDS {owner: 'ghost'}")


def test_patch_creates_missing_table(eng):
    eng.sql_dml("PATCH INTO notes RECORDS {id: 1, body: 'hello'}")
    assert by_id(eng.db().table("notes"))[1]["body"] == "hello"


def test_patch_op_programmatic_twin(spark, tmp_path, eng):
    """Engine.submit_tx([Patch(...)]) behaves exactly like the SQL
    spelling, and composes with other ops in one atomic tx."""
    twin = Engine(spark, str(tmp_path / "twin"))
    base = spark.createDataFrame(
        [(1, "ada", 100.0), (2, "bob", 50.0), (3, "eve", 75.0)],
        "id bigint, owner string, balance double",
    )
    twin.submit_tx([Put("accounts", base)], tx_time="2024-01-01 00:00:01")
    twin.submit_tx(
        [
            Patch(
                "accounts",
                (
                    {"id": 1, "balance": 175},
                    {"id": 2, "tier": "gold"},
                    {"id": 9, "owner": "zoe", "balance": 1},
                ),
            )
        ],
        tx_time="2024-01-01 00:00:02",
    )
    eng.sql_dml(
        "PATCH INTO accounts RECORDS {id: 1, balance: 175}, "
        "{id: 2, tier: 'gold'}, {id: 9, owner: 'zoe', balance: 1}",
        tx_time="2024-01-01 00:00:02",
    )
    cols = ["id", "owner", "balance", "tier"]
    assert by_id(twin.db().table("accounts").select(*cols)) == by_id(
        eng.db().table("accounts").select(*cols)
    )


def test_patch_within_tx_order_later_op_wins(eng):
    """A Patch and a later Put on the same id in ONE tx: within-tx
    sequence resolves the winner, exactly as for Put-after-Put."""
    from core2_spark.engine import Patch as P

    spark = eng.spark
    # match the table's literal-derived schema (id is INT there)
    over = spark.createDataFrame([(1, "override", 7.0)],
                                 "id int, owner string, balance double")
    eng.submit_tx(
        [P("accounts", ({"id": 1, "balance": 555},)), Put("accounts", over)],
        tx_time="2024-01-01 00:00:03",
    )
    got = by_id(eng.db().table("accounts"))
    assert got[1]["owner"] == "override" and got[1]["balance"] == 7.0


def test_patch_allnull_new_key_is_noop_and_never_locks_type(eng):
    """A key set to explicit NULL before any value witnessed a type is
    NOT stored (reading it is NULL either way).  Regression: the
    all-NULL first sighting used to infer STRING and permanently
    coerce later numeric patches to text."""
    eng.sql_dml("PATCH INTO accounts RECORDS {id: 1, score: NULL}")
    assert "score" not in eng.db().table("accounts").columns  # no-op
    eng.sql_dml("PATCH INTO accounts RECORDS {id: 1, score: 7}")
    got = by_id(eng.db().table("accounts"))
    assert got[1]["score"] == 7 and isinstance(got[1]["score"], int)
    assert got[2]["score"] is None


def test_nested_record_values_struct_roundtrip(eng):
    """Nested ``{...}`` values store as struct columns; PATCH replaces
    a nested value wholesale (top-level shallow merge, as upstream)."""
    eng.sql_dml(
        "INSERT INTO people RECORDS "
        "{id: 1, addr: {city: 'paris', zip: 75}}, "
        "{id: 2, addr: {city: 'oslo'}}"
    )
    eng.sql_dml(
        "PATCH INTO people RECORDS {id: 2, addr: {city: 'bergen', zip: 5003}}"
    )
    got = by_id(eng.db().table("people"))
    assert got[1]["addr"].asDict() == {"city": "paris", "zip": 75}
    assert got[2]["addr"].asDict() == {"city": "bergen", "zip": 5003}


def test_empty_nested_record_rejected(eng):
    with pytest.raises(ValueError, match="storable type"):
        eng.sql_dml("INSERT INTO people RECORDS {id: 1, doc: {}}")


def test_patch_large_record_list_semi_join_path(spark, tmp_path):
    """>256 ids takes the broadcast-semi-join lookup (a thousands-node
    IN-list expression tree is a Catalyst hazard); semantics identical
    to the pushdown path."""
    from core2_spark.engine import Engine, Patch, Put

    eng = Engine(spark, str(tmp_path / "bigpatch"))
    base = spark.createDataFrame(
        [(i, i * 10) for i in range(400)], "id long, v long"
    )
    eng.submit_tx([Put("t", base)], tx_time="2024-01-01 00:00:01")
    docs = tuple({"id": i, "w": i + 1} for i in range(300))
    eng.submit_tx([Patch("t", docs)], tx_time="2024-01-01 00:00:02")
    rows = {r["id"]: r for r in eng.db().table("t").collect()}
    assert len(rows) == 400
    assert rows[0]["v"] == 0 and rows[0]["w"] == 1
    assert rows[299]["v"] == 2990 and rows[299]["w"] == 300
    assert rows[399]["v"] == 3990 and rows[399]["w"] is None


def test_patch_for_valid_time_portion(eng):
    """Valid-time-bounded patch (the reference's FOR VALID_TIME
    FROM..TO on patch ops): the merged version applies only within the
    portion; the pre-patch state resumes outside it."""
    eng.sql_dml(
        "PATCH INTO accounts FOR VALID_TIME "
        "FROM '2024-06-01' TO '2024-07-01' "
        "RECORDS {id: 1, balance: 0}",
        tx_time="2024-01-02 00:00:00",
    )
    db = eng.db()
    inside = by_id(db.table("accounts", app_time="2024-06-15"))
    outside = by_id(db.table("accounts", app_time="2024-08-01"))
    assert inside[1]["balance"] == 0.0 and inside[1]["owner"] == "ada"
    assert outside[1]["balance"] == 100.0


def test_patch_portion_of_spelling_and_insert_rejected(eng):
    eng.sql_dml(
        "PATCH INTO accounts FOR PORTION OF APPLICATION_TIME "
        "FROM '2024-06-01' TO '2024-07-01' RECORDS {id: 2, balance: 1}",
        tx_time="2024-01-02 00:00:00",
    )
    assert by_id(eng.db().table("accounts", app_time="2024-06-15"))[2][
        "balance"
    ] == 1.0
    with pytest.raises(ValueError, match="PATCH only"):
        eng.sql_dml(
            "INSERT INTO accounts FOR VALID_TIME FROM '2024-06-01' TO "
            "'2024-07-01' RECORDS {id: 8, owner: 'x', balance: 1}"
        )

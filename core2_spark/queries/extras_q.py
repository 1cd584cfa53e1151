"""Remaining operator-surface coverage: recursion (μ fixpoint),
literal relations, correlated `:apply` subqueries through the SQL
frontend, pivot/unpivot, external data sources, the Datalog frontend,
and analytic-window extras.  (SURVEY.md §2.1 :table/:arrow-csv, §2.3
:apply, §2.7 :fixpoint, §2.9, §3.2.)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from core2_spark import datalog
from core2_spark.catalog import load_tables, register_views
from core2_spark.operators.recursion import fixpoint
from core2_spark.queries.registry import query
from core2_spark.queries.util import fround, pround, sql_pround

# scratch outputs of the export/re-read queries, under the repository root
_DATA = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "_data",
)


@query(
    "recursion_fixpoint_ancestors",
    oracle="""
    WITH RECURSIVE parent AS (
        SELECT n_nationkey AS child, n_nationkey // 2 AS par
        FROM nation WHERE n_nationkey >= 1
    ),
    anc AS (
        SELECT child, par AS ancestor FROM parent
        UNION
        SELECT a.child, p.par AS ancestor
        FROM anc a JOIN parent p ON a.ancestor = p.child
    )
    SELECT child, ancestor FROM anc
    """,
)
def recursion_ancestors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """μ fixpoint: transitive ancestor closure over a derived
    parent(child, child/2) relation — semi-naive iteration in Spark,
    checked against DuckDB's WITH RECURSIVE."""
    n = load_tables(spark, sf_dir, ("nation",))["nation"]
    parent = n.filter(F.col("n_nationkey") >= 1).select(
        F.col("n_nationkey").alias("child"),
        F.expr("n_nationkey div 2").alias("par"),
    )
    base = parent.select("child", F.col("par").alias("ancestor"))

    def step(frontier: DataFrame) -> DataFrame:
        return (
            frontier.alias("a")
            .join(parent.alias("p"), F.col("a.ancestor") == F.col("p.child"))
            .select(F.col("a.child").alias("child"), F.col("p.par").alias("ancestor"))
        )

    return fixpoint(base, step, key_cols=["child", "ancestor"])


@query(
    "table_literal_values",
    oracle="""
    SELECT t.tier, COUNT(*) AS n_nations
    FROM nation n
    JOIN (VALUES (0, 'west'), (1, 'east'), (2, 'south'), (3, 'north'), (4, 'central'))
         AS t(rk, tier)
      ON n.n_regionkey = t.rk
    GROUP BY t.tier
    """,
)
def table_literal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`:table` — inline literal relation (SQL VALUES, Datalog :in)
    joined against a scan; always a broadcast."""
    n = load_tables(spark, sf_dir, ("nation",))["nation"]
    tiers = spark.createDataFrame(
        [(0, "west"), (1, "east"), (2, "south"), (3, "north"), (4, "central")],
        "rk int, tier string",
    )
    return (
        n.join(F.broadcast(tiers), F.col("n_regionkey") == F.col("rk"))
        .groupBy("tier")
        .agg(F.count("*").alias("n_nations"))
    )


@query(
    "apply_correlated_scalar",
    oracle="""
    SELECT c_custkey,
           ROUND((SELECT MAX(o.o_totalprice) FROM orders o
                  WHERE o.o_custkey = c.c_custkey), 4) AS max_order
    FROM customer c
    WHERE c_custkey <= 300
    """,
)
def apply_correlated_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery through the SQL frontend — core2's
    `:apply` single-join; Catalyst decorrelates it into the same
    aggregate+join the reference's planner produces [upstream: core2
    `operator/apply.clj`, `sql/plan.clj` decorrelation]."""
    register_views(spark, sf_dir, ("customer", "orders"))
    return spark.sql(
        """
        SELECT c_custkey,
               ROUND((SELECT MAX(o.o_totalprice) FROM orders o
                      WHERE o.o_custkey = c.c_custkey), 4) AS max_order
        FROM customer c
        WHERE c_custkey <= 300
        """
    )


@query(
    "apply_correlated_exists",
    oracle="""
    SELECT c_custkey, c_mktsegment FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT'
                    AND o.o_totalprice > 400000)
    """,
)
def apply_correlated_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS via SQL → decorrelated to a semi join."""
    register_views(spark, sf_dir, ("customer", "orders"))
    return spark.sql(
        """
        SELECT c_custkey, c_mktsegment FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT'
                        AND o.o_totalprice > 400000)
        """
    )


@query(
    "multi_column_in_subquery",
    oracle="""
    -- DuckDB 1.0 lacks row-value IN subqueries; the equivalent EXISTS
    SELECT l.l_orderkey, l.l_linenumber
    FROM lineitem l
    WHERE EXISTS (SELECT 1 FROM supplier s
                  WHERE s.s_suppkey = l.l_suppkey
                    AND l.l_returnflag = 'R'
                    AND s.s_acctbal > 9000)
      AND l.l_orderkey <= 3000
    """,
)
def multi_column_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column IN (row-value constructor) subquery via the SQL
    frontend — decorrelates to a semi join on the composite key."""
    register_views(spark, sf_dir, ("lineitem", "supplier"))
    return spark.sql(
        """
        SELECT l_orderkey, l_linenumber
        FROM lineitem
        WHERE (l_suppkey, l_returnflag) IN
              (SELECT s_suppkey, 'R' FROM supplier WHERE s_acctbal > 9000)
          AND l_orderkey <= 3000
        """
    )


@query(
    "pivot_sum_values",
    oracle="""
    SELECT l_returnflag,
           {o} AS "O",
           {f} AS "F"
    FROM lineitem
    GROUP BY l_returnflag
    """.format(
        o="ROUND(CAST(SUM(CAST(CASE WHEN l_linestatus = 'O' THEN l_quantity END"
          " AS DECIMAL(38,6))) AS DOUBLE) + 0.000000001, 4)",
        f="ROUND(CAST(SUM(CAST(CASE WHEN l_linestatus = 'F' THEN l_quantity END"
          " AS DECIMAL(38,6))) AS DOUBLE) + 0.000000001, 4)",
    ),
)
def pivot_sum_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT with a SUM aggregate (exact-decimal discipline applies
    inside the pivot cells too)."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    return (
        li.withColumn("qty_dec", F.col("l_quantity").cast("decimal(38,6)"))
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .sum("qty_dec")
        .select(
            "l_returnflag",
            F.round(F.col("O").cast("double") + 1e-9, 4).alias("O"),
            F.round(F.col("F").cast("double") + 1e-9, 4).alias("F"),
        )
    )


@query(
    "pivot_status_by_priority",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT — Spark-native extension (core2 has none); explicit value
    list so no extra distinct-scan pass."""
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
        .na.fill(0, ["O", "F", "P"])
    )


@query(
    "unpivot_stack",
    oracle="""
    SELECT c_custkey, 'acctbal' AS metric, ROUND(c_acctbal, 4) AS val
    FROM customer WHERE c_custkey <= 100
    UNION ALL
    SELECT c_custkey, 'nationkey' AS metric, CAST(c_nationkey AS DOUBLE) AS val
    FROM customer WHERE c_custkey <= 100
    """,
)
def unpivot_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT via stack() — wide→long."""
    c = load_tables(spark, sf_dir, ("customer",))["customer"]
    return (
        c.filter(F.col("c_custkey") <= 100)
        .select(
            "c_custkey",
            F.expr(
                "stack(2, 'acctbal', ROUND(c_acctbal, 4),"
                " 'nationkey', CAST(c_nationkey AS DOUBLE)) AS (metric, val)"
            ),
        )
    )


@query(
    "external_csv_source",
    oracle="""
    SELECT n.n_name, r.r_name, LENGTH(n.n_name) AS name_len
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name IN ('ASIA', 'EUROPE')
    """,
)
def external_csv_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`:arrow`/`:csv` external-data operator [upstream: core2
    `operator/external_data.clj`]: export a deterministic CSV, then
    query over the CSV reader with an explicit schema (no inference in
    the plan).  The oracle derives the same rows from the base tables,
    proving the round-trip is lossless."""
    t = load_tables(spark, sf_dir, ("nation", "region"))
    out_dir = os.path.join(_DATA, "external_csv")
    joined = (
        t["nation"]
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name").isin("ASIA", "EUROPE"))
        .select("n_name", "r_name")
    )
    joined.coalesce(1).write.mode("overwrite").option("header", True).csv(out_dir)
    csv = spark.read.schema("n_name string, r_name string").option("header", True).csv(
        out_dir
    )
    return csv.select(
        "n_name", "r_name", F.length("n_name").cast("bigint").alias("name_len")
    )


@query(
    "external_json_source",
    oracle="""
    SELECT r_regionkey, r_name FROM region
    """,
)
def external_json_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON external source round-trip with explicit schema."""
    t = load_tables(spark, sf_dir, ("region",))
    out_dir = os.path.join(_DATA, "external_json")
    t["region"].coalesce(1).write.mode("overwrite").json(out_dir)
    return spark.read.schema("r_regionkey int, r_name string").json(out_dir).select(
        "r_regionkey", "r_name"
    )


@query(
    "external_orc_source",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey, ROUND(s_acctbal, 4) AS acctbal
    FROM supplier WHERE s_acctbal > 5000
    """,
)
def external_orc_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC external source round-trip — the third columnar on-disk
    format Spark reads natively (after Parquet and Arrow IPC).  Unlike
    the CSV/JSON reference-data paths this is a SCALE format: ORC
    carries stripe-level min/max statistics, so the `s_acctbal > 5000`
    filter is pushed into the scan (PushedFilters in the plan) and
    prunes stripes exactly like Parquet row groups — a valid 100 TB
    ingest format, not just an exchange format."""
    t = load_tables(spark, sf_dir, ("supplier",))
    out_dir = os.path.join(_DATA, "external_orc")
    t["supplier"].write.mode("overwrite").orc(out_dir)
    return (
        spark.read.orc(out_dir)
        .filter(F.col("s_acctbal") > 5000)
        .select(
            "s_suppkey",
            "s_name",
            "s_nationkey",
            F.round("s_acctbal", 4).alias("acctbal"),
        )
    )


@query(
    "datalog_join_filter",
    oracle="""
    SELECT c.c_name AS name, ROUND(o.o_totalprice, 4) AS price
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    WHERE o.o_totalprice > 480000 AND c.c_mktsegment = 'BUILDING'
    """,
)
def datalog_join_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datalog frontend (§3.2): shared logic variables become equi
    joins, predicates become filters — same algebra, different syntax."""
    res = datalog.q(
        spark,
        sf_dir,
        {
            "find": ["?name", "?price"],
            "where": [
                ("customer", {"c_custkey": "?cust", "c_name": "?name",
                              "c_mktsegment": "BUILDING"}),
                ("orders", {"o_custkey": "?cust", "o_totalprice": "?price"}),
                (">", "?price", 480000),
            ],
        },
    )
    return res.select("name", fround("price").alias("price"))


@query(
    "datalog_aggregate",
    oracle="""
    SELECT n.n_name AS nation, COUNT(DISTINCT c.c_custkey) AS n_customers,
           ROUND(MAX(c.c_acctbal), 4) AS max_bal
    FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def datalog_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datalog find-aggregates → groupBy."""
    res = datalog.q(
        spark,
        sf_dir,
        {
            "find": [
                "?nation",
                ("count-distinct", "?cust", "n_customers"),
                ("max", "?bal", "max_bal"),
            ],
            "where": [
                ("nation", {"n_nationkey": "?nk", "n_name": "?nation"}),
                ("customer", {"c_nationkey": "?nk", "c_custkey": "?cust",
                              "c_acctbal": "?bal"}),
            ],
        },
    )
    return res.select("nation", "n_customers", fround("max_bal").alias("max_bal"))


@query(
    "asof_join_enrichment",
    oracle="""
    WITH e AS (
        SELECT event_id, user_id, date_trunc('second', ts) AS ts FROM events
    ),
    err AS (
        SELECT user_id, date_trunc('second', ts) AS ts, MAX(event_id) AS last_error_id
        FROM events WHERE event_type = 'error'
        GROUP BY 1, 2
    )
    SELECT e.event_id, e.user_id, err.last_error_id
    FROM e ASOF LEFT JOIN err
      ON e.user_id = err.user_id AND e.ts >= err.ts
    """,
)
def asof_join_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event enriched with the user's most recent
    error event at or before it — union+window implementation checked
    against DuckDB's native ASOF JOIN."""
    from core2_spark.operators.asof_join import asof_join

    e = load_tables(spark, sf_dir, ("events",))["events"]
    sec = F.date_trunc("second", F.col("ts"))
    left = e.select("event_id", "user_id", sec.alias("ts"))
    errors = (
        e.filter(F.col("event_type") == "error")
        .groupBy("user_id", sec.alias("ts"))
        .agg(F.max("event_id").alias("last_error_id"))
    )
    return asof_join(
        left, errors, ts_col="ts", by_cols=["user_id"], value_cols=["last_error_id"]
    ).select("event_id", "user_id", "last_error_id")


@query(
    "grouped_map_pandas",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(ROW_NUMBER() OVER
             (PARTITION BY o_custkey
              ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS price_rank
    FROM orders
    WHERE o_custkey <= 80
    """,
)
def grouped_map_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map UDF surface (§2.11): applyInPandas gets each
    customer's orders as a pandas frame and ranks them — checked
    exactly against the equivalent SQL window (integer output, so no
    float-parity concerns crossing the Arrow boundary)."""
    import pandas as pd

    o = load_tables(spark, sf_dir, ("orders",))["orders"]

    def rank_orders(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["o_totalprice", "o_orderkey"], ascending=[False, True]
        ).reset_index(drop=True)
        pdf["price_rank"] = pdf.index + 1
        return pdf[["o_custkey", "o_orderkey", "price_rank"]]

    return (
        o.filter(F.col("o_custkey") <= 80)
        .groupBy("o_custkey")
        .applyInPandas(rank_orders, "o_custkey long, o_orderkey long, price_rank long")
    )


@query(
    "datalog_not_exists",
    oracle="""
    SELECT c.c_custkey AS cust, c.c_acctbal AS bal
    FROM customer c
    WHERE c.c_acctbal > 9500
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderstatus = 'P')
    """,
)
def datalog_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datalog negation: core2's `not-exists?` compiles to `:anti-join`
    [upstream: core2 `datalog.clj`] — here a left_anti on the shared
    logic variable."""
    return datalog.q(
        spark,
        sf_dir,
        {
            "find": ["?cust", "?bal"],
            "where": [
                ("customer", {"c_custkey": "?cust", "c_acctbal": "?bal"}),
                (">", "?bal", 9500),
                ("not-exists", ("orders", {"o_custkey": "?cust", "o_orderstatus": "P"})),
            ],
        },
    ).select(F.col("cust"), F.col("bal"))


@query(
    "datalog_two_hop_graph",
    oracle="""
    WITH edges AS (
        SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE l.l_partkey <= 40
    )
    SELECT a.cust AS a_cust, b.cust AS b_cust, COUNT(*) AS shared_parts
    FROM edges a JOIN edges b ON a.part = b.part AND a.cust < b.cust
    GROUP BY a.cust, b.cust
    HAVING COUNT(*) >= 2
    """,
)
def datalog_two_hop_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-shaped 2-hop pattern (reference README.adoc:15 — Datalog
    gives graph-ish querying): co-purchase pairs via shared parts.
    Pattern → scans + equi-joins on the shared variable, same algebra."""
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    edges = (
        t["orders"]
        .join(
            t["lineitem"].filter(F.col("l_partkey") <= 40),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
        .distinct()
    )
    a = edges.select(F.col("cust").alias("a_cust"), "part")
    b = edges.select(F.col("cust").alias("b_cust"), F.col("part").alias("b_part"))
    return (
        a.join(b, (F.col("part") == F.col("b_part")) & (F.col("a_cust") < F.col("b_cust")))
        .groupBy("a_cust", "b_cust")
        .agg(F.count("*").alias("shared_parts"))
        .filter(F.col("shared_parts") >= 2)
    )


@query(
    "window_distribution",
    oracle="""
    SELECT c_custkey,
           {pr} AS pct_rank,
           {cd} AS cume
    FROM customer
    WHERE c_custkey <= 400
    """.format(
        pr=sql_pround(
            "PERCENT_RANK() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)",
            6,
        ),
        cd=sql_pround(
            "CUME_DIST() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)",
            6,
        ),
    ),
)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist distribution windows."""
    c = load_tables(spark, sf_dir, ("customer",))["customer"]
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.filter(F.col("c_custkey") <= 400).select(
        "c_custkey",
        pround(F.percent_rank().over(w), 6).alias("pct_rank"),
        pround(F.cume_dist().over(w), 6).alias("cume"),
    )


@query(
    "string_regex_functions",
    oracle="""
    SELECT c_custkey,
           regexp_matches(c_name, '#0*1[0-9]$')                 AS like_regex,
           regexp_extract(c_name, '([0-9]+)$', 1)               AS trailing_digits,
           concat(substr(c_name, 1, 2), 'XX', substr(c_name, 5)) AS overlaid
    FROM customer
    WHERE c_custkey <= 250
    """,
)
def string_regex_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE_REGEX / regexp extraction / OVERLAY (§2.8 string family)."""
    c = load_tables(spark, sf_dir, ("customer",))["customer"]
    return c.filter(F.col("c_custkey") <= 250).select(
        "c_custkey",
        F.col("c_name").rlike("#0*1[0-9]$").alias("like_regex"),
        F.regexp_extract("c_name", "([0-9]+)$", 1).alias("trailing_digits"),
        F.overlay(F.col("c_name"), F.lit("XX"), 3, 2).alias("overlaid"),
    )


@query(
    "datalog_in_bindings",
    oracle="""
    SELECT c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT) AS n
    FROM customer
    WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
      AND c_acctbal > 1000.0
    GROUP BY c_mktsegment
    ORDER BY seg
    """,
)
def datalog_in_bindings_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """core2 `:in` bindings: a scalar arg filters its variable, a
    collection arg becomes an inline relation joined on the variable
    (relational membership, broadcast)."""
    from core2_spark import datalog as dl

    return dl.q(
        spark,
        sf_dir,
        {
            "find": ["?seg", ("count", "?cust", "n")],
            "where": [
                (
                    "customer",
                    {
                        "c_custkey": "?cust",
                        "c_mktsegment": "?seg",
                        "c_acctbal": "?bal",
                    },
                ),
                (">", "?bal", "?minbal"),
            ],
            "in": ["?minbal", "?seg"],
        },
        args=[1000.0, ["BUILDING", "MACHINERY"]],
    ).orderBy("seg")


@query(
    "datalog_rules_union",
    oracle="""
    SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_partners
    FROM (
        SELECT c_nationkey AS nkey FROM customer WHERE c_acctbal > 4500.0
        UNION
        SELECT s_nationkey AS nkey FROM supplier WHERE s_acctbal > 4500.0
    ) p
    JOIN nation ON n_nationkey = p.nkey
    GROUP BY n_name
    ORDER BY n_name
    """,
)
def datalog_rules_union_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """core2 `:rules`, multi-body: two definitions of one rule union
    (customers and suppliers above a balance), invoked from `where`
    and joined against nation.

    The UNION dedups on nkey alone — the rule head is the single-var
    relation, matching Datalog set semantics.
    """
    from core2_spark import datalog as dl

    return dl.q(
        spark,
        sf_dir,
        {
            "find": ["?name", ("count", "?nkey", "n_partners")],
            "where": [
                ("rich_partner_nation", "?nkey"),
                ("nation", {"n_nationkey": "?nkey", "n_name": "?name"}),
            ],
            "rules": [
                (
                    "rich_partner_nation",
                    ["?nkey"],
                    [
                        ("customer", {"c_nationkey": "?nkey", "c_acctbal": "?b"}),
                        (">", "?b", 4500.0),
                    ],
                ),
                (
                    "rich_partner_nation",
                    ["?nkey"],
                    [
                        ("supplier", {"s_nationkey": "?nkey", "s_acctbal": "?b"}),
                        (">", "?b", 4500.0),
                    ],
                ),
            ],
        },
    ).orderBy("name").withColumnRenamed("name", "n_name")


@query(
    "datalog_rules_recursive",
    oracle="""
    WITH RECURSIVE anc AS (
        SELECT n_nationkey AS child, n_nationkey // 2 AS ancestor
        FROM nation WHERE n_nationkey >= 1
        UNION
        SELECT a.child, p.n_nationkey // 2 AS ancestor
        FROM anc a JOIN nation p ON a.ancestor = p.n_nationkey
        WHERE p.n_nationkey >= 1
    )
    SELECT child, ancestor FROM anc
    """,
)
def datalog_rules_recursive_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """core2 recursive `:rules`: ancestor closure over the derived
    parent(n, n div 2) relation, written as a base body + a
    self-invoking body with a `bind` function expression — compiled to
    the same semi-naive fixpoint as `recursion_fixpoint_ancestors`."""
    from core2_spark import datalog as dl

    return dl.q(
        spark,
        sf_dir,
        {
            "find": ["?c", "?a"],
            "where": [("anc", "?c", "?a")],
            "rules": [
                (
                    "anc",
                    ["?c", "?a"],
                    [
                        ("nation", {"n_nationkey": "?c"}),
                        (">=", "?c", 1),
                        ("bind", "?a", ("div", "?c", 2)),
                    ],
                ),
                (
                    "anc",
                    ["?c", "?a"],
                    [
                        ("anc", "?c", "?m"),
                        ("nation", {"n_nationkey": "?m"}),
                        (">=", "?m", 1),
                        ("bind", "?a", ("div", "?m", 2)),
                    ],
                ),
            ],
        },
    ).select(F.col("c").alias("child"), F.col("a").alias("ancestor"))


@query(
    "xtql_pipeline_aggregate",
    oracle="""
    SELECT o_custkey % 10 AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
                 + 0.000000001, 4) AS total
    FROM orders
    WHERE o_orderstatus = 'F' AND o_totalprice > 1000.0
    GROUP BY bucket
    ORDER BY total DESC, bucket
    LIMIT 5
    """,
)
def xtql_pipeline_aggregate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XTQL pipeline frontend (the reference's successor query
    language, README.adoc:13-15): from-with-binds (equality match
    pushed into the scan) → where → with → aggregate → order-by →
    limit → return, compiled op-by-op to DataFrame algebra; the
    ordered limit fuses to TakeOrderedAndProject."""
    from core2_spark import xtql

    return xtql.q(
        spark,
        sf_dir,
        [
            {
                "from": "orders",
                "bind": [
                    "o_custkey",
                    "o_totalprice",
                    {"o_orderstatus": {"=": "F"}},
                ],
            },
            {"where": [[">", "o_totalprice", 1000.0]]},
            {
                "with": {
                    "bucket": ["%", "o_custkey", 10],
                    # exact DECIMAL sum for cross-engine float parity
                    # (the dsum discipline from queries/util.py)
                    "dec_price": ["cast", "o_totalprice", "decimal(38,6)"],
                }
            },
            {
                "aggregate": {"n": ["count"], "dec_total": ["sum", "dec_price"]},
                "group": ["bucket"],
            },
            {
                "with": {
                    "total": [
                        "round",
                        ["+", ["cast", "dec_total", "double"],
                         0.000000001],
                        4,
                    ]
                }
            },
            {"order-by": [["total", "desc"], "bucket"]},
            {"limit": 5},
            {"return": ["bucket", "n", "total"]},
        ],
    )


@query(
    "xtql_join_unnest",
    oracle="""
    SELECT n.n_name AS nation, CAST(COUNT(*) AS BIGINT) AS n_cust
    FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE c.c_acctbal > 0
    GROUP BY nation ORDER BY n_cust DESC, nation LIMIT 10
    """,
)
def xtql_join_unnest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XTQL join: a pipeline joining a second from-op on column pairs
    (Catalyst broadcasts the small side), then aggregate/order/limit."""
    from core2_spark import xtql

    return xtql.q(
        spark,
        sf_dir,
        [
            {"from": "customer", "bind": ["c_nationkey", "c_acctbal"]},
            {"where": [[">", "c_acctbal", 0]]},
            {
                "join": {
                    "from": "nation",
                    "bind": ["n_nationkey", {"n_name": "nation"}],
                },
                "on": [["c_nationkey", "n_nationkey"]],
            },
            {"aggregate": {"n_cust": ["count"]}, "group": ["nation"]},
            {"order-by": [["n_cust", "desc"], "nation"]},
            {"limit": 10},
            {"return": ["nation", "n_cust"]},
        ],
    )


@query(
    "datalog_order_limit",
    oracle="""
    SELECT c_custkey AS cust, c_acctbal AS bal
    FROM customer
    ORDER BY bal DESC, cust
    LIMIT 5 OFFSET 2
    """,
)
def datalog_order_limit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """core2 `:order-by`/`:limit`/`:offset` result modifiers on the
    Datalog surface — the ordered+limited result compiles to
    TakeOrderedAndProject (top-k, no global sort; plan-pinned in
    tests/test_library.py)."""
    from core2_spark import datalog as dl

    return dl.q(
        spark,
        sf_dir,
        {
            "find": ["?cust", "?bal"],
            "where": [
                ("customer", {"c_custkey": "?cust", "c_acctbal": "?bal"})
            ],
            "order-by": [("?bal", "desc"), "?cust"],
            "limit": 5,
            "offset": 2,
        },
    )


@query(
    "datalog_rules_mutual",
    oracle="""
    WITH RECURSIVE par AS (
        SELECT n_nationkey AS c, n_nationkey // 2 AS p
        FROM nation WHERE n_nationkey >= 1
    ),
    reach(c, a, d) AS (
        SELECT c, p, 1 FROM par
        UNION ALL
        SELECT r.c, pp.p, r.d + 1 FROM reach r JOIN par pp ON pp.c = r.a
    )
    SELECT DISTINCT c AS child, a AS ancestor
    FROM reach WHERE d % 2 = 1
    ORDER BY child, ancestor
    """,
)
def datalog_rules_mutual_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MUTUALLY recursive `:rules` (core2 lets rule bodies invoke each
    other freely): odd/even-distance ancestors over the derived
    parent(n, n div 2) relation — `odd` references `even` and vice
    versa, so the reference graph is one strongly-connected component
    evaluated as a joint monotone fixpoint (datalog.py `_eval_rules`
    SCC path; `even` has NO base body and is derived entirely from
    `odd`).  The oracle replays odd depths with WITH RECURSIVE."""
    from core2_spark import datalog as dl

    step = lambda src, dst: [  # noqa: E731  body: one parent hop
        (src, "?c", "?m"),
        ("nation", {"n_nationkey": "?m"}),
        (">=", "?m", 1),
        ("bind", dst, ("div", "?m", 2)),
    ]
    return dl.q(
        spark,
        sf_dir,
        {
            "find": ["?c", "?a"],
            "where": [("odd", "?c", "?a")],
            "rules": [
                (
                    "odd",
                    ["?c", "?a"],
                    [
                        ("nation", {"n_nationkey": "?c"}),
                        (">=", "?c", 1),
                        ("bind", "?a", ("div", "?c", 2)),
                    ],
                ),
                ("odd", ["?c", "?a"], step("even", "?a")),
                ("even", ["?c", "?a"], step("odd", "?a")),
            ],
        },
    ).select(
        F.col("c").alias("child"), F.col("a").alias("ancestor")
    ).orderBy("child", "ancestor")


@query(
    "external_arrow_source",
    oracle="""
    SELECT r.r_name, CAST(COUNT(*) AS BIGINT) AS n_nations
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    ORDER BY r_name
    """,
)
def external_arrow_source_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.1 `:arrow` external data (SQL ARROW_TABLE): the region
    table round-trips through an Arrow IPC file and is queried like any
    relation — the oracle reads the same rows from parquet, so the
    comparison proves IPC fidelity end-to-end."""
    import pyarrow as pa
    import pyarrow.feather

    from core2_spark.catalog import load_tables
    from core2_spark.sources import read_arrow_ipc

    region = load_tables(spark, sf_dir, ("region", "nation"))["region"]
    out_dir = os.path.join(_DATA, "arrow_ipc")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "region.arrow")
    pa.feather.write_feather(
        pa.Table.from_pandas(region.toPandas()), path, compression="uncompressed"
    )
    arrow_region = read_arrow_ipc(spark, path)
    nation = load_tables(spark, sf_dir, ("nation",))["nation"]
    return (
        nation.join(
            F.broadcast(arrow_region),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("r_name")
        .agg(F.count("*").alias("n_nations"))
        .orderBy("r_name")
    )


@query(
    "skew_salted_hot_key_agg",
    oracle="""
    SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE)
                 + 0.000000001, 4) AS sum_qty
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def skew_salted_hot_key_agg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew handling (SURVEY scale rules): 3 hot grouping keys spread
    over 8 salt buckets — partial (key, salt) aggregate then final per
    key.  Identical result to the plain GROUP BY oracle; the payoff is
    plan shape under pathological skew, where one hot key would
    otherwise pin a single reducer."""
    from core2_spark.catalog import load_tables

    t = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    salt = F.pmod(F.hash("l_orderkey", "l_linenumber"), F.lit(8))
    partial = (
        t.withColumn("_salt", salt)
        .groupBy("l_returnflag", "_salt")
        .agg(
            F.count("*").alias("_n"),
            F.sum(F.col("l_quantity").cast("decimal(38,6)")).alias("_q"),
        )
    )
    return (
        partial.groupBy("l_returnflag")
        .agg(
            F.sum("_n").alias("n"),
            F.round(F.sum("_q").cast("double") + 1e-9, 4).alias("sum_qty"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "dynamic_variant_union_legs",
    oracle="""
    WITH docs AS (
        SELECT o_orderkey AS id, o_totalprice AS val_f64, NULL AS val_str
        FROM orders WHERE o_orderkey % 3 = 0
        UNION ALL
        SELECT o_orderkey AS id, NULL AS val_f64, o_orderpriority AS val_str
        FROM orders WHERE o_orderkey % 3 = 1
    )
    SELECT
        CASE WHEN val_f64 IS NOT NULL THEN 'f64' ELSE 'str' END AS leg,
        CAST(COUNT(*) AS BIGINT) AS n_rows,
        ROUND(CAST(SUM(CAST(COALESCE(val_f64, 0) AS DECIMAL(38,6)))
              AS DOUBLE) + 0.000000001, 4) AS sum_f64,
        COALESCE(MAX(val_str), '') AS max_str
    FROM docs
    GROUP BY 1
    ORDER BY leg
    """,
)
def dynamic_variant_union_legs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §1.2 dense-union columns, oracle-checked end-to-end: two
    document batches disagree on `val`'s type (double vs string — not
    promotable), so `dynamics.normalize_frames` routes them into the
    variant struct (one nullable leg per type, exactly one non-null);
    the query then dispatches per leg like core2's union-leg access."""
    from core2_spark.catalog import load_tables
    from core2_spark.dynamics import normalize_frames, variant_leg

    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    batch_f64 = o.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("id"), F.col("o_totalprice").alias("val")
    )
    batch_str = o.filter(F.col("o_orderkey") % 3 == 1).select(
        F.col("o_orderkey").alias("id"), F.col("o_orderpriority").alias("val")
    )
    docs = normalize_frames([batch_f64, batch_str])
    return (
        docs.select(
            F.when(variant_leg("val", "f64").isNotNull(), "f64")
            .otherwise("str")
            .alias("leg"),
            variant_leg("val", "f64").alias("v_f64"),
            variant_leg("val", "str").alias("v_str"),
        )
        .groupBy("leg")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(
                F.sum(F.coalesce(F.col("v_f64"), F.lit(0.0)).cast("decimal(38,6)"))
                .cast("double")
                + 1e-9,
                4,
            ).alias("sum_f64"),
            F.coalesce(F.max("v_str"), F.lit("")).alias("max_str"),
        )
        .orderBy("leg")
    )


@query(
    "asof_join_forward_tolerance",
    oracle="""
    WITH clicks AS (
        SELECT event_id, user_id, date_trunc('second', ts) AS ts
        FROM events WHERE event_type = 'click'
    ),
    buys AS (
        SELECT user_id, date_trunc('second', ts) AS ts,
               MAX(event_id) AS purchase_id
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1, 2
    )
    SELECT c.event_id, c.user_id, c.ts AS ts,
           CASE WHEN b.ts <= c.ts + INTERVAL 1 HOUR
                THEN b.purchase_id END AS purchase_id
    FROM clicks c ASOF LEFT JOIN buys b
      ON c.user_id = b.user_id AND c.ts <= b.ts
    """,
)
def asof_join_forward_tolerance_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of with tolerance (click→next-purchase attribution
    within 1 hour) — the direction/tolerance extension of asof_join,
    checked against DuckDB's forward ASOF JOIN + tolerance CASE."""
    from core2_spark.operators.asof_join import asof_join

    e = load_tables(spark, sf_dir, ("events",))["events"]
    sec = F.date_trunc("second", F.col("ts"))
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", sec.alias("ts")
    )
    buys = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", sec.alias("ts"))
        .agg(F.max("event_id").alias("purchase_id"))
    )
    return asof_join(
        clicks,
        buys,
        "ts",
        ["user_id"],
        ["purchase_id"],
        direction="forward",
        tolerance=F.expr("INTERVAL 1 HOUR"),
    )


@query(
    "datalog_pull_nested",
    oracle="""
    SELECT c.c_custkey AS cust, c.c_name AS name,
           c.c_mktsegment AS mktsegment,
           COALESCE(o.n, 0) AS n_orders, COALESCE(o.s, '') AS orders_str
    FROM customer c LEFT JOIN (
        SELECT o_custkey, COUNT(*) AS n,
               string_agg(o_orderkey || ':' ||
                          CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR),
                          '|' ORDER BY o_orderkey) AS s
        FROM orders GROUP BY o_custkey
    ) o ON o.o_custkey = c.c_custkey
    WHERE c.c_nationkey = 3
    ORDER BY cust
    """,
)
def datalog_pull_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datalog ``pull`` (SURVEY §3.2; core2's EDN-Datalog document
    projection, reference README.adoc:15): nation-3 customers pulled
    as nested documents — scalar attrs plus a sorted array<struct> of
    their orders, built by one groupBy+collect_list and an equi-join
    (never a per-entity subquery).  The nested doc is then flattened
    to a canonical string so DuckDB can hash-verify the full nested
    CONTENT (member order included); FLOOR not ROUND on the price so
    both engines stringify bit-identical integers."""
    from core2_spark.datalog import q as datalog_q

    res = datalog_q(
        spark,
        sf_dir,
        {
            "find": [
                "?cust",
                (
                    "pull",
                    "?cust",
                    {
                        "from": "customer",
                        "id": "c_custkey",
                        "attrs": ["c_name", "c_mktsegment"],
                        "rels": [
                            {
                                "table": "orders",
                                "fk": "o_custkey",
                                "attrs": ["o_orderkey", "o_totalprice"],
                                "order": "o_orderkey",
                                "as": "orders",
                            }
                        ],
                        "as": "doc",
                    },
                ),
            ],
            "where": [
                ("customer", {"c_custkey": "?cust", "c_nationkey": "?nat"}),
                ("=", "?nat", 3),
            ],
        },
    )
    entry = lambda o: F.concat(  # noqa: E731
        o["o_orderkey"].cast("string"),
        F.lit(":"),
        F.floor(o["o_totalprice"]).cast("bigint").cast("string"),
    )
    return res.select(
        F.col("cust"),
        F.col("doc.c_name").alias("name"),
        F.col("doc.c_mktsegment").alias("mktsegment"),
        F.size("doc.orders").cast("long").alias("n_orders"),
        F.concat_ws("|", F.transform("doc.orders", entry)).alias("orders_str"),
    ).orderBy("cust")


@query(
    "sql_nest_many_nest_one",
    oracle="""
    SELECT c.c_custkey AS cust,
           n.n_name AS nation_name,
           COALESCE(o.n, 0) AS n_orders,
           COALESCE(o.s, '') AS orders_str
    FROM customer c
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    LEFT JOIN (
        SELECT o_custkey, COUNT(*) AS n,
               string_agg(o_orderkey || ':' || o_orderstatus,
                          '|' ORDER BY o_orderkey) AS s
        FROM orders GROUP BY o_custkey
    ) o ON o.o_custkey = c.c_custkey
    WHERE c.c_nationkey = 3
    ORDER BY cust
    """,
)
def sql_nest_many_nest_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEST_MANY / NEST_ONE nested-result subqueries on the SQL
    surface (the reference's XTDB-v2 SQL spelling of the datalog pull,
    README.adoc:13-15): each nation-3 customer carries its nation as a
    NEST_ONE struct and its orders as a NEST_MANY array<struct>.  The
    dialect compiles both to correlated aggregated scalar subqueries
    that Catalyst decorrelates into joins (no per-row subquery), and
    the nested content is flattened to a canonical string so DuckDB
    hash-verifies it (members AND order: sort_array ascending on
    o_orderkey equals the oracle's ORDER BY — the key is unique)."""
    from core2_spark.sql_dialect import rewrite_nest_subqueries

    register_views(spark, sf_dir, ("customer", "orders", "nation"))
    nested = rewrite_nest_subqueries(
        """
        SELECT c.c_custkey AS cust,
               NEST_ONE(SELECT n.n_name AS nname FROM nation n
                        WHERE n.n_nationkey = c.c_nationkey) AS nat,
               NEST_MANY(SELECT o.o_orderkey AS okey,
                                o.o_orderstatus AS status
                         FROM orders o
                         WHERE o.o_custkey = c.c_custkey) AS orders
        FROM customer c WHERE c.c_nationkey = 3
        """
    )
    return spark.sql(
        f"""
        SELECT cust, nat.nname AS nation_name,
               CAST(size(orders) AS BIGINT) AS n_orders,
               concat_ws('|', transform(orders,
                   e -> concat(CAST(e.okey AS STRING), ':', e.status)))
                   AS orders_str
        FROM ({nested})
        ORDER BY cust
        """
    )


# -- round 8: XTQL depth — temporal binds, exists/not-exists, pull ----
#
# The XTDB-v2 pipeline language's temporal surface (per-from
# for-valid-time / for-system-time, reference README.adoc:11,13-15)
# and its subquery forms, compiled by core2_spark/xtql.py onto the
# same audited DataFrame algebra as the SQL dialect.


def _xtql_versions_resolver(spark: SparkSession, sf_dir: str):
    """Resolver exposing the catalog tables plus the deterministic
    bitemporal order-versions relation both engines can replay (same
    derivation as queries/temporal_q.py, so the DuckDB oracle checks
    the full visibility semantics)."""
    from core2_spark.catalog import load_table
    from core2_spark.queries.temporal_q import _versions

    def resolve(name: str) -> DataFrame:
        if name == "order_versions":
            return _versions(spark, sf_dir)
        return load_table(spark, sf_dir, name)

    return resolve


@query(
    "xtql_temporal_asof",
    oracle="""
    WITH raw_versions AS (
        SELECT o_orderkey AS id, o_orderstatus,
               o_totalprice                    AS price,
               o_orderdate                     AS system_time_start,
               o_orderdate                     AS app_time_start,
               o_orderdate + INTERVAL 30 DAY  AS app_time_end
        FROM orders
        UNION ALL
        SELECT o_orderkey AS id, o_orderstatus,
               o_totalprice * 0.9             AS price,
               o_orderdate + INTERVAL 5 DAY   AS system_time_start,
               o_orderdate                    AS app_time_start,
               o_orderdate + INTERVAL 30 DAY  AS app_time_end
        FROM orders WHERE o_orderstatus = 'O'
    ),
    versions AS (
        SELECT *,
               COALESCE(LEAD(system_time_start) OVER
                          (PARTITION BY id ORDER BY system_time_start),
                        TIMESTAMP '9999-12-31 00:00:00') AS system_time_end
        FROM raw_versions
    )
    SELECT id, ROUND(price, 4) AS price,
           CAST(app_time_start AS DATE) AS valid_from
    FROM versions
    WHERE system_time_start <= TIMESTAMP '1999-06-01'
      AND TIMESTAMP '1999-06-01' < system_time_end
      AND app_time_start <= TIMESTAMP '1999-06-15'
      AND TIMESTAMP '1999-06-15' < app_time_end
    """,
)
def xtql_temporal_asof_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XTQL per-from temporal binds (XTDB v2's `(at t)` options on
    `from`): both axes pinned at one basis — the pipeline spelling of
    FOR SYSTEM_TIME AS OF / FOR VALID_TIME AS OF, compiled to the same
    pushed-down period predicates as the SQL dialect."""
    from core2_spark.xtql import xtql_with_resolver

    return xtql_with_resolver(
        _xtql_versions_resolver(spark, sf_dir),
        [
            {
                "from": "order_versions",
                "for-system-time": ["at", "1999-06-01"],
                "for-valid-time": ["at", "1999-06-15"],
                "bind": ["id", "price", "app_time_start"],
            },
            {"with": {"price_r": ["round", "price", 4],
                      "valid_from": ["cast", "app_time_start", "date"]}},
            {"return": ["id", {"price_r": "price"}, "valid_from"]},
        ],
    )


@query(
    "xtql_temporal_between",
    oracle="""
    WITH raw_versions AS (
        SELECT o_orderkey AS id,
               o_totalprice                    AS price,
               o_orderdate                     AS system_time_start,
               o_orderdate                     AS app_time_start,
               o_orderdate + INTERVAL 30 DAY  AS app_time_end
        FROM orders
        UNION ALL
        SELECT o_orderkey AS id,
               o_totalprice * 0.9             AS price,
               o_orderdate + INTERVAL 5 DAY   AS system_time_start,
               o_orderdate                    AS app_time_start,
               o_orderdate + INTERVAL 30 DAY  AS app_time_end
        FROM orders WHERE o_orderstatus = 'O'
    )
    SELECT id, ROUND(price, 4) AS price,
           CAST(app_time_start AS DATE) AS valid_from
    FROM raw_versions
    WHERE app_time_start < TIMESTAMP '1999-08-01'
      AND app_time_end   > TIMESTAMP '1999-07-01'
    """,
)
def xtql_temporal_between_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XTQL `(from lo to hi)` valid-time bind + `:all-time` system
    bind: all versions whose validity overlaps the window, across the
    whole known history."""
    from core2_spark.xtql import xtql_with_resolver

    return xtql_with_resolver(
        _xtql_versions_resolver(spark, sf_dir),
        [
            {
                "from": "order_versions",
                "for-system-time": "all-time",
                "for-valid-time": ["from", "1999-07-01", "to", "1999-08-01"],
                "bind": ["id", "price", "app_time_start"],
            },
            {"with": {"price_r": ["round", "price", 4],
                      "valid_from": ["cast", "app_time_start", "date"]}},
            {"return": ["id", {"price_r": "price"}, "valid_from"]},
        ],
    )


@query(
    "xtql_where_exists",
    oracle="""
    SELECT c_custkey AS cust, c_acctbal AS bal
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 200000.0)
    ORDER BY cust
    """,
)
def xtql_where_exists_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XTQL `exists?` subquery in `where` (a correlated sub-pipeline +
    correlation column pairs) — compiles to ONE left_semi hash join,
    never a per-row subquery (plan-pinned in tests/test_xtql.py)."""
    from core2_spark import xtql

    return xtql.q(
        spark,
        sf_dir,
        [
            {"from": "customer", "bind": ["c_custkey", "c_acctbal"]},
            {"where": [[
                "exists",
                [
                    {"from": "orders", "bind": ["o_custkey", "o_totalprice"]},
                    {"where": [[">", "o_totalprice", 200000.0]]},
                ],
                [["c_custkey", "o_custkey"]],
            ]]},
            {"order-by": ["c_custkey"]},
            {"return": [{"c_custkey": "cust"}, {"c_acctbal": "bal"}]},
        ],
    )


@query(
    "xtql_where_not_exists",
    oracle="""
    SELECT c_custkey AS cust, c_mktsegment AS segment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 300000.0)
    ORDER BY cust
    """,
)
def xtql_where_not_exists_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XTQL `not-exists?`: customers with no high-value order (the
    TPC-H q22 shape) via left_anti — the sub-pipeline's own filter
    applies before the anti-join."""
    from core2_spark import xtql

    return xtql.q(
        spark,
        sf_dir,
        [
            {"from": "customer", "bind": ["c_custkey", "c_mktsegment"]},
            {"where": [[
                "not-exists",
                [
                    {"from": "orders", "bind": ["o_custkey", "o_totalprice"]},
                    {"where": [[">", "o_totalprice", 300000.0]]},
                ],
                [["c_custkey", "o_custkey"]],
            ]]},
            {"order-by": ["c_custkey"]},
            {"return": [{"c_custkey": "cust"}, {"c_mktsegment": "segment"}]},
        ],
    )


@query(
    "xtql_pull_projection",
    oracle="""
    SELECT c.c_custkey AS cust, c.c_name AS name,
           COALESCE(o.n, 0) AS n_orders, COALESCE(o.s, '') AS orders_str
    FROM customer c LEFT JOIN (
        SELECT o_custkey, COUNT(*) AS n,
               string_agg(o_orderkey || ':' || o_orderstatus,
                          '|' ORDER BY o_orderkey) AS s
        FROM orders GROUP BY o_custkey
    ) o ON o.o_custkey = c.c_custkey
    WHERE c.c_nationkey = 5
    ORDER BY cust
    """,
)
def xtql_pull_projection_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`pull` inside an XTQL pipeline (Datomic-style document
    projection, reusing the Datalog pull compiler): nation-5 customers
    with their sorted orders as a nested array<struct>, flattened to a
    canonical string so DuckDB hash-verifies the nested content."""
    from core2_spark import xtql

    res = xtql.q(
        spark,
        sf_dir,
        [
            {"from": "customer", "bind": ["c_custkey", "c_nationkey"]},
            {"where": [["=", "c_nationkey", 5]]},
            {"pull": {
                "on": "c_custkey",
                "from": "customer",
                "id": "c_custkey",
                "attrs": ["c_name"],
                "rels": [{
                    "table": "orders",
                    "fk": "o_custkey",
                    "attrs": ["o_orderkey", "o_orderstatus"],
                    "order": "o_orderkey",
                    "as": "orders",
                }],
                "as": "doc",
            }},
        ],
    )
    entry = lambda o: F.concat(  # noqa: E731
        o["o_orderkey"].cast("string"), F.lit(":"), o["o_orderstatus"]
    )
    return res.select(
        F.col("c_custkey").alias("cust"),
        F.col("doc.c_name").alias("name"),
        F.size("doc.orders").cast("long").alias("n_orders"),
        F.concat_ws("|", F.transform("doc.orders", entry)).alias("orders_str"),
    ).orderBy("cust")


@query(
    "xtql_join_shorthand",
    oracle="""
    SELECT c.c_custkey AS cust, o.n_orders, o.total
    FROM customer c JOIN (
        SELECT o_custkey AS c_custkey,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
                     + 0.000000001, 4) AS total
        FROM orders GROUP BY 1
    ) o USING (c_custkey)
    WHERE o.n_orders >= 10
    ORDER BY cust
    """,
)
def xtql_join_shorthand_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same-name join shorthand (`"on": ["c_custkey"]`): the key
    COALESCES to one column, so downstream where/with/order-by can
    reference it — previously this died with AMBIGUOUS_REFERENCE."""
    from core2_spark import xtql

    return xtql.q(
        spark,
        sf_dir,
        [
            {"from": "customer", "bind": ["c_custkey"]},
            {"join": [
                {"from": "orders",
                 "bind": [{"o_custkey": "c_custkey"}, "o_totalprice"]},
                {"with": {"dec_price":
                          ["cast", "o_totalprice", "decimal(38,6)"]}},
                {"aggregate": {"n_orders": ["count"],
                               "dec_total": ["sum", "dec_price"]},
                 "group": ["c_custkey"]},
            ], "on": ["c_custkey"]},
            {"where": [[">=", "n_orders", 10]]},
            {"with": {"total": [
                "round",
                ["+", ["cast", "dec_total", "double"], 0.000000001], 4]}},
            {"order-by": ["c_custkey"]},
            {"return": [{"c_custkey": "cust"}, "n_orders", "total"]},
        ],
    )


@query(
    "xtql_temporal_join_aggregate",
    oracle="""
    WITH raw_versions AS (
        SELECT o_orderkey AS id,
               o_totalprice                    AS price,
               o_orderdate                     AS system_time_start,
               o_orderdate                     AS app_time_start,
               o_orderdate + INTERVAL 30 DAY  AS app_time_end
        FROM orders
        UNION ALL
        SELECT o_orderkey AS id,
               o_totalprice * 0.9             AS price,
               o_orderdate + INTERVAL 5 DAY   AS system_time_start,
               o_orderdate                    AS app_time_start,
               o_orderdate + INTERVAL 30 DAY  AS app_time_end
        FROM orders WHERE o_orderstatus = 'O'
    ),
    versions AS (
        SELECT *,
               COALESCE(LEAD(system_time_start) OVER
                          (PARTITION BY id ORDER BY system_time_start),
                        TIMESTAMP '9999-12-31 00:00:00') AS system_time_end
        FROM raw_versions
    )
    SELECT o.o_custkey % 10 AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(CAST(v.price AS DECIMAL(38,6))) AS DOUBLE)
                 + 0.000000001, 4) AS total
    FROM versions v JOIN orders o ON o.o_orderkey = v.id
    WHERE v.system_time_start <= TIMESTAMP '1999-06-01'
      AND TIMESTAMP '1999-06-01' < v.system_time_end
      AND v.app_time_start <= TIMESTAMP '1999-06-15'
      AND TIMESTAMP '1999-06-15' < v.app_time_end
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def xtql_temporal_join_aggregate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal bind composed with the rest of the pipeline: an as-of
    versions scan joined (shorthand key) to a plain from, bucketed and
    aggregated — proves the temporal options feed the ordinary
    operator chain."""
    from core2_spark.xtql import xtql_with_resolver

    return xtql_with_resolver(
        _xtql_versions_resolver(spark, sf_dir),
        [
            {
                "from": "order_versions",
                "for-system-time": ["at", "1999-06-01"],
                "for-valid-time": ["at", "1999-06-15"],
                "bind": ["id", "price"],
            },
            {"join": {"from": "orders",
                      "bind": [{"o_orderkey": "id"}, "o_custkey"]},
             "on": ["id"]},
            {"with": {"bucket": ["%", "o_custkey", 10],
                      "dec_price": ["cast", "price", "decimal(38,6)"]}},
            {"aggregate": {"n": ["count"], "dec_total": ["sum", "dec_price"]},
             "group": ["bucket"]},
            {"with": {"total": [
                "round",
                ["+", ["cast", "dec_total", "double"], 0.000000001], 4]}},
            {"order-by": ["bucket"]},
            {"return": ["bucket", "n", "total"]},
        ],
    )


@query(
    "xtql_asof_join",
    oracle="""
    WITH p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts AS click_ts,
                      ROUND(value, 4) AS click_value
               FROM events WHERE event_type = 'click')
    SELECT p.event_id, p.user_id, p.ts, c.click_ts, c.click_value
    FROM p ASOF JOIN c ON p.user_id = c.user_id AND p.ts >= c.click_ts
    """,
)
def xtql_asof_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XTQL ``asof-join`` op: purchases enriched with the user's most
    recent click — checked against DuckDB's NATIVE ASOF JOIN (an
    independent implementation), like the SQL dialect twin
    (`sql_asof_join_dialect`).  Distinct code path: the pipeline op
    drives operators/asof_join.py's union+window matcher directly;
    inner semantics via a not-null filter on the matched timestamp."""
    from core2_spark import xtql

    return xtql.q(
        spark,
        sf_dir,
        [
            {"from": "events",
             "bind": ["event_id", "user_id", "ts",
                      {"event_type": {"=": "purchase"}}]},
            {"asof-join": [
                {"from": "events",
                 "bind": ["user_id", "ts", "value",
                          {"event_type": {"=": "click"}}]},
                {"with": {"click_ts": "ts",
                          "click_value": ["round", "value", 4]}},
                {"without": ["value"]},
            ],
             "on": ["user_id"], "time": "ts",
             "values": ["click_ts", "click_value"]},
            # ASOF (inner) semantics: drop left rows with no match
            {"where": [["not-null?", "click_ts"]]},
            {"return": ["event_id", "user_id", "ts",
                        "click_ts", "click_value"]},
        ],
    )


@query(
    "xtql_unify",
    oracle="""
    SELECT n.n_name AS nname,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,6)))
                      AS DOUBLE) + 0.000000001, 4) AS total
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE o.o_orderstatus = 'F' AND o.o_totalprice > 150000.0
    GROUP BY nname
    ORDER BY nname
    """,
)
def xtql_unify_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XTQL ``unify`` head op: three relations unified on shared logic
    variables — customer⋈orders on ``cust``, customer⋈nation on
    ``nk`` — Datalog-style implicit equi-joins (no explicit join op),
    plus a deferred where over the unified row.  Catalyst still plans
    the join order and broadcasts nation."""
    from core2_spark import xtql

    return xtql.q(
        spark,
        sf_dir,
        [
            {"unify": [
                {"from": "customer",
                 "bind": [{"c_custkey": "cust"}, {"c_nationkey": "nk"}]},
                {"from": "orders",
                 "bind": [{"o_custkey": "cust"},
                          {"o_totalprice": "price"},
                          {"o_orderstatus": {"=": "F"}}]},
                {"from": "nation",
                 "bind": [{"n_nationkey": "nk"}, {"n_name": "nname"}]},
                {"where": [[">", "price", 150000.0]]},
            ]},
            {"with": {"dec_price": ["cast", "price", "decimal(38,6)"]}},
            {"aggregate": {"n": ["count"], "dec_total": ["sum", "dec_price"]},
             "group": ["nname"]},
            {"with": {"total": [
                "round",
                ["+", ["cast", "dec_total", "double"], 0.000000001], 4]}},
            {"order-by": ["nname"]},
            {"return": ["nname", "n", "total"]},
        ],
    )


@query(
    "xtql_scalar_stdlib",
    oracle="""
    SELECT o_orderkey,
           UPPER(SUBSTRING(o_orderpriority, 1, 3)) AS pri3,
           CAST(LENGTH(o_orderpriority) AS INT) AS pri_len,
           REPLACE(o_orderpriority, '-', '_') AS pri_u,
           CASE WHEN o_totalprice >= 200000.0 THEN 'big' ELSE 'small' END
               AS size_tier,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS y,
           (o_orderstatus IN ('F', 'P')) AS closed_or_pending,
           GREATEST(o_custkey, 100) AS cust_hi,
           LEAST(o_custkey, 100) AS cust_lo,
           (o_orderstatus IS NOT NULL) AS has_status
    FROM orders
    WHERE o_orderkey % 97 = 0
    ORDER BY o_orderkey
    """,
)
def xtql_scalar_stdlib_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The XTQL scalar stdlib end-to-end: string fns, extract,
    if/in/not-null?, greatest/least — every op a JVM built-in,
    hash-checked against the equivalent DuckDB SQL."""
    from core2_spark import xtql

    return xtql.q(
        spark,
        sf_dir,
        [
            {"from": "orders",
             "bind": ["o_orderkey", "o_orderpriority", "o_totalprice",
                      "o_orderdate", "o_orderstatus", "o_custkey"]},
            {"where": [["=", ["%", "o_orderkey", 97], 0]]},
            {"with": {
                "pri3": ["upper", ["substring", "o_orderpriority", 1, 3]],
                "pri_len": ["cast", ["length", "o_orderpriority"], "int"],
                "pri_u": ["replace", "o_orderpriority", "-", "_"],
                "size_tier": ["if", [">=", "o_totalprice", 200000.0],
                              ["lit", "big"], ["lit", "small"]],
                "y": ["cast", ["extract", "year", "o_orderdate"], "int"],
                "closed_or_pending": ["in", "o_orderstatus",
                                      ["lit", "F"], ["lit", "P"]],
                "cust_hi": ["greatest", "o_custkey", 100],
                "cust_lo": ["least", "o_custkey", 100],
                "has_status": ["not-null?", "o_orderstatus"],
            }},
            {"order-by": ["o_orderkey"]},
            {"return": ["o_orderkey", "pri3", "pri_len", "pri_u",
                        "size_tier", "y", "closed_or_pending",
                        "cust_hi", "cust_lo", "has_status"]},
        ],
    )

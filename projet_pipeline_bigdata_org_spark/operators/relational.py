"""Relational core: scans, predicates, joins, aggregations, windows, sorts,
set ops, grouping sets — the [GAP→add] surface of SURVEY.md §2.2-2.8.

The reference delegates all relational work to stock PySpark (it has no joins,
groupBy, windows, or sorts of its own — SURVEY.md §2.3-2.7); here each
operator is a declarative DataFrame plan so Catalyst supplies pushdown,
pruning, join selection, partial aggregation, and AQE. Scale notes per query
explain why the plan survives 100 TB.

Every query has a DuckDB oracle twin; numeric parity via functions.exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from projet_pipeline_bigdata_org_spark.catalog import load
from projet_pipeline_bigdata_org_spark.functions.exact import davg, dec, dsum
from projet_pipeline_bigdata_org_spark.plans.registry import query

D12 = T.DecimalType(12, 2)
D4 = T.DecimalType(4, 2)


def _d12(c: str) -> F.Column:
    return F.col(c).cast(D12)


def _d4(c: str) -> F.Column:
    return F.col(c).cast(D4)


def ONE() -> F.Column:
    # lazy: F.lit needs an active SparkContext in classic mode
    return F.lit(1).cast(D4)


# ---------------------------------------------------------------------------
# Aggregations (SURVEY §2.4)
# ---------------------------------------------------------------------------

@query(
    "agg_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))
                    * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    tags=("agg", "relational"),
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: filter → groupBy 2 keys → 8 aggregates.

    Scale: partial HashAggregate before the exchange (map-side combine) means
    the shuffle carries 6 groups × 32 partitions, not 100 TB of rows; the
    date filter is pushed to the parquet scan.
    """
    li = load(spark, sf_dir, "lineitem")
    disc_price = _d12("l_extendedprice") * (ONE() - _d4("l_discount"))
    charge = disc_price * (ONE() + _d4("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "agg_distinct_counts",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_customers,
           CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS n_nations,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS total_balance,
           CAST(MIN(c_acctbal) AS DOUBLE) AS min_balance,
           CAST(MAX(c_acctbal) AS DOUBLE) AS max_balance
    FROM customer
    GROUP BY c_mktsegment
    """,
    tags=("agg", "relational"),
)
def agg_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy + count_distinct + min/max (distinct expands then re-aggregates;
    Catalyst plans expand + two-phase agg — no driver involvement)."""
    return (
        load(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.count_distinct(F.col("c_nationkey")).alias("n_nations"),
            dsum("c_acctbal", "total_balance"),
            F.min("c_acctbal").alias("min_balance"),
            F.max("c_acctbal").alias("max_balance"),
        )
    )


@query(
    "agg_rollup",
    oracle="""
    SELECT r_name, n_name,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS total_balance
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
    tags=("agg", "relational"),
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (region → nation → grand total)."""
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    joined = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    return joined.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        dsum("c_acctbal", "total_balance"),
    )


@query(
    "agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    tags=("agg", "relational"),
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two low-cardinality dimensions (Expand + two-phase agg)."""
    return (
        load(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n_items"), dsum("l_quantity", "sum_qty"))
    )


# ---------------------------------------------------------------------------
# Predicates / projections (SURVEY §2.2)
# ---------------------------------------------------------------------------

@query(
    "filter_predicates",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_shipdate
    FROM lineitem
    WHERE l_quantity BETWEEN 5 AND 15
      AND l_returnflag IN ('A', 'R')
      AND l_shipdate >= TIMESTAMP '1997-01-01'
      AND NOT (l_discount > 0.08)
      AND l_linestatus = 'F'
    """,
    tags=("filter", "relational"),
)
def filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Comparison / IN / BETWEEN / boolean predicate pack, pushed to parquet.

    Scale: all five conjuncts reach the scan as PushedFilters; column pruning
    trims the read schema to 5 of 11 columns.
    """
    li = load(spark, sf_dir, "lineitem")
    return li.filter(
        F.col("l_quantity").between(5, 15)
        & F.col("l_returnflag").isin("A", "R")
        & (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & ~(F.col("l_discount") > 0.08)
        & (F.col("l_linestatus") == "F")
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_shipdate")


@query(
    "filter_like_null",
    oracle="""
    SELECT p_partkey, p_name, p_type
    FROM part
    WHERE p_name LIKE '%gear%' AND p_type IS NOT NULL AND p_size < 30
    """,
    tags=("filter", "relational"),
)
def filter_like_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE + IS NOT NULL + comparison on the part dimension."""
    p = load(spark, sf_dir, "part")
    return p.filter(
        F.col("p_name").like("%gear%")
        & F.col("p_type").isNotNull()
        & (F.col("p_size") < 30)
    ).select("p_partkey", "p_name", "p_type")


@query(
    "case_project_buckets",
    oracle="""
    SELECT o_orderkey,
           o_totalprice,
           CASE WHEN o_totalprice > 300000 THEN 'HOT'
                WHEN o_totalprice > 150000 THEN 'UP'
                ELSE 'LOW' END AS price_bucket,
           CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS totalprice_cents
    FROM orders
    """,
    tags=("project", "relational"),
)
def project_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN bucketing (reference P7 pattern, engine.py:186-189) + round.

    The rounded column targets an exact integer (2-decimal price × 100) so
    rounding-mode differences between engines (Spark HALF_UP decimal vs
    DuckDB double-path) cannot surface.
    """
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        "o_totalprice",
        F.when(F.col("o_totalprice") > 300000, "HOT")
        .when(F.col("o_totalprice") > 150000, "UP")
        .otherwise("LOW")
        .alias("price_bucket"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("totalprice_cents"),
    )


# ---------------------------------------------------------------------------
# Joins (SURVEY §2.3)
# ---------------------------------------------------------------------------

@query(
    "join_inner_orders_customer",
    oracle="""
    SELECT o_orderkey, c_name, c_mktsegment, o_totalprice
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_orderstatus = 'O'
    """,
    tags=("join", "relational"),
)
def join_inner_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join fact→dim; Catalyst picks broadcast vs sort-merge by
    size (AQE re-plans at runtime if the estimate is off)."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (
        o.filter(F.col("o_orderstatus") == "O")
        .join(c, o.o_custkey == c.c_custkey)
        .select("o_orderkey", "c_name", "c_mktsegment", "o_totalprice")
    )


@query(
    "join_left_order_counts",
    oracle="""
    SELECT c_custkey, c_name,
           COUNT(o_orderkey) AS n_orders,
           CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 0) AS DOUBLE) AS total_spent
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_name
    """,
    tags=("join", "agg", "relational"),
)
def join_left_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT join preserving customers with zero orders; COUNT(col) null
    semantics match SQL."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.sum(dec("o_totalprice")), F.lit(0).cast(T.DecimalType(18, 6)))
            .cast("double")
            .alias("total_spent"),
        )
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
    """,
    tags=("join", "relational"),
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI ≡ EXISTS — no row duplication, right side never materialized
    into the output (cheapest existence check at scale)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '1998-01-01')
    """,
    tags=("join", "relational"),
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI ≡ NOT EXISTS: customers with no 1998+ order.

    The right side is date-filtered so the anti set is non-empty at every
    SF (in TPC-H-ish data every customer has *some* order; the unfiltered
    variant returns 0 rows — a vacuous check)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp")
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "join_right_order_counts",
    oracle="""
    SELECT o_orderkey, o_orderpriority, c_name, c_mktsegment
    FROM customer RIGHT JOIN orders ON c_custkey = o_custkey
    WHERE o_orderdate >= TIMESTAMP '1998-06-01'
    """,
    tags=("join", "relational"),
)
def join_right_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT outer equi-join: every late-1998 order survives even if its
    customer row were missing (null-extended left side).

    Scale: identical physical shape to the left join — Catalyst flips build
    side freely; the o_orderdate filter prunes the preserved side at the
    scan so the shuffle carries only matching months."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1998-06-01").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "right")
        .select("o_orderkey", "o_orderpriority", "c_name", "c_mktsegment")
    )


@query(
    "join_full_outer_balance",
    oracle="""
    WITH cust AS (SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 9000),
    recent AS (
      SELECT o_custkey,
             COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS recent_spend
      FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
      GROUP BY o_custkey)
    SELECT COALESCE(c_custkey, o_custkey) AS custkey,
           c_acctbal, n_orders, recent_spend,
           CASE WHEN c_custkey IS NULL THEN 'order_only'
                WHEN o_custkey IS NULL THEN 'customer_only'
                ELSE 'both' END AS side
    FROM cust FULL OUTER JOIN recent ON c_custkey = o_custkey
    """,
    tags=("join", "agg", "relational"),
)
def join_full_outer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER equi-join — the reconciliation shape: high-balance
    customers vs customers with 1998 orders, null-extended on both sides
    with a provenance tag.

    Both inputs are filtered/pre-aggregated before the join, so at 100 TB
    the full-outer shuffle carries two already-reduced keyed sides; the
    pre-aggregation is the map-side combine Catalyst can't invent for an
    outer join on raw facts."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000).select(
        "c_custkey", "c_acctbal"
    )
    recent = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "recent_spend"),
        )
    )
    side = (
        F.when(F.col("c_custkey").isNull(), "order_only")
        .when(F.col("o_custkey").isNull(), "customer_only")
        .otherwise("both")
    )
    return (
        c.join(recent, c.c_custkey == recent.o_custkey, "full")
        .select(
            F.coalesce("c_custkey", "o_custkey").alias("custkey"),
            "c_acctbal",
            "n_orders",
            "recent_spend",
            side.alias("side"),
        )
    )


@query(
    "join_broadcast_part_revenue",
    oracle="""
    SELECT p_brand,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_type = 'ECONOMY'
    GROUP BY p_brand
    """,
    tags=("join", "agg", "relational"),
)
def join_broadcast_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast of the part dim (the reference's topic-label dict,
    engine.py:41-69, re-expressed as a broadcast hash join): the 100 TB fact
    side never shuffles for the join."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    revenue = _d12("l_extendedprice") * (ONE() - _d4("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum(revenue).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "join_cross_region_nation",
    oracle="""
    SELECT r_name, COUNT(*) AS n_pairs
    FROM region CROSS JOIN nation
    GROUP BY r_name
    """,
    tags=("join", "relational"),
)
def join_cross_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cross join (tiny dims only; guarded by crossJoin API)."""
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    return r.crossJoin(n).groupBy("r_name").agg(F.count(F.lit(1)).alias("n_pairs"))


@query(
    "join_multiway_revenue_by_nation",
    oracle="""
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey  = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
    tags=("join", "agg", "relational", "flagship"),
)
def join_multiway_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: 5-way join (TPC-H Q5-shaped) revenue rollup by nation.

    Scale: nation/region broadcast (≤25 rows at any SF); lineitem⋈orders is
    the only real shuffle, on the join key both sides; the date filter prunes
    orders at the scan before the join; AQE handles skewed order keys.
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    revenue = _d12("l_extendedprice") * (ONE() - _d4("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


# ---------------------------------------------------------------------------
# Window functions (SURVEY §2.5)
# ---------------------------------------------------------------------------

@query(
    "agg_window_topk",
    oracle="""
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
      FROM orders)
    WHERE rn <= 3
    """,
    tags=("window", "relational"),
)
def window_topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group via row_number (deterministic tie-break on orderkey).

    Scale: one shuffle on the partition key; no global sort. For heavy-hitter
    keys AQE skew handling applies; K rows per key bound the state."""
    o = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@query(
    "window_rank_dense_ntile",
    oracle="""
    SELECT c_custkey, c_mktsegment, c_acctbal,
           CAST(RANK()       OVER w AS BIGINT) AS bal_rank,
           CAST(DENSE_RANK() OVER w AS BIGINT) AS bal_dense_rank,
           CAST(NTILE(4)     OVER w AS BIGINT) AS bal_quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
    """,
    tags=("window", "relational"),
)
def window_rank_dense_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / ntile over one window definition."""
    c = load(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc(), "c_custkey")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.rank().over(w).cast("long").alias("bal_rank"),
        F.dense_rank().over(w).cast("long").alias("bal_dense_rank"),
        F.ntile(4).over(w).cast("long").alias("bal_quartile"),
    )


@query(
    "window_lag_lead_events",
    oracle="""
    SELECT event_id, user_id, value,
           LAG(value)  OVER w AS prev_value,
           LEAD(value) OVER w AS next_value,
           value - LAG(value) OVER w AS delta
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    tags=("window", "relational", "events"),
)
def window_lag_lead_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead analytics per user ordered by event time (tie-break event_id)."""
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
    )


@query(
    "window_running_total",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_spend,
           CAST(COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS running_orders
    FROM orders
    """,
    tags=("window", "relational"),
)
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running aggregate over a ROWS frame; decimal accumulation keeps every
    prefix sum exact and engine-independent."""
    o = load(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(dec("o_totalprice")).over(w).cast("double").alias("running_spend"),
        F.count(F.lit(1)).over(w).cast("long").alias("running_orders"),
    )


@query(
    "window_groups_frame",
    oracle="""
    WITH g AS (
      SELECT event_id, event_type,
             STRFTIME(DATE_TRUNC('day', ts), '%Y-%m-%d') AS day,
             value,
             DENSE_RANK() OVER (PARTITION BY event_type
                                ORDER BY DATE_TRUNC('day', ts)) AS grp
      FROM events
    )
    SELECT event_id, event_type, day, value,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
             AS grp_sum,
           CAST(COUNT(*) OVER w AS BIGINT) AS grp_rows
    FROM g
    WINDOW w AS (PARTITION BY event_type ORDER BY grp
                 RANGE BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
    tags=("window", "relational", "events"),
)
def window_groups_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPS window frames — the ANSI frame mode neither engine ships
    (Spark 4.1.2 parses only ROWS/RANGE; this DuckDB build raises "GROUPS
    mode ... not implemented", both verified) — provided exactly as a
    composition: a GROUPS frame of ``k PRECEDING`` counts PEER GROUPS
    (runs of rows tied on the order key), and ``dense_rank`` numbers
    exactly those groups consecutively, so a RANGE frame of width ``k``
    over the dense rank reproduces GROUPS semantics row-for-row. The
    oracle is an independent SQL spelling of the same rewrite, and the
    GROUPS *definition* itself is pinned by a first-principles fixture
    test (peer groups enumerated in plain Python) — semantics, not just
    cross-engine agreement.

    Here: per event type ordered by event day (many events tie on a day),
    the rolling sum over the current day plus two PRECEDING DAYS of
    activity — what a ROWS frame cannot express (row counts per day vary)
    and a RANGE frame over raw dates could only express with interval
    arithmetic assuming no calendar gaps; GROUPS is gap-agnostic.

    Scale: both windows share the one partition-by-type exchange and
    sort (dense_rank and the frame sum pipeline in a single Window
    node chain); exact DECIMAL accumulation keeps sums order-independent
    across engines."""
    e = load(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    wg = W.partitionBy("event_type").orderBy(day.alias("day"))
    grp = F.dense_rank().over(wg).cast("long")
    framed = e.select(
        "event_id",
        "event_type",
        F.date_format(day, "yyyy-MM-dd").alias("day"),
        "value",
        grp.alias("_grp"),
    )
    wr = (
        W.partitionBy("event_type")
        .orderBy("_grp")
        .rangeBetween(-2, 0)
    )
    return framed.select(
        "event_id",
        "event_type",
        "day",
        "value",
        F.sum(dec("value")).over(wr).cast("double").alias("grp_sum"),
        F.count(F.lit(1)).over(wr).cast("long").alias("grp_rows"),
    )


@query(
    "window_exclude_frame",
    oracle="""
    WITH g AS (
      SELECT event_id, event_type,
             DATE_DIFF('day', DATE '1970-01-01', CAST(ts AS DATE)) AS di,
             value
      FROM events
    )
    SELECT event_id, event_type, CAST(di AS BIGINT) AS di, value,
           CAST(SUM(CAST(value AS DECIMAL(18,6)))
                OVER (PARTITION BY event_type ORDER BY di
                      RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING
                      EXCLUDE CURRENT ROW) AS DOUBLE) AS loo_row_sum,
           CAST(SUM(CAST(value AS DECIMAL(18,6)))
                OVER (PARTITION BY event_type ORDER BY di
                      RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING
                      EXCLUDE GROUP) AS DOUBLE) AS loo_group_sum,
           CAST(SUM(CAST(value AS DECIMAL(18,6)))
                OVER (PARTITION BY event_type ORDER BY di
                      RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING
                      EXCLUDE TIES) AS DOUBLE) AS loo_ties_sum
    FROM g
    """,
    tags=("window", "relational", "events"),
)
def window_exclude_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI window frame EXCLUDE clauses (EXCLUDE CURRENT ROW / GROUP /
    TIES) — unsupported by Spark's engine — as exact DECIMAL
    compositions: the excluded sets are themselves window aggregates
    (own row; the peer group, a partition-by-(key, order-key) sum; peers
    minus self), so each variant is ``full_frame - excluded`` with every
    term order-independent decimal arithmetic. The oracle runs DuckDB's
    NATIVE EXCLUDE frames, so the driver gate certifies the rewrite
    against a real implementation of the frame mode, row for row.

    The computed quantity is the leave-one-out neighborhood baseline
    (current day ±3 days of same-type activity, excluding self / today's
    peers) — the denominator anomaly scores compare against without
    letting today's own volume contaminate its baseline.

    The empty-remainder edge is honored: when exclusion leaves no rows
    (an isolated row for CURRENT ROW, an isolated peer group for GROUP),
    ANSI says the aggregate is NULL over an empty set — the subtraction
    alone would say 0, so count-based guards restore the NULL
    (fixture-tested on an isolated day; TIES always retains the current
    row and can never empty).

    Scale: all three sums share the one partition-by-type exchange; the
    peer-group sum adds a partition-local window on (type, di), no
    second shuffle (plan-pinned for the GROUPS sibling)."""
    e = load(spark, sf_dir, "events")
    di = F.datediff(
        F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
    ).alias("di")
    g = e.select("event_id", "event_type", di, "value")
    wf = (
        W.partitionBy("event_type")
        .orderBy("di")
        .rangeBetween(-3, 3)
    )
    wp = W.partitionBy("event_type", "di")
    full = F.sum(dec("value")).over(wf)
    peers = F.sum(dec("value")).over(wp)
    own = dec("value")
    n_frame = F.count(F.lit(1)).over(wf)
    n_peers = F.count(F.lit(1)).over(wp)
    return g.select(
        "event_id",
        "event_type",
        F.col("di").cast("long").alias("di"),
        "value",
        F.when(n_frame == 1, F.lit(None).cast("double"))
        .otherwise((full - own).cast("double"))
        .alias("loo_row_sum"),
        F.when(n_frame == n_peers, F.lit(None).cast("double"))
        .otherwise((full - peers).cast("double"))
        .alias("loo_group_sum"),
        (full - peers + own).cast("double").alias("loo_ties_sum"),
    )


# ---------------------------------------------------------------------------
# Sorts / limits (SURVEY §2.6)
# ---------------------------------------------------------------------------

@query(
    "arrange_topn_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
    tags=("sort", "relational"),
)
def sort_limit_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-K: Spark plans TakeOrderedAndProject — per-partition heaps
    of K rows then a K-row merge on the driver; no global sort at 100 TB."""
    o = load(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(10)
    )


@query(
    "arrange_nulls_ordering",
    oracle="""
    SELECT event_id, user_id, value,
           CASE WHEN value > 10 THEN value END AS big_value
    FROM events
    ORDER BY big_value DESC NULLS LAST, event_id
    LIMIT 50
    """,
    tags=("sort", "relational", "events"),
)
def sort_nulls_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit NULLS LAST ordering over a nullable derived column."""
    e = load(spark, sf_dir, "events")
    return (
        e.select(
            "event_id",
            "user_id",
            "value",
            F.when(F.col("value") > 10, F.col("value")).alias("big_value"),
        )
        .orderBy(F.col("big_value").desc_nulls_last(), "event_id")
        .limit(50)
    )


from projet_pipeline_bigdata_org_spark.functions.zorder import (  # noqa: E402
    morton_key,
    sql_clamp16,
    sql_morton_key,
)

#: epoch anchoring the date dimension of the z-order key: any fixed date at
#: or before the corpus minimum works; 1992-01-01 predates every TPC-H-ish
#: o_orderdate at every SF, so day offsets are nonnegative at any scale
ZORDER_DATE_EPOCH = "1992-01-01"


@query(
    "arrange_zorder_layout",
    oracle=f"""
    WITH dims AS (
      SELECT CAST(o_custkey AS BIGINT) AS ck,
             CAST(DATE_DIFF('day', DATE '{ZORDER_DATE_EPOCH}', o_orderdate)
                  AS BIGINT) AS dk
      FROM orders
    ), clamped AS (
      SELECT ck, dk,
             {sql_clamp16('ck')} AS cx,
             {sql_clamp16('dk')} AS cy
      FROM dims
    ), keyed AS (
      SELECT ck, dk, {sql_morton_key('cx', 'cy')} AS z FROM clamped
    )
    SELECT CAST(z >> 14 AS BIGINT) AS zbucket,
           COUNT(*) AS n_orders,
           CAST(MIN(z) AS BIGINT) AS z_lo,
           CAST(MAX(z) AS BIGINT) AS z_hi,
           CAST(MIN(ck) AS BIGINT) AS cust_lo,
           CAST(MAX(ck) AS BIGINT) AS cust_hi,
           CAST(MIN(dk) AS BIGINT) AS day_lo,
           CAST(MAX(dk) AS BIGINT) AS day_hi
    FROM keyed
    GROUP BY zbucket
    """,
    tags=("sort", "layout", "orders"),
)
def arrange_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over orders' (custkey, orderdate) —
    the multi-dimensional lake layout the single-column sort in
    write_partitioned_parquet cannot give: files sorted by the interleaved
    key cover small axis-aligned rectangles of the 2-D value space, so
    min/max footer stats prune most files under ANY box predicate
    (customer range x date range), not just prefixes of one sort key.

    This query certifies the key arithmetic end-to-end: per 2^14-key
    z-bucket, the row count, the EXACT min/max interleaved key, and the
    bounding box of raw dimension values — the oracle replays the
    identical 32-term interleave, so a driver hash match pins every bit
    of the key (z_lo/z_hi carry raw key bits; the bucket rollup is
    bounded by the 2^18 bucket space, a few hundred rows at test SFs). The physical write path is
    sources.batch.write_zorder_table (repartitionByRange on the key +
    sortWithinPartitions — a ranged exchange, never a global single-node
    sort); tests/test_sources.py measures the actual file-skipping ratio
    against footer stats vs a row-ordered layout of the same data.

    Scale shape: computing the key is a per-row projection (no shuffle);
    the rollup here shuffles <= 256 bucket rows after partial agg. The
    clustering write itself is one ranged exchange of the data — the same
    cost as any repartition-for-layout job, paid once per compaction to
    make every later box scan prune. NULL dims yield a NULL key/bucket
    (explicitly guarded — LEAST/GREATEST skip NULLs) rather than aliasing
    to coordinate 0."""
    o = load(spark, sf_dir, "orders")
    ck = F.col("o_custkey").cast("long")
    dk = F.datediff(F.col("o_orderdate"), F.lit(ZORDER_DATE_EPOCH).cast("date")).cast(
        "long"
    )
    keyed = o.select(
        ck.alias("ck"),
        dk.alias("dk"),
        morton_key(ck, dk).alias("z"),
    )
    return (
        keyed.groupBy(F.shiftright(F.col("z"), 14).cast("long").alias("zbucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("z").cast("long").alias("z_lo"),
            F.max("z").cast("long").alias("z_hi"),
            F.min("ck").cast("long").alias("cust_lo"),
            F.max("ck").cast("long").alias("cust_hi"),
            F.min("dk").cast("long").alias("day_lo"),
            F.max("dk").cast("long").alias("day_hi"),
        )
    )



from projet_pipeline_bigdata_org_spark.functions.hilbert import (  # noqa: E402
    sql_clamp_dim,
    sql_hilbert_ctes,
    with_hilbert_key,
)


@query(
    "arrange_hilbert_layout",
    oracle=f"""
    WITH dims AS (
      SELECT CAST(o_custkey AS BIGINT) AS ck,
             CAST(DATE_DIFF('day', DATE '{ZORDER_DATE_EPOCH}', o_orderdate)
                  AS BIGINT) AS dk
      FROM orders
    ), clamped AS (
      SELECT ck, dk,
             {sql_clamp_dim('ck')} AS cx,
             {sql_clamp_dim('dk')} AS cy
      FROM dims
    ),
    {sql_hilbert_ctes('clamped', ['ck', 'dk'], 'cx', 'cy', 'keyed')}
    SELECT CAST(h >> 14 AS BIGINT) AS hbucket,
           COUNT(*) AS n_orders,
           CAST(MIN(h) AS BIGINT) AS h_lo,
           CAST(MAX(h) AS BIGINT) AS h_hi,
           CAST(MIN(ck) AS BIGINT) AS cust_lo,
           CAST(MAX(ck) AS BIGINT) AS cust_hi,
           CAST(MIN(dk) AS BIGINT) AS day_lo,
           CAST(MAX(dk) AS BIGINT) AS day_hi
    FROM keyed
    GROUP BY hbucket
    """,
    tags=("sort", "layout", "orders"),
)
def arrange_hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering key over orders' (custkey, orderdate) —
    the locality-preserving upgrade of ``arrange_zorder_layout`` on the
    SAME 16-bit-per-dimension grid. Z-order's interleave jumps at
    quadrant boundaries (a key range can cover two distant rectangles);
    the Hilbert walk is unit-adjacent at EVERY step (the bijection +
    adjacency proof in tests defines the curve), so each file's key
    range covers one contiguous blob and footer min/max prunes strictly
    tighter boxes — the reason Delta liquid clustering replaced Z-order
    with Hilbert. Same certification contract as the Morton twin: per
    2^14-key bucket, row count, EXACT min/max key, and the raw-dimension
    bounding box; the oracle replays all HILBERT_BITS rotation rounds as
    chained CTEs, so a driver hash match pins every bit of the walk.

    Scale shape: the key is HILBERT_BITS chained per-row projections.
    Catalyst deliberately does NOT collapse them into one expression
    (CollapseProject declines when merging would duplicate non-trivial
    subexpressions — exactly the 2^rounds blowup chaining avoids), but
    the whole chain plus the partial aggregate FUSES into a single
    whole-stage-codegen span before the one exchange (plan-pinned), so
    the walk costs one pass of straight-line generated code and no
    shuffle; the rollup shuffles only post-partial-agg bucket rows. The
    physical write path is write_zorder_table pointed at this key (the
    ranged-exchange layout writer is curve-agnostic). NULL dims yield a
    NULL key via the seeded-NULL accumulator — inside the rounds a NULL
    pushes every CASE to ELSE, which would otherwise alias NULL rows to
    key 0 (explicitly tested)."""
    o = load(spark, sf_dir, "orders")
    ck = F.col("o_custkey").cast("long")
    dk = F.datediff(F.col("o_orderdate"), F.lit(ZORDER_DATE_EPOCH).cast("date")).cast(
        "long"
    )
    keyed = with_hilbert_key(
        o.select(ck.alias("ck"), dk.alias("dk")), F.col("ck"), F.col("dk"), "h"
    )
    return (
        keyed.groupBy(F.shiftright(F.col("h"), 14).cast("long").alias("hbucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("h").cast("long").alias("h_lo"),
            F.max("h").cast("long").alias("h_hi"),
            F.min("ck").cast("long").alias("cust_lo"),
            F.max("ck").cast("long").alias("cust_hi"),
            F.min("dk").cast("long").alias("day_lo"),
            F.max("dk").cast("long").alias("day_hi"),
        )
    )


# ---------------------------------------------------------------------------
# Set operations (SURVEY §2.7)
# ---------------------------------------------------------------------------

@query(
    "combine_union_distinct",
    oracle="""
    SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer WHERE c_acctbal > 9000
    UNION
    SELECT CAST(s_nationkey AS INT) AS nationkey FROM supplier WHERE s_acctbal > 9000
    """,
    tags=("setop", "relational"),
)
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) of two key sets."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000).select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 9000).select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.union(s).distinct()


@query(
    "set_intersect",
    oracle="""
    SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer WHERE c_acctbal > 9500
    INTERSECT
    SELECT CAST(s_nationkey AS INT) AS nationkey FROM supplier
    """,
    tags=("setop", "relational"),
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct) — planned as an aggregate + semi join."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9500).select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@query(
    "set_except",
    oracle="""
    SELECT CAST(n_nationkey AS INT) AS nationkey FROM nation
    EXCEPT
    SELECT CAST(s_nationkey AS INT) AS nationkey FROM supplier
    WHERE s_acctbal > 5000
    """,
    tags=("setop", "relational"),
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct) — nations with no high-balance supplier. The
    balance predicate keeps the right side a strict subset of nation keys
    at every test SF, so the driver row certifies non-empty EXCEPT
    semantics (every nation has SOME supplier — the unfiltered form is
    vacuously empty, the round-1 anti-join lesson)."""
    n = load(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("nationkey"))
    s = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 5000)
        .select(F.col("s_nationkey").alias("nationkey"))
    )
    return n.subtract(s)


# ---------------------------------------------------------------------------
# Scalar function packs (SURVEY §2.8 gaps)
# ---------------------------------------------------------------------------

@query(
    "func_string_pack",
    oracle="""
    SELECT p_partkey,
           UPPER(p_name) AS name_upper,
           SUBSTR(p_name, 1, 5) AS name_prefix,
           CAST(LENGTH(p_name) AS BIGINT) AS name_len,
           CONCAT(p_brand, '-', p_type) AS brand_type,
           LPAD(p_brand, 12, '*') AS brand_padded,
           REPLACE(p_name, ' ', '_') AS name_snake,
           CAST(INSTR(p_name, 'e') AS BIGINT) AS first_e,
           TRIM(CONCAT('  ', p_name, '  ')) AS name_trimmed
    FROM part
    """,
    tags=("function", "relational"),
)
def func_string_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function pack (upper/substr/length/concat/lpad/replace/instr/trim)."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.substring("p_name", 1, 5).alias("name_prefix"),
        F.length("p_name").cast("long").alias("name_len"),
        F.concat(F.col("p_brand"), F.lit("-"), F.col("p_type")).alias("brand_type"),
        F.lpad("p_brand", 12, "*").alias("brand_padded"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
        F.instr(F.col("p_name"), "e").cast("long").alias("first_e"),
        F.trim(F.concat(F.lit("  "), F.col("p_name"), F.lit("  "))).alias("name_trimmed"),
    )


@query(
    "func_date_pack",
    oracle="""
    SELECT o_orderkey,
           CAST(YEAR(o_orderdate) AS BIGINT) AS yr,
           CAST(MONTH(o_orderdate) AS BIGINT) AS mo,
           CAST(DAY(o_orderdate) AS BIGINT) AS dom,
           CAST(QUARTER(o_orderdate) AS BIGINT) AS qtr,
           CAST(DAYOFYEAR(o_orderdate) AS BIGINT) AS doy,
           CAST(DAYOFWEEK(o_orderdate) AS BIGINT) AS dow,
           STRFTIME(DATE_TRUNC('month', o_orderdate), '%Y-%m-%d') AS month_start,
           CAST(DATEDIFF('day', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT) AS days_since_epoch_start,
           STRFTIME(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS due_date
    FROM orders
    """,
    tags=("function", "relational"),
)
def func_date_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time pack (reference F5-F7 + gap functions). Spark's dayofweek is
    1=Sunday; DuckDB's is 0=Sunday — normalized here. Derived timestamps are
    emitted as formatted strings for engine-neutral comparison."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("yr"),
        F.month("o_orderdate").cast("long").alias("mo"),
        F.dayofmonth("o_orderdate").cast("long").alias("dom"),
        F.quarter("o_orderdate").cast("long").alias("qtr"),
        F.dayofyear("o_orderdate").cast("long").alias("doy"),
        (F.dayofweek("o_orderdate") - 1).cast("long").alias("dow"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("month_start"),
        F.datediff("o_orderdate", F.lit("1995-01-01").cast("timestamp"))
        .cast("long")
        .alias("days_since_epoch_start"),
        F.date_format(F.date_add(F.col("o_orderdate"), 30), "yyyy-MM-dd").alias("due_date"),
    )


@query(
    "func_math_pack",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ABS(l_discount - 0.05) AS disc_dev,
           CAST(FLOOR(l_quantity / 7) AS BIGINT) AS qty_bucket,
           CAST(CEIL(l_extendedprice / 10000) AS BIGINT) AS price_ceil_10k,
           l_quantity * l_quantity AS qty_sq,
           SQRT(l_quantity) AS qty_sqrt,
           CAST(l_linenumber % 3 AS BIGINT) AS line_mod3,
           CAST(SIGN(l_discount - 0.05) AS DOUBLE) AS disc_sign,
           GREATEST(l_discount, l_tax) AS max_rate,
           LEAST(l_discount, l_tax) AS min_rate
    FROM lineitem
    """,
    tags=("function", "relational"),
)
def func_math_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math pack restricted to IEEE-exact operations (abs/floor/ceil/sqrt/
    multiply/mod/sign/greatest/least) so per-row values are bit-identical
    across engines; transcendentals (log/exp) are exercised in tests, not in
    the oracle gate, because libm vs JVM may differ in the last ulp."""
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.floor(F.col("l_quantity") / 7).cast("long").alias("qty_bucket"),
        F.ceil(F.col("l_extendedprice") / 10000).cast("long").alias("price_ceil_10k"),
        (F.col("l_quantity") * F.col("l_quantity")).alias("qty_sq"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        (F.col("l_linenumber") % 3).cast("long").alias("line_mod3"),
        F.signum(F.col("l_discount") - 0.05).cast("double").alias("disc_sign"),
        F.greatest("l_discount", "l_tax").alias("max_rate"),
        F.least("l_discount", "l_tax").alias("min_rate"),
    )


@query(
    "func_array_pack",
    oracle="""
    SELECT doc_id,
           CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS BIGINT) AS n_distinct_tokens,
           COALESCE(ARRAY_TO_STRING(LIST_SLICE(STRING_SPLIT(text, ' '), 1, 3), '|'), '') AS first3,
           LIST_CONTAINS(STRING_SPLIT(text, ' '), 'spark') AS has_spark
    FROM documents
    """,
    tags=("function", "relational", "documents"),
)
def func_array_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array pack: split/size/array_distinct/slice/array_contains/array_join
    (arrays emitted as joined strings for engine-neutral hashing)."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
        F.array_join(F.slice(toks, 1, 3), "|").alias("first3"),
        F.array_contains(toks, "spark").alias("has_spark"),
    )


@query(
    "func_json_pack",
    oracle="""
    SELECT event_id,
           CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT) AS prop_k,
           CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT) % 10 AS prop_k_mod10
    FROM events
    """,
    tags=("function", "relational", "events"),
)
def func_json_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from the events.props payload column (reference F10
    from_json pattern; get_json_object avoids full schema materialization)."""
    e = load(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return e.select("event_id", k.alias("prop_k"), (k % 10).alias("prop_k_mod10"))


# ---------------------------------------------------------------------------
# explicit skew-salting (round 3): the manual remedy AQE's skew split
# automates, as a first-class operator with a plain-join oracle
# ---------------------------------------------------------------------------

SALT_BUCKETS = 8


@query(
    "join_salted_skew",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS segment_value
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
    tags=("join", "relational", "skew"),
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted equi-join: the fact side adds a deterministic salt
    (xxhash64(row key) mod SALT_BUCKETS) and the dim side explodes into one
    replica per salt value, so a hot join key's rows spread across
    SALT_BUCKETS reducers instead of one. The oracle is the PLAIN join —
    salting must be result-invariant.

    When to reach for it over AQE's skew split (test_plan_shape.py): AQE
    only splits post-shuffle partitions of sort-merge joins; salting also
    covers stream-stream joins, pre-AQE clusters, and aggregations keyed on
    the hot column. Cost: dim side × SALT_BUCKETS (bounded — it's the small
    side) and a two-level aggregate. Result identity is oracle-gated."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    salted_fact = o.select(
        "o_custkey",
        "o_totalprice",
        F.pmod(F.xxhash64("o_orderkey"), F.lit(SALT_BUCKETS)).alias("_salt"),
    )
    salted_dim = c.select(
        "c_custkey",
        "c_mktsegment",
        F.explode(F.array(*[F.lit(i) for i in range(SALT_BUCKETS)])).alias("_salt"),
    )
    return (
        salted_fact.join(
            salted_dim,
            (salted_fact["o_custkey"] == salted_dim["c_custkey"])
            & (salted_fact["_salt"] == salted_dim["_salt"]),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "segment_value"),
        )
    )


#: target partition count for the range-layout planner
RANGE_SPLIT_PARTS = 16


@query(
    "arrange_partition_splits",
    oracle=f"""
    WITH t AS (
      SELECT o_orderkey,
             NTILE({RANGE_SPLIT_PARTS}) OVER (ORDER BY o_orderkey) AS pid
      FROM orders
    )
    SELECT CAST(pid AS BIGINT) AS partition_id,
           COUNT(*) AS n_rows,
           CAST(MIN(o_orderkey) AS BIGINT) AS key_lo,
           CAST(MAX(o_orderkey) AS BIGINT) AS key_hi
    FROM t
    GROUP BY pid
    """,
    tags=("sort", "layout", "orders"),
)
def arrange_partition_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-partition planner over orders' sort key — the boundary table
    behind every ``repartitionByRange`` / clustered write in this engine
    (write_zorder_table, write_training_shards): RANGE_SPLIT_PARTS
    equal-row buckets with their exact key bounds and row counts, i.e.
    the split points a layout job feeds the ranged exchange so no
    partition is fat. NTILE over a UNIQUE key is deterministic in both
    engines (ties impossible), so the planner's boundaries — unlike
    Spark's sampled RangePartitioner — are exact and replayable; the
    certified plan also exposes the skew a sampled partitioner would
    have to guess at (n_rows differs by at most 1 by construction,
    key widths show value-space skew).

    Scale shape: one window over the sort key. At 100 TB the exact NTILE
    becomes the compressed-distribution form (stat_exact_percentiles'
    discipline: rank boundaries over the |distinct-key| table, not the
    row stream) or Spark's reservoir-sampled RangePartitioner when
    approximate bounds suffice — this query is the exact planner and
    the yardstick those approximations are judged against. Output:
    RANGE_SPLIT_PARTS rows."""
    o = load(spark, sf_dir, "orders")
    t = o.select(
        "o_orderkey",
        F.ntile(RANGE_SPLIT_PARTS)
        .over(W.orderBy("o_orderkey"))
        .alias("pid"),
    )
    return t.groupBy(F.col("pid").cast("long").alias("partition_id")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("o_orderkey").cast("long").alias("key_lo"),
        F.max("o_orderkey").cast("long").alias("key_hi"),
    )


# ---------------------------------------------------------------------------
# RLE layout audit — what a sorted lake layout buys in run-length terms,
# computed scale-safely (per-bucket runs + boundary stitch, never a
# global single-partition window)
# ---------------------------------------------------------------------------

#: columns audited for run-length behavior under each layout
RLE_AUDIT_COLS: tuple[str, ...] = (
    "l_returnflag",
    "l_linestatus",
    "l_suppkey",
    "l_shipdate",
)
#: orderkey range per bucket in the 'natural' (insert-order) layout
RLE_NATURAL_BUCKET = 4096


def _rle_bucket_runs(
    df: DataFrame, ordering: str, bucket: F.Column, sort_cols: list[str]
) -> DataFrame:
    """Exact run counts for every audited column under (bucket, sort)
    — the distributed formulation: per-bucket LAG windows run in
    parallel (ONE exchange on the bucket key, one sort per bucket), the
    per-bucket (runs, first, last) aggregates stitch across bucket
    boundaries with a window over the BOUNDED bucket table (adjacent
    buckets whose border values match merge two runs into one). The
    bucket key is a prefix of the sort key, so bucket order extends row
    order and the stitch is exact."""
    w = W.partitionBy("_bkt").orderBy(*sort_cols)
    keyed = df.select(
        bucket.alias("_bkt"),
        *sort_cols,
        *[F.col(c) for c in RLE_AUDIT_COLS if c not in sort_cols],
    )
    sel = keyed.select(
        "_bkt",
        *sort_cols,
        *[
            F.when(
                F.lag(c).over(w).isNull() | (F.lag(c).over(w) != F.col(c)),
                1,
            )
            .otherwise(0)
            .alias(f"chg_{i}")
            for i, c in enumerate(RLE_AUDIT_COLS)
        ],
        *[F.col(c) for c in RLE_AUDIT_COLS if c not in sort_cols],
    )
    border = F.struct(
        *[F.col(c).alias(f"k{i}") for i, c in enumerate(sort_cols)],
        *[F.col(c).alias(f"v_{c}") for c in RLE_AUDIT_COLS],
    )
    per_bucket = sel.groupBy("_bkt").agg(
        F.count(F.lit(1)).alias("cnt"),
        *[F.sum(f"chg_{i}").alias(f"runs_{i}") for i in range(len(RLE_AUDIT_COLS))],
        F.min(border).alias("_first"),
        F.max(border).alias("_last"),
    )
    wb = W.orderBy("_bkt")  # bounded: one row per bucket, never per row
    prev_last = F.lag("_last").over(wb)
    stitched = per_bucket.select(
        "cnt",
        *[
            (
                F.col(f"runs_{i}")
                - F.when(
                    prev_last.isNotNull()
                    & (prev_last[f"v_{c}"] == F.col("_first")[f"v_{c}"]),
                    1,
                ).otherwise(0)
            ).alias(f"runs_{i}")
            for i, c in enumerate(RLE_AUDIT_COLS)
        ],
    )
    total = stitched.agg(
        F.sum("cnt").cast("long").alias("n_rows"),
        *[
            F.sum(f"runs_{i}").cast("long").alias(f"runs_{i}")
            for i in range(len(RLE_AUDIT_COLS))
        ],
    )
    stack_args = ", ".join(
        f"'{c}', runs_{i}" for i, c in enumerate(RLE_AUDIT_COLS)
    )
    return total.select(
        F.lit(ordering).alias("ordering"),
        F.expr(
            f"stack({len(RLE_AUDIT_COLS)}, {stack_args}) AS (col_name, n_runs)"
        ),
        "n_rows",
    ).select(
        "ordering",
        "col_name",
        "n_rows",
        F.col("n_runs").cast("long").alias("n_runs"),
        F.expr("CAST(n_runs * 1000 div n_rows AS BIGINT)").alias("runs_milli"),
    )


def _rle_oracle_ordering(ordering: str, order_by: str) -> str:
    lags = ", ".join(
        f"LAG({c}) OVER (ORDER BY {order_by}) AS p{i}"
        for i, c in enumerate(RLE_AUDIT_COLS)
    )
    runs = " UNION ALL ".join(
        f"SELECT '{ordering}' AS ordering, '{c}' AS col_name,"
        f" CAST(COUNT(*) AS BIGINT) AS n_rows,"
        f" CAST(SUM(CASE WHEN p{i} IS NULL OR p{i} <> {c} THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS n_runs,"
        f" CAST(SUM(CASE WHEN p{i} IS NULL OR p{i} <> {c} THEN 1 ELSE 0 END)"
        f" * 1000 // COUNT(*) AS BIGINT) AS runs_milli"
        f" FROM lag_{ordering}"
        for i, c in enumerate(RLE_AUDIT_COLS)
    )
    return lags, runs


_RLE_NAT_LAGS, _RLE_NAT_RUNS = _rle_oracle_ordering(
    "natural", "l_orderkey, l_linenumber"
)
_RLE_LAY_LAGS, _RLE_LAY_RUNS = _rle_oracle_ordering(
    "layout",
    "l_returnflag, l_linestatus, l_shipdate, l_orderkey, l_linenumber",
)


@query(
    "arrange_rle_audit",
    oracle=f"""
    WITH lag_natural AS (
      SELECT l_returnflag, l_linestatus, l_suppkey, l_shipdate,
             {_RLE_NAT_LAGS}
      FROM lineitem
    ), lag_layout AS (
      SELECT l_returnflag, l_linestatus, l_suppkey, l_shipdate,
             {_RLE_LAY_LAGS}
      FROM lineitem
    )
    {_RLE_NAT_RUNS}
    UNION ALL
    {_RLE_LAY_RUNS}
    """,
    tags=("relational", "lake", "lineitem"),
)
def arrange_rle_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length layout audit — the measurement behind every 'sort your
    lake' recommendation (Parquet RLE/dictionary pages, Delta
    OPTIMIZE/Z-order): for each audited column, the exact number of
    value RUNS the file would store under the natural insert order
    (l_orderkey, l_linenumber) vs the layout sort
    (l_returnflag, l_linestatus, l_shipdate, ...). Fewer runs = better
    RLE: the layout sort collapses l_returnflag to ~|distinct| runs
    while the natural order leaves ~|rows| runs; runs_milli
    (runs·1000 div rows) is the per-column figure of merit.

    Scale shape — the operator's real point: a naive runs count is an
    UNPARTITIONED window (every row through one partition). Here each
    ordering buckets by a PREFIX of its sort key ('natural': orderkey
    div {RLE_NATURAL_BUCKET}; 'layout': l_returnflag), counts runs
    per bucket in parallel (one exchange, one sort, all four columns'
    LAGs in the same window), and stitches bucket boundaries with a
    window over the bounded bucket table (adjacent buckets whose border
    values match merge two runs into one). The ORACLE computes the same
    numbers with the naive global window, so the driver gate certifies
    the stitch itself. All counts BIGINT-exact; audited columns are
    NOT-NULL TPC-H attributes (the lag inequality is null-safe only for
    the run-opening first row)."""
    li = load(spark, sf_dir, "lineitem")
    nat = _rle_bucket_runs(
        li,
        "natural",
        # exact truncating integer division — float div is exact today
        # only because 4096 is a power of two (ADVICE r11)
        F.expr(f"l_orderkey div {RLE_NATURAL_BUCKET}"),
        ["l_orderkey", "l_linenumber"],
    )
    lay = _rle_bucket_runs(
        li,
        "layout",
        F.col("l_returnflag"),
        ["l_returnflag", "l_linestatus", "l_shipdate", "l_orderkey", "l_linenumber"],
    )
    return nat.unionByName(lay)


# ---------------------------------------------------------------------------
# compaction planner — deterministic contiguous bin-packing of small files
# ---------------------------------------------------------------------------

#: target rows per compacted output file (stand-in for a byte budget)
COMPACT_TARGET_ROWS = 2_000


@query(
    "arrange_compaction_plan",
    oracle=f"""
    WITH files AS (
      SELECT o_orderdate AS day, COUNT(*) AS n_rows
      FROM orders GROUP BY o_orderdate
    ), c AS (
      SELECT day, n_rows,
             SUM(n_rows) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
               - n_rows AS cum_before
      FROM files
    ), binned AS (
      SELECT day, n_rows, cum_before // {COMPACT_TARGET_ROWS} AS bin
      FROM c
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(n_rows) AS BIGINT) AS total_rows,
           STRFTIME(MIN(day), '%Y-%m-%d') AS first_day,
           STRFTIME(MAX(day), '%Y-%m-%d') AS last_day,
           CAST(SUM(n_rows) * 1000 // {COMPACT_TARGET_ROWS} AS BIGINT)
             AS fill_milli
    FROM binned GROUP BY bin
    """,
    tags=("relational", "lake", "orders"),
)
def arrange_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner — the maintenance pass every lake
    runs (Delta OPTIMIZE / Iceberg rewrite_data_files): treat each
    o_orderdate partition's row count as a small file in date order and
    pack CONTIGUOUS runs into target-budget output files by the
    quota-crossing rule (a file belongs to bin floor(cum_before /
    target)) — contiguity preserves the date clustering the layout
    already paid for (pack-by-size would destroy footer-stats pruning),
    and the rule is a pure running-sum window, deterministic and
    identical in both engines (unlike greedy close-on-overflow, whose
    bins depend on evaluation order in a distributed fold). Bins can
    exceed the target by at most one trailing file — the documented
    tradeoff of quota packing. Emits each planned output file's
    fill_milli so under/over-packed bins are visible.

    Scale shape: the per-partition size rollup is the one stream-sized
    op (map-side combined, shuffle bounded by |days|); the running sum
    windows over the bounded file table (the stat_histogram_quantiles
    bounded-window discipline); output is |bins| rows. At a real lake
    the file table comes from the transaction log, not a scan —
    the planner half is unchanged."""
    o = load(spark, sf_dir, "orders")
    files = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    wc = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    binned = files.select(
        "day",
        "n_rows",
        F.expr(
            f"CAST((SUM(n_rows) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED"
            f" PRECEDING AND CURRENT ROW) - n_rows) div {COMPACT_TARGET_ROWS}"
            f" AS BIGINT)"
        ).alias("bin"),
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum("n_rows").cast("long").alias("total_rows"),
        F.date_format(F.min("day"), "yyyy-MM-dd").alias("first_day"),
        F.date_format(F.max("day"), "yyyy-MM-dd").alias("last_day"),
        F.expr(
            f"CAST(SUM(n_rows) * 1000 div {COMPACT_TARGET_ROWS} AS BIGINT)"
        ).alias("fill_milli"),
    )

"""TPC-H suite completion (VERDICT r15 #2): the 15 classic query shapes
not yet covered by relational.py / relational_ext.py — Q2, Q4, Q5, Q6,
Q7-Q12, Q14-Q16, Q19, Q20. Together with the existing Q1-shape pricing
summary and Q3, Q13, Q17, Q18, Q21, Q22 this certifies all 22 classic
shapes literally: the densest join-order / decorrelation / pushdown
yardstick a relational user of the engine hits.

Schema adaptations (this corpus is a reduced TPC-H — no partsupp,
receipt/commit dates, shipmode, container, mfgr, phone, comment):

- ``partsupp`` is derived: the distinct (l_partkey, l_suppkey) pairs with
  ``ps_supplycost = MIN(extendedprice)`` and ``ps_availqty = SUM(quantity)``
  per pair — both exact DECIMAL aggregates both engines reproduce
  identically. Queries needing it (Q2, Q9, Q11, Q16, Q20) build the same
  derivation on both sides.
- "late delivery" (receipt vs commit date) becomes "shipped more than N
  days after the order date" (Q4: 90, Q12: 30).
- l_shipmode → l_linestatus (Q12); p_container → p_size bands (Q19);
  c_phone country code → c_mktsegment (done in Q22); p_mfgr → p_brand.

House exactness discipline throughout: money aggregates through
DECIMAL(12,2)/(4,2) casts (cast to DOUBLE only at the output boundary),
fractional thresholds lifted to integer/decimal cross-multiplications
(Q11's 2× mean, Q20's majority share), ratios computed as IEEE division
of two identically-derived doubles (Q8, Q14), LIMIT always under a total
order. Correlated shapes (Q2, Q4, Q15, Q20) are written as the textbook
nested SQL on the Spark side so Catalyst's decorrelation
(RewriteCorrelatedScalarSubquery / RewritePredicateSubquery) is what
executes — the Q17/Q21/Q22 precedent; join-order shapes (Q5, Q7, Q8, Q9,
Q10) use the DataFrame API with explicit broadcasts for the dimension
tables that stay small at any scale (nation, region).

Reference parity note: the reference app (spark/engine.py) has no
relational query surface at all — this suite is part of the [GAP→add]
breadth a warehouse user expects, per SURVEY.md §2.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from projet_pipeline_bigdata_org_spark.catalog import load
from projet_pipeline_bigdata_org_spark.plans.registry import query

#: exact revenue term shared by most shapes
REV_SQL = (
    "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))"
)

#: the derived-partsupp CTE (same text both engines; see module docstring)
PS_SQL = """
    SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
           MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS ps_supplycost,
           SUM(CAST(l_quantity AS DECIMAL(12,2))) AS ps_availqty
    FROM lineitem GROUP BY l_partkey, l_suppkey
"""


def _rev() -> Column:
    return F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )


def _views(spark: SparkSession, sf_dir: str, *tables: str) -> None:
    for t in tables:
        load(spark, sf_dir, t).createOrReplaceTempView(t)


def _ps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The derived partsupp (DataFrame twin of PS_SQL)."""
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        )
        .agg(
            F.min(F.col("l_extendedprice").cast("decimal(12,2)")).alias(
                "ps_supplycost"
            ),
            F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("ps_availqty"),
        )
    )


@query(
    "sql_surface_q2",
    oracle=f"""
    WITH ps AS ({PS_SQL}),
    eur AS (
      SELECT ps_partkey, ps_suppkey, ps_supplycost, s_name, s_acctbal, n_name
      FROM ps JOIN supplier ON s_suppkey = ps_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE')
    SELECT CAST(s_acctbal AS DOUBLE) AS s_acctbal, s_name, n_name,
           p_partkey, p_name, CAST(ps_supplycost AS DOUBLE) AS supplycost
    FROM eur JOIN part ON p_partkey = ps_partkey
    WHERE p_type = 'STANDARD' AND p_size % 5 = 0
      AND ps_supplycost = (SELECT MIN(e2.ps_supplycost) FROM eur e2
                           WHERE e2.ps_partkey = eur.ps_partkey)
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
    tags=("relational", "sql", "join", "subquery", "tpch"),
)
def sql_surface_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier): a correlated scalar MIN
    over the region-restricted derived partsupp — the row survives only
    if its supply cost EQUALS the per-part regional minimum. Written as
    the textbook correlated subquery so Catalyst's
    RewriteCorrelatedScalarSubquery (per-partkey min aggregate joined
    back on the correlation key) executes. Equality is on exact DECIMAL,
    so no float boundary can flip a row. LIMIT 100 rides the total order
    (s_acctbal DESC, n_name, s_name, p_partkey) — row grain is the
    (part, supplier) pair, so the key is unique.

    Scale shape: the derived ps partial-aggregates lineitem once on
    (partkey, suppkey); the regional restriction broadcasts
    nation⋈region into supplier; the correlated min becomes ONE
    per-partkey aggregate of eur joined back on ps_partkey — never a
    per-row re-scan. part's p_type/p_size filter pushes to its scan."""
    _views(spark, sf_dir, "lineitem", "supplier", "nation", "region", "part")
    return spark.sql(
        f"""
        WITH ps AS ({PS_SQL}),
        eur AS (
          SELECT ps_partkey, ps_suppkey, ps_supplycost, s_name, s_acctbal, n_name
          FROM ps JOIN supplier ON s_suppkey = ps_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          WHERE r_name = 'EUROPE')
        SELECT CAST(s_acctbal AS DOUBLE) AS s_acctbal, s_name, n_name,
               p_partkey, p_name, CAST(ps_supplycost AS DOUBLE) AS supplycost
        FROM eur JOIN part ON p_partkey = ps_partkey
        WHERE p_type = 'STANDARD' AND p_size % 5 = 0
          AND ps_supplycost = (SELECT MIN(e2.ps_supplycost) FROM eur e2
                               WHERE e2.ps_partkey = eur.ps_partkey)
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        LIMIT 100
        """
    )


@query(
    "sql_surface_q4",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
    GROUP BY o_orderpriority
    """,
    tags=("relational", "sql", "subquery", "tpch"),
)
def sql_surface_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order priority checking): correlated EXISTS whose
    inner predicate references an OUTER column (l_shipdate >
    o_orderdate + 90 days — the late-delivery stand-in; this schema has
    no commit/receipt dates), grouped by priority over one order
    quarter. Catalyst's RewritePredicateSubquery plans the EXISTS as a
    LeftSemi on l_orderkey with the cross-table date predicate folded
    into the join condition.

    Scale shape: the quarter filter pushes to the orders scan BEFORE the
    semi join, so only ~1/26 of orders shuffle; lineitem projects just
    (l_orderkey, l_shipdate) into the semi side; the final groupBy is on
    the 5-value priority key (tiny)."""
    _views(spark, sf_dir, "orders", "lineitem")
    return spark.sql(
        """
        SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1996-04-01'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey
                        AND l_shipdate > o_orderdate + INTERVAL 90 DAYS)
        GROUP BY o_orderpriority
        """
    )


@query(
    "sql_surface_q5",
    oracle=f"""
    SELECT n_name, CAST(SUM({REV_SQL}) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
    tags=("relational", "join", "tpch"),
)
def sql_surface_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local supplier volume): the classic 6-way join
    with the EXTRA non-key equality c_nationkey = s_nationkey ("local"
    means customer and supplier share a nation) — the join-order stress
    of the suite: the optimizer must route customer⋈orders⋈lineitem
    before supplier can be matched on BOTH l_suppkey and the nation
    equality.

    Scale shape: nation⋈region (25 rows) broadcasts; the date filter
    pushes to the orders scan (1 of ~6 years); the fact-side joins
    shuffle on custkey then orderkey — the unavoidable pair — and the
    nation equality rides the supplier hash join as a residual, adding
    no exchange. Final aggregate: ≤25 groups, partial map-side."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nr = F.broadcast(n.join(r, n.n_regionkey == r.r_regionkey).select("n_nationkey", "n_name"))
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(nr, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
    )


@query(
    "sql_surface_q7",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(YEAR(l_shipdate) AS BIGINT) AS l_year,
           CAST(SUM({REV_SQL}) AS DOUBLE) AS revenue
    FROM supplier
    JOIN lineitem ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY n1.n_name, n2.n_name, YEAR(l_shipdate)
    """,
    tags=("relational", "join", "tpch"),
)
def sql_surface_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): the two-aliases-of-one-dimension
    join — nation joins TWICE (supplier side and customer side) with a
    disjunctive cross-pair predicate that can only be evaluated after
    both joins; grouped by the (supp, cust, year) triple.

    Scale shape: both nation aliases broadcast (25 rows each) and the
    pair predicate evaluates as a residual filter on the broadcast
    outputs — the disjunction never forces a shuffle; the ship-date band
    pushes to the lineitem scan; the two fact shuffles (orderkey,
    custkey) are the floor for this shape."""
    s = load(spark, sf_dir, "supplier")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    n1 = F.broadcast(n.select(F.col("n_nationkey").alias("nk1"), F.col("n_name").alias("supp_nation")))
    n2 = F.broadcast(n.select(F.col("n_nationkey").alias("nk2"), F.col("n_name").alias("cust_nation")))
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        s.join(li, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(n1, F.col("s_nationkey") == F.col("nk1"))
        .join(n2, F.col("c_nationkey") == F.col("nk2"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
    )


@query(
    "sql_surface_q8",
    oracle=f"""
    WITH all_nations AS (
      SELECT YEAR(o_orderdate) AS o_year, {REV_SQL} AS volume, n2.n_name AS supp_nation
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region ON n1.n_regionkey = r_regionkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1998-01-01')
    SELECT CAST(o_year AS BIGINT) AS o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_1' THEN volume
                         ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE) AS mkt_share
    FROM all_nations
    GROUP BY o_year
    """,
    tags=("relational", "join", "tpch"),
)
def sql_surface_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): the 8-way join — part,
    both nation roles, region — feeding a conditional-share aggregate:
    NATION_1's fraction of ECONOMY-part volume sold into AMERICA per
    year. The share is IEEE division of two exact-DECIMAL sums cast to
    DOUBLE — both engines derive numerator and denominator identically,
    so the quotient is bit-identical.

    Scale shape: nation/region broadcast; the p_type filter prunes part
    to 1/6 before its join (AQE picks broadcast when the filtered dim
    fits); date band pushes to orders. The conditional numerator rides
    the same aggregate as the denominator — one pass, no second join."""
    p = load(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n1r = F.broadcast(
        n.join(r, n.n_regionkey == r.r_regionkey).select(
            F.col("n_nationkey").alias("nk_cust")
        )
    )
    n2 = F.broadcast(
        n.select(F.col("n_nationkey").alias("nk_supp"), F.col("n_name").alias("supp_nation"))
    )
    vol = _rev()
    num = F.sum(
        F.when(F.col("supp_nation") == "NATION_1", vol).otherwise(
            F.lit(0).cast("decimal(18,4)")
        )
    )
    return (
        p.join(li, F.col("p_partkey") == F.col("l_partkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(n1r, F.col("c_nationkey") == F.col("nk_cust"))
        .join(n2, F.col("s_nationkey") == F.col("nk_supp"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg((num.cast("double") / F.sum(vol).cast("double")).alias("mkt_share"))
    )


@query(
    "sql_surface_q9",
    oracle=f"""
    WITH ps AS ({PS_SQL})
    SELECT n_name AS nation, CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM({REV_SQL}
                    - ps_supplycost * CAST(l_quantity AS DECIMAL(12,2)))
                AS DOUBLE) AS sum_profit
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN ps ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%rod'
    GROUP BY n_name, YEAR(o_orderdate)
    """,
    tags=("relational", "join", "tpch"),
)
def sql_surface_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product type profit): profit = revenue minus
    supply cost × quantity over parts matching a name pattern, grouped
    by supplier nation and order year — the widest fact-side join tree
    of the suite (lineitem⋈part⋈supplier⋈partsupp⋈orders⋈nation). The
    derived ps joins back on its NATURAL composite key
    (partkey, suppkey) — the same-key partial agg + join that
    decorrelated Q17. All money math stays DECIMAL until the final
    DOUBLE cast.

    Scale shape: the p_name LIKE filter prunes part before its join;
    ps is a partial aggregate of lineitem on exactly the join key, so
    its exchange is reused by the join (no extra shuffle at scale);
    nation broadcasts; the profit expression is codegen'd arithmetic."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("%rod"))
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders")
    n = load(spark, sf_dir, "nation")
    ps = _ps(spark, sf_dir)
    profit = _rev() - F.col("ps_supplycost") * F.col("l_quantity").cast(
        "decimal(12,2)"
    )
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(
            ps,
            (F.col("ps_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
        )
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(profit).cast("double").alias("sum_profit"))
    )


@query(
    "sql_surface_q10",
    oracle=f"""
    SELECT c_custkey, c_name,
           CAST(SUM({REV_SQL}) AS DOUBLE) AS revenue,
           CAST(c_acctbal AS DOUBLE) AS c_acctbal, n_name, c_mktsegment
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-04-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name, c_mktsegment
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    tags=("relational", "join", "tpch"),
)
def sql_surface_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned item reporting): top-20 customers by
    revenue lost to returns in one quarter — a 4-way join aggregated on
    a WIDE group key (all the customer display columns ride the groupBy
    rather than a re-join). LIMIT 20 is deterministic: revenue is the
    same exact-DECIMAL sum in both engines and c_custkey breaks ties.

    Scale shape: quarter filter pushes to orders, returnflag filter to
    lineitem (scan-level, ~1/3 selectivity); nation broadcasts; the
    top-20 runs as TakeOrderedAndProject — no global sort
    materialization."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load(spark, sf_dir, "nation")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name", "c_mktsegment")
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.col("c_acctbal").cast("double").alias("c_acctbal"),
            "n_name",
            "c_mktsegment",
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "sql_surface_q11",
    oracle=f"""
    WITH ps AS ({PS_SQL}),
    nat AS (
      SELECT ps_partkey, ps_supplycost * ps_availqty AS v
      FROM ps JOIN supplier ON s_suppkey = ps_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'),
    val AS (SELECT ps_partkey, CAST(SUM(v) AS DECIMAL(28,4)) AS pv
            FROM nat GROUP BY ps_partkey),
    tot AS (SELECT CAST(SUM(pv) AS DECIMAL(28,4)) AS tv,
                   CAST(COUNT(*) AS DECIMAL(8,0)) AS np FROM val)
    SELECT ps_partkey, CAST(pv AS DOUBLE) AS part_value
    FROM val, tot
    WHERE np * pv > 2 * tv
    """,
    tags=("relational", "sql", "subquery", "tpch"),
)
def sql_surface_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): per-part inventory value over
    one region's suppliers, HAVING-over-a-GLOBAL-scalar — keep parts
    whose value exceeds the corpus-wide threshold. Adaptations: the
    value is the derived ps_supplycost × ps_availqty; the classic
    0.0001·SF fraction (which is scale-dependent) becomes "more than 2×
    the MEAN part value" — scale-free, split both ways at every SF
    (probed 5/200, 143/1984, 963/19960). Exactness: the threshold is
    the integer-lifted cross-multiplication np·pv > 2·tv on DECIMAL(28,4)
    — capped precision so the product stays inside DECIMAL(38) in BOTH
    engines (Spark would otherwise silently reduce scale at 38+).

    Scale shape: ps partial-aggregates lineitem on (partkey, suppkey);
    the region restriction broadcasts; the scalar (tv, np) aggregates to
    ONE row and broadcasts back over val — a 1-row crossJoin, never a
    re-scan."""
    ps = _ps(spark, sf_dir)
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    nr = F.broadcast(
        n.join(r, n.n_regionkey == r.r_regionkey).select("n_nationkey")
    )
    nat = (
        ps.join(s, F.col("s_suppkey") == F.col("ps_suppkey"))
        .join(nr, F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "ps_partkey",
            (F.col("ps_supplycost") * F.col("ps_availqty")).alias("v"),
        )
    )
    val = nat.groupBy("ps_partkey").agg(
        F.sum("v").cast("decimal(28,4)").alias("pv")
    )
    tot = val.agg(
        F.sum("pv").cast("decimal(28,4)").alias("tv"),
        F.count(F.lit(1)).cast("decimal(8,0)").alias("np"),
    )
    return (
        val.crossJoin(F.broadcast(tot))
        .filter(F.col("np") * F.col("pv") > 2 * F.col("tv"))
        .select("ps_partkey", F.col("pv").cast("double").alias("part_value"))
    )


@query(
    "sql_surface_q12",
    oracle="""
    SELECT l_linestatus AS shipmode,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_returnflag IN ('A', 'N')
      AND l_shipdate > o_orderdate + INTERVAL 30 DAY
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l_linestatus
    """,
    tags=("relational", "join", "tpch"),
)
def sql_surface_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping modes and order priority): CASE
    aggregation over a UNION of predicates — urgent vs non-urgent
    counted in one pass — under an IN-list scan filter and a cross-table
    date comparison that can only evaluate inside the join. Adaptations:
    l_shipmode → l_linestatus, commit/receipt lateness → shipped >30
    days after order date.

    Scale shape: the IN-list and ship-date band push to the lineitem
    scan; the cross-table predicate rides the orderkey join as a
    residual; both CASE counters share one partial aggregate on the
    2-value group key."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("A", "N")
        & (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        .groupBy(F.col("l_linestatus").alias("shipmode"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
    )


@query(
    "sql_surface_q14",
    oracle=f"""
    SELECT 100 * (CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {REV_SQL}
                                ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                  / CAST(SUM({REV_SQL}) AS DOUBLE)) AS promo_revenue_pct,
           CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {REV_SQL}
                         ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS promo_revenue,
           CAST(SUM({REV_SQL}) AS DOUBLE) AS total_revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-09-01'
      AND l_shipdate < TIMESTAMP '1996-10-01'
    """,
    tags=("relational", "join", "tpch"),
)
def sql_surface_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion effect): a global conditional ratio —
    promo parts' share of one month's revenue. The percentage is IEEE
    arithmetic over two exact-DECIMAL sums cast to DOUBLE with the SAME
    expression tree in both engines (100 * (num / den)), so the float
    result is bit-identical. The raw numerator/denominator are emitted
    too.

    Scale shape: the one-month band pushes to the lineitem scan (~1/80
    of rows); part joins on partkey (AQE broadcast when the pruned dim
    fits); a single global aggregate — partial everywhere, one row out."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-09-01") & (F.col("l_shipdate") < "1996-10-01")
    )
    p = load(spark, sf_dir, "part")
    rev = _rev()
    promo = F.sum(
        F.when(F.col("p_type") == "PROMO", rev).otherwise(
            F.lit(0).cast("decimal(18,4)")
        )
    )
    total = F.sum(rev)
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .agg(
            (F.lit(100) * (promo.cast("double") / total.cast("double"))).alias(
                "promo_revenue_pct"
            ),
            promo.cast("double").alias("promo_revenue"),
            total.cast("double").alias("total_revenue"),
        )
    )


@query(
    "sql_surface_q15",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no, SUM({REV_SQL}) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
    tags=("relational", "sql", "subquery", "tpch"),
)
def sql_surface_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): a named view/CTE (the quarter's
    per-supplier revenue) consumed TWICE — once as the join input, once
    inside an uncorrelated scalar MAX — selecting every supplier that
    achieves the maximum. Equality is on the exact-DECIMAL sum (the
    classic float-equality trap in this query is why the house
    discipline aggregates through DECIMAL).

    Scale shape: the CTE partial-aggregates the date-pruned lineitem on
    suppkey once; Spark plans the scalar MAX as a 1-row broadcast
    against the same CTE (ReusedExchange in the physical plan — the
    aggregate is not recomputed); supplier joins on the tiny survivor
    set."""
    _views(spark, sf_dir, "lineitem", "supplier")
    return spark.sql(
        f"""
        WITH revenue AS (
          SELECT l_suppkey AS supplier_no, SUM({REV_SQL}) AS total_revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1996-04-01'
          GROUP BY l_suppkey)
        SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
        FROM supplier JOIN revenue ON s_suppkey = supplier_no
        WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
        """
    )


@query(
    "sql_surface_q16",
    oracle="""
    WITH ps AS (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
                FROM lineitem)
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
    FROM ps JOIN part ON p_partkey = ps_partkey
    WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
      AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
      AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000)
    GROUP BY p_brand, p_type, p_size
    """,
    tags=("relational", "sql", "subquery", "tpch"),
)
def sql_surface_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship): COUNT(DISTINCT)
    over the derived part-supplier pairs under negated predicates and an
    IN-list, EXCLUDING suppliers from a blacklist subquery — NOT IN
    plans as a null-aware anti join. Adaptation: "customer complaints"
    becomes s_acctbal < 1000 (non-vacuous at every SF: 1/15/169
    suppliers).

    Scale shape: ps deduplicates lineitem's (partkey, suppkey) once
    (partial agg); the part predicates push to its scan; the blacklist
    aggregates to a tiny set and broadcasts into the anti join;
    COUNT(DISTINCT suppkey) expands inside the (brand, type, size)
    aggregate — bounded by group count × suppliers."""
    _views(spark, sf_dir, "lineitem", "part", "supplier")
    return spark.sql(
        """
        WITH ps AS (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
                    FROM lineitem)
        SELECT p_brand, p_type, p_size,
               CAST(COUNT(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
        FROM ps JOIN part ON p_partkey = ps_partkey
        WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
          AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
          AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000)
        GROUP BY p_brand, p_type, p_size
        """
    )


@query(
    "sql_surface_q19",
    oracle=f"""
    SELECT CAST(SUM({REV_SQL}) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11 AND l_returnflag = 'N')
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20 AND l_returnflag = 'N')
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30 AND l_returnflag = 'N')
    """,
    tags=("relational", "join", "tpch"),
)
def sql_surface_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue): the disjunctive-pushdown
    stress — three conjunction groups OR'd together, each mixing
    part-side (brand, size band) and lineitem-side (quantity band,
    returnflag) predicates. The optimizer must factor the common
    lineitem-side conjuncts (returnflag, the quantity envelope 1..30)
    below the join while keeping the cross-table disjunction as the
    join residual. Adaptations: p_container → p_size bands,
    shipmode/shipinstruct → l_returnflag.

    Scale shape: check the plan — PushedFilters on the lineitem scan
    carries the returnflag equality (the factored common conjunct);
    the OR-of-ANDs evaluates as a codegen'd residual on the join
    output; a single global aggregate returns one row."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    q = F.col("l_quantity")
    sz = F.col("p_size")

    def grp(brand: str, smax: int, qlo: int, qhi: int) -> Column:
        return (
            (F.col("p_brand") == brand)
            & sz.between(1, smax)
            & q.between(qlo, qhi)
            & (F.col("l_returnflag") == "N")
        )

    cond = grp("Brand#1", 5, 1, 11) | grp("Brand#2", 10, 10, 20) | grp(
        "Brand#3", 15, 20, 30
    )
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
    )


@query(
    "sql_surface_q20",
    oracle="""
    WITH s97 AS (
      SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sq
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY l_partkey, l_suppkey)
    SELECT s_name, n_name
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE'
      AND s_suppkey IN (
        SELECT l_suppkey FROM s97
        WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'cold%')
          AND 2 * sq > (SELECT SUM(CAST(l_quantity AS DECIMAL(12,2)))
                        FROM lineitem l2
                        WHERE l2.l_partkey = s97.l_partkey
                          AND l2.l_suppkey = s97.l_suppkey))
    """,
    tags=("relational", "sql", "subquery", "tpch"),
)
def sql_surface_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion): the NESTED-semi
    stress — an IN inside an IN, plus a correlated scalar aggregate on a
    COMPOSITE key. Suppliers (in one region) qualify when, for some
    'cold*' part, their 1997 shipped quantity is a MAJORITY of their
    all-time quantity for that (part, supplier) pair. Adaptation: the
    classic availqty > 0.5 × year-qty is degenerate under the derived
    partsupp (availqty IS total qty), so the split is inverted to
    2·year_qty > total_qty — same correlated-scalar shape, split both
    ways at every SF (probed 4/15/201 suppliers). Exact DECIMAL
    cross-multiplication, no float threshold.

    Scale shape: the inner part IN broadcasts a pruned key set; the
    correlated scalar decorrelates to a per-(partkey, suppkey) aggregate
    joined back on the same composite key that s97 is already
    partitioned by; the outer IN is a semi join into the
    region-restricted supplier dim."""
    _views(spark, sf_dir, "lineitem", "supplier", "nation", "region", "part")
    return spark.sql(
        """
        WITH s97 AS (
          SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sq
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1997-01-01'
            AND l_shipdate < TIMESTAMP '1998-01-01'
          GROUP BY l_partkey, l_suppkey)
        SELECT s_name, n_name
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
          AND s_suppkey IN (
            SELECT l_suppkey FROM s97
            WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'cold%')
              AND 2 * sq > (SELECT SUM(CAST(l_quantity AS DECIMAL(12,2)))
                            FROM lineitem l2
                            WHERE l2.l_partkey = s97.l_partkey
                              AND l2.l_suppkey = s97.l_suppkey))
        """
    )


@query(
    "sql_surface_q6",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    tags=("relational", "agg", "tpch"),
)
def sql_surface_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change) — the suite's pure
    scan-filter aggregate: one year band, a discount band, a quantity
    cap, SUM(extendedprice × discount), no join at all. Deliberately
    registered verbatim (it needs no schema adaptation) so the certified
    22 is literal, and because Q6 is the canonical PUSHDOWN probe: every
    predicate must reach the parquet scan and the whole plan is
    scan → codegen'd filter → partial agg → 1-row exchange. The discount
    band compares the SAME stored doubles against the same literals in
    both engines, so no boundary row can flip; the money product is
    exact DECIMAL until the output cast.

    Scale shape: zero shuffles except the single-row final aggregate —
    the cheapest possible TPC-H member; at 100 TB its cost is the scan,
    which is why the PushedFilters line in the plan is the whole story
    (plan-pinned)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(12,2)")
                * F.col("l_discount").cast("decimal(4,2)")
            )
            .cast("double")
            .alias("revenue")
        )
    )

"""Analytic battery part 2: the remaining TPC-H query shapes (Q2-Q22).

The synthetic star schema has no ``partsupp`` table and no commit/receipt
dates, so Q2/Q4/Q11/Q16/Q17/Q20/Q21 are faithful *shape* analogues re-keyed
to the available columns (lineitem serves as the part<->supplier link).
Every money column is exact integer cents (see plans/tpch.py) and every
comparison against an average is rewritten as an exact integer
cross-multiplication (``k * qty * cnt < sum``) so membership never depends
on float summation order — the classic last-ulp AVG() divergence between
engines cannot flip a row in or out.

Scale notes (verified in tests/test_plans.py):
  * nation/region stay broadcast; supplier/part join shuffled (they grow
    with SF).
  * scalar-subquery queries (q11, q15, q22) recompute the shared subtree
    once per consumer — the TPC-H-spec formulation; at 100 TB the second
    pass is a map-side-aggregating rescan, not a shuffle. A deployment
    that owns the action can persist-around-action instead (round-2
    lesson: never persist inside a lazy registered query).
  * q20/q21 use per-group windows (partition key = partkey / orderkey)
    whose partition cardinality is bounded by suppliers-per-part /
    lines-per-order, not by SF — no single-partition collapse at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.catalog import read_table
from .tpch import REVENUE_SQL, _cents, _revenue_cents


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape: per-part arg-min supplier (struct-min, no window shuffle).

    For every LARGE part of size >= 40 shipped by a EUROPE supplier, pick
    the supplier with the lowest account balance (suppkey tiebreak). The
    arg-min is a single struct-min aggregation — lexicographic struct
    ordering with a unique tiebreak makes it deterministic and it
    partial-aggregates map-side (no per-part window sort).
    """
    nation = F.broadcast(read_table(spark, sf_dir, "nation"))
    region = F.broadcast(
        read_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    )
    supp = (
        read_table(spark, sf_dir, "supplier")
        .join(nation, F.col("s_nationkey") == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .select(
            "s_suppkey",
            "s_name",
            _cents(F.col("s_acctbal")).alias("acct_cents"),
            "n_name",
        )
    )
    part = read_table(spark, sf_dir, "part").filter(
        (F.col("p_size") >= 40) & (F.col("p_type") == "LARGE")
    )
    li = read_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    best = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_partkey", "p_name")
        .agg(
            F.min(
                F.struct(
                    F.col("acct_cents"), F.col("s_suppkey"), F.col("s_name"), F.col("n_name")
                )
            ).alias("b")
        )
    )
    return (
        best.select(
            "p_partkey",
            "p_name",
            F.col("b.acct_cents").alias("supp_acctbal_cents"),
            F.col("b.s_suppkey").alias("s_suppkey"),
            F.col("b.s_name").alias("s_name"),
            F.col("b.n_name").alias("n_name"),
        )
        .orderBy("supp_acctbal_cents", "p_partkey")
        .limit(100)
    )


Q2_SQL = """
WITH supp AS (
  SELECT s_suppkey, s_name, CAST(ROUND(s_acctbal * 100) AS BIGINT) AS acct_cents, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
), cand AS (
  SELECT p_partkey, p_name, acct_cents, s_suppkey, s_name, n_name,
         ROW_NUMBER() OVER (PARTITION BY p_partkey ORDER BY acct_cents, s_suppkey) AS rn
  FROM lineitem
  JOIN supp ON l_suppkey = s_suppkey
  JOIN part ON l_partkey = p_partkey
  WHERE p_size >= 40 AND p_type = 'LARGE'
)
SELECT p_partkey, p_name, acct_cents AS supp_acctbal_cents, s_suppkey, s_name, n_name
FROM cand WHERE rn = 1
ORDER BY supp_acctbal_cents, p_partkey
LIMIT 100
"""


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape: EXISTS over a correlated date condition -> left-semi join.

    Orders of 1996Q3 with at least one lineitem shipped > 60 days after
    the order date, counted per priority. The EXISTS becomes a left-semi
    join with the correlated predicate in the join condition — no
    subquery re-evaluation per row, one shuffle on orderkey.
    """
    orders = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01"))
        & (F.col("o_orderdate") < F.lit("1996-10-01"))
    )
    li = read_table(spark, sf_dir, "lineitem")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 60 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01'
  AND o_orderdate <  TIMESTAMP '1996-10-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority
"""


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape: bidirectional nation-pair trade volume per ship year."""
    n1 = F.broadcast(
        read_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
        )
    )
    n2 = F.broadcast(
        read_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
        )
    )
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    supp = read_table(spark, sf_dir, "supplier")
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7")
    ) | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(n1, supp.s_nationkey == F.col("s_nkey"))
        .join(n2, cust.c_nationkey == F.col("c_nkey"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(F.sum(_revenue_cents()).alias("revenue_cents"))
    )


Q7_SQL = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS l_year,
       CAST(SUM({REVENUE_SQL}) AS BIGINT) AS revenue_cents
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
    OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
GROUP BY 1, 2, 3
"""


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape: one nation's share of a region's part-type revenue per year.

    The share is an exact int/int division of two BIGINT cent sums —
    conditional aggregation, single pass, no self-join.
    """
    part = read_table(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    cust = read_table(spark, sf_dir, "customer")
    supp = read_table(spark, sf_dir, "supplier")
    n_c = F.broadcast(
        read_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")
        )
    )
    n_s = F.broadcast(
        read_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
        )
    )
    region = F.broadcast(
        read_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    )
    rev = _revenue_cents()
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(n_c, cust.c_nationkey == F.col("c_nkey"))
        .join(region, F.col("c_rkey") == region.r_regionkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(n_s, supp.s_nationkey == F.col("s_nkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(F.lit(0))
            ).alias("nation_cents"),
            F.sum(rev).alias("total_cents"),
        )
        .withColumn(
            "mkt_share", F.round(F.col("nation_cents") / F.col("total_cents"), 6)
        )
    )


Q8_SQL = f"""
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       CAST(SUM(CASE WHEN n2.n_name = 'NATION_3' THEN {REVENUE_SQL} ELSE 0 END) AS BIGINT) AS nation_cents,
       CAST(SUM({REVENUE_SQL}) AS BIGINT) AS total_cents,
       ROUND(CAST(SUM(CASE WHEN n2.n_name = 'NATION_3' THEN {REVENUE_SQL} ELSE 0 END) AS BIGINT)
             / CAST(SUM({REVENUE_SQL}) AS BIGINT), 6) AS mkt_share
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region   ON n1.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE p_type = 'STANDARD' AND r_name = 'AMERICA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY 1
"""


def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape: revenue by supplier nation x order year for a part family."""
    part = read_table(spark, sf_dir, "part").filter(F.col("p_name").contains("widget"))
    li = read_table(spark, sf_dir, "lineitem")
    supp = read_table(spark, sf_dir, "supplier")
    orders = read_table(spark, sf_dir, "orders")
    nation = F.broadcast(read_table(spark, sf_dir, "nation"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(nation, supp.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("n_name", F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(_revenue_cents()).alias("profit_cents"))
    )


Q9_SQL = f"""
SELECT n_name, CAST(year(o_orderdate) AS INT) AS o_year,
       CAST(SUM({REVENUE_SQL}) AS BIGINT) AS profit_cents
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN orders   ON l_orderkey = o_orderkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2
"""


def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape: parts whose NATION_7-supplied value exceeds 0.1% of total.

    The threshold test is the exact integer cross-multiplication
    ``value_cents * 1000 > total_cents`` (no float division). The scalar
    total is a broadcast single-row join; its lineage re-aggregates the
    same filtered scan — the TPC-H-spec double-pass, map-side combined.
    """
    nation = F.broadcast(
        read_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    )
    supp = read_table(spark, sf_dir, "supplier").join(
        nation, F.col("s_nationkey") == nation.n_nationkey, "left_semi"
    )
    li = read_table(spark, sf_dir, "lineitem")
    value = (
        li.join(supp, li.l_suppkey == supp.s_suppkey, "left_semi")
        .groupBy("l_partkey")
        .agg(F.sum(_cents(F.col("l_extendedprice"))).alias("value_cents"))
    )
    total = value.agg(F.sum("value_cents").alias("total_cents"))
    return (
        value.join(F.broadcast(total))
        .filter(F.col("value_cents") * 1000 > F.col("total_cents"))
        .select("l_partkey", "value_cents")
    )


Q11_SQL = """
WITH value AS (
  SELECT l_partkey, CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS value_cents
  FROM lineitem
  WHERE l_suppkey IN (
    SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_7'
  )
  GROUP BY l_partkey
)
SELECT l_partkey, value_cents
FROM value
WHERE value_cents * 1000 > (SELECT CAST(SUM(value_cents) AS BIGINT) FROM value)
"""


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 shape: order-count histogram via left outer join + double agg.

    ``COUNT(o_orderkey)`` counts matched rows only, so never-ordered
    customers land in the c_count=0 bucket — outer-join semantics the
    oracle mirrors exactly.
    """
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") != "P"
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderstatus <> 'P'
  GROUP BY c_custkey
)
GROUP BY c_count
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape: supplier(s) achieving the max quarterly revenue.

    max-equality via a broadcast single-row join against the aggregated
    maximum (ties all surface, per spec). Exact BIGINT equality — no
    float max hazard.
    """
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    supp = read_table(spark, sf_dir, "supplier")
    rev = (
        li.groupBy("l_suppkey")
        .agg(F.sum(_revenue_cents()).alias("total_revenue_cents"))
    )
    mx = rev.agg(F.max("total_revenue_cents").alias("mx"))
    return (
        rev.join(F.broadcast(mx), rev.total_revenue_cents == F.col("mx"))
        .join(supp, rev.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue_cents")
    )


Q15_SQL = f"""
WITH revenue AS (
  SELECT l_suppkey, CAST(SUM({REVENUE_SQL}) AS BIGINT) AS total_revenue_cents
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue_cents
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue_cents = (SELECT MAX(total_revenue_cents) FROM revenue)
"""


def q16_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape: distinct-supplier counts per part spec (lineitem as link)."""
    part = read_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
    )
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


Q16_SQL = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#5' AND p_size IN (1, 4, 9, 16, 25, 36, 49)
GROUP BY p_brand, p_type, p_size
"""


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape: revenue from below-avg-quantity lines of one brand.

    The correlated ``l_quantity < 0.2 * AVG(l_quantity)`` becomes the
    exact integer test ``5 * qty * cnt < sum_qty`` (quantities are
    integral) — immune to cross-engine AVG last-ulp drift. Per-part
    stats join back on partkey: the standard two-scan Q17 plan.
    """
    li = read_table(spark, sf_dir, "lineitem")
    stats = li.groupBy(F.col("l_partkey").alias("sp_partkey")).agg(
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        F.count(F.lit(1)).alias("cnt"),
    )
    part = read_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#13") & (F.col("p_size") < 10)
    )
    joined = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(stats, li.l_partkey == F.col("sp_partkey"))
        .filter(
            F.col("l_quantity").cast("long") * 5 * F.col("cnt") < F.col("sum_qty")
        )
    )
    return joined.agg(
        F.sum(_cents(F.col("l_extendedprice"))).alias("total_cents")
    ).withColumn("avg_yearly", F.round(F.col("total_cents") / F.lit(700.0), 4))


Q17_SQL = """
WITH stats AS (
  SELECT l_partkey AS sp_partkey,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
         COUNT(*) AS cnt
  FROM lineitem GROUP BY l_partkey
)
SELECT CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS total_cents,
       ROUND(CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) / 700.0, 4) AS avg_yearly
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN stats ON l_partkey = sp_partkey
WHERE p_brand = 'Brand#13' AND p_size < 10
  AND CAST(l_quantity AS BIGINT) * 5 * cnt < sum_qty
"""


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape: OR-of-ANDs bracket predicate (pushdown/pruning showcase)."""
    part = read_table(spark, sf_dir, "part")
    li = read_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & qty.between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & qty.between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#4")
            & F.col("p_size").between(1, 15)
            & qty.between(20, 30)
        )
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(F.sum(_revenue_cents()).alias("revenue_cents"))
    )


Q19_SQL = f"""
SELECT CAST(SUM({REVENUE_SQL}) AS BIGINT) AS revenue_cents
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#4'  AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
"""


def q20_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape: suppliers shipping the majority of a part's 1996 volume.

    The per-part total rides a window partitioned by partkey — partition
    size is bounded by suppliers-per-part, not SF, so the single extra
    sort never collapses to one task. ``2 * supp_qty > part_total`` is
    the exact majority test.
    """
    part = read_table(spark, sf_dir, "part").filter(F.col("p_name").startswith("cold"))
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    shipped = (
        li.join(part, li.l_partkey == part.p_partkey, "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("supp_qty"))
    )
    w = Window.partitionBy("l_partkey")
    dominant = (
        shipped.withColumn("part_qty", F.sum("supp_qty").over(w))
        .filter(F.col("supp_qty") * 2 > F.col("part_qty"))
        .select("l_suppkey")
        .distinct()
    )
    nation = F.broadcast(
        read_table(spark, sf_dir, "nation").filter(F.col("n_nationkey") < 10)
    )
    supp = read_table(spark, sf_dir, "supplier").join(
        nation, F.col("s_nationkey") == nation.n_nationkey, "left_semi"
    )
    return (
        supp.join(dominant, supp.s_suppkey == dominant.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
    )


Q20_SQL = """
WITH shipped AS (
  SELECT l_partkey, l_suppkey,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS supp_qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1997-01-01'
    AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'cold%')
  GROUP BY l_partkey, l_suppkey
), dominant AS (
  SELECT DISTINCT l_suppkey
  FROM (
    SELECT l_suppkey, supp_qty,
           CAST(SUM(supp_qty) OVER (PARTITION BY l_partkey) AS BIGINT) AS part_qty
    FROM shipped
  ) WHERE supp_qty * 2 > part_qty
)
SELECT s_suppkey, s_name
FROM supplier
WHERE s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_nationkey < 10)
  AND s_suppkey IN (SELECT l_suppkey FROM dominant)
"""


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape: sole-late supplier on multi-supplier finished orders.

    EXISTS/NOT-EXISTS pair folded into one pass: per (order, supplier)
    lateness flags, then per-order counts via a window partitioned by
    orderkey (bounded by suppliers-per-order). A supplier qualifies when
    it is late, the order has >1 supplier, and no one else is late.
    """
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    li = read_table(spark, sf_dir, "lineitem")
    flags = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                (
                    F.col("l_shipdate")
                    > F.col("o_orderdate") + F.expr("INTERVAL 45 DAYS")
                ).cast("long")
            ).alias("late")
        )
    )
    w = Window.partitionBy("l_orderkey")
    hits = (
        flags.withColumn("nsupp", F.count(F.lit(1)).over(w))
        .withColumn("nlate", F.sum("late").over(w))
        .filter(
            (F.col("late") == 1) & (F.col("nsupp") > 1) & (F.col("nlate") == 1)
        )
    )
    supp = read_table(spark, sf_dir, "supplier")
    return (
        hits.join(supp, hits.l_suppkey == supp.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_suppkey")
        .limit(20)
    )


Q21_SQL = """
WITH flags AS (
  SELECT l_orderkey, l_suppkey,
         MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 45 DAY THEN 1 ELSE 0 END) AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
  GROUP BY l_orderkey, l_suppkey
), counted AS (
  SELECT l_suppkey, late,
         COUNT(*)  OVER (PARTITION BY l_orderkey) AS nsupp,
         SUM(late) OVER (PARTITION BY l_orderkey) AS nlate
  FROM flags
)
SELECT s_suppkey, s_name, COUNT(*) AS numwait
FROM counted JOIN supplier ON l_suppkey = s_suppkey
WHERE late = 1 AND nsupp > 1 AND nlate = 1
GROUP BY s_suppkey, s_name
ORDER BY numwait DESC, s_suppkey
LIMIT 20
"""


def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape: rich never-ordered customers per country code.

    ``c_acctbal > AVG(positive balances)`` is the exact integer test
    ``acct_cents * cnt > sum_cents`` (BIGINT cross-multiplication; at
    100 TB the product stays < 2^63). NOT EXISTS(orders) is a left-anti
    join. The scalar stats row is broadcast.
    """
    cust = read_table(spark, sf_dir, "customer").filter(F.col("c_nationkey") < 10)
    cents = _cents(F.col("c_acctbal"))
    stats = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(
            F.sum(cents).alias("sum_cents"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )
    orders = read_table(spark, sf_dir, "orders")
    rich = (
        cust.withColumn("acct_cents", cents)
        .join(F.broadcast(stats))
        .filter(F.col("acct_cents") * F.col("cnt") > F.col("sum_cents"))
    )
    return (
        rich.join(orders, rich.c_custkey == orders.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum("acct_cents").alias("totacctbal_cents"),
        )
    )


Q22_SQL = """
WITH cust AS (
  SELECT c_custkey, c_nationkey, CAST(ROUND(c_acctbal * 100) AS BIGINT) AS acct_cents, c_acctbal
  FROM customer WHERE c_nationkey < 10
), stats AS (
  SELECT CAST(SUM(acct_cents) AS BIGINT) AS sum_cents, COUNT(*) AS cnt
  FROM cust WHERE c_acctbal > 0
)
SELECT c_nationkey AS cntrycode, COUNT(*) AS numcust,
       CAST(SUM(acct_cents) AS BIGINT) AS totacctbal_cents
FROM cust, stats
WHERE acct_cents * cnt > sum_cents
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_nationkey
"""


LIFT_SCALE = 6  # round lift to 6dp


def market_basket_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-occurrence mining: part-type pairs bought in the same order.

    The market-basket core: per-order DISTINCT type set (bounded — types
    per order ≤ lines per order), unordered pairs via a self-join on
    orderkey with ``type_a < type_b``, then support counts and lift.
    Lift's division is the only float op; its operands are exact int64
    products (n_pair·n_orders and n_a·n_b), so both engines round the
    same quotient.

    Scale shape: the part dim broadcasts into the lineitem scan; the
    distinct and the pair self-join shuffle on orderkey (pair fan-out
    bounded per order by distinct-types², never cross-order); the final
    rollup is a tiny hash-agg. The single-row order-count broadcast is
    the allowlisted Q11 shape.
    """
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = F.broadcast(
        read_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    )
    ot = (
        li.join(part, li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_type")
        .distinct()
    )
    n_orders = ot.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    per_type = ot.groupBy(F.col("p_type").alias("t")).agg(
        F.count(F.lit(1)).alias("n_t")
    )
    a = ot.select("l_orderkey", F.col("p_type").alias("type_a"))
    b = ot.select("l_orderkey", F.col("p_type").alias("type_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    na = per_type.select(F.col("t").alias("type_a"), F.col("n_t").alias("n_a"))
    nb = per_type.select(F.col("t").alias("type_b"), F.col("n_t").alias("n_b"))
    return (
        pairs.join(F.broadcast(na), "type_a")
        .join(F.broadcast(nb), "type_b")
        .join(F.broadcast(n_orders))
        .select(
            "type_a",
            "type_b",
            "n_pair",
            F.round(
                (F.col("n_pair") * F.col("n_orders"))
                / (F.col("n_a") * F.col("n_b")),
                LIFT_SCALE,
            ).alias("lift"),
        )
    )


MARKET_BASKET_SQL = f"""
WITH ot AS (
  SELECT DISTINCT l_orderkey, p_type
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
n_orders AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM ot),
per_type AS (SELECT p_type AS t, COUNT(*) AS n_t FROM ot GROUP BY 1),
pairs AS (
  SELECT a.p_type AS type_a, b.p_type AS type_b, COUNT(*) AS n_pair
  FROM ot a JOIN ot b
    ON a.l_orderkey = b.l_orderkey AND a.p_type < b.p_type
  GROUP BY 1, 2
)
SELECT type_a, type_b, n_pair,
       ROUND((n_pair * n_orders) / (na.n_t * nb.n_t), {LIFT_SCALE}) AS lift
FROM pairs
JOIN per_type na ON na.t = type_a
JOIN per_type nb ON nb.t = type_b
CROSS JOIN n_orders
"""


def discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-product-type OLS of order quantity on discount percent.

    The pricing read on the fact table: does a deeper discount actually
    move more units, and does the response differ by product family?
    x = discount in integer percent (TPC-H discounts are exact
    hundredths, so ROUND(d*100) is lossless), y = quantity; per p_type
    the OLS slope comes from the five classic sums. The sums themselves
    are exact int64 at any SF (x ≤ 10, y ≤ 50), but the n·Σxy cross
    terms would overflow past ~sf300, so the slope numerator/denominator
    are formed in DOUBLE from the exact integer sums — both engines
    evaluate the identical expression tree, then ONE floor quantizes to
    micro (units per discount point). Shape: lineitem⇒part equi-join
    (partkey, broadcast-eligible dim at test SF, shuffle join at scale)
    into a |p_type|-bounded hash-agg — no window, no self-join.
    """
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    xy = li.join(part, li.l_partkey == part.p_partkey).select(
        "p_type",
        F.round(F.col("l_discount") * 100).cast("long").alias("x"),
        F.round(F.col("l_quantity")).cast("long").alias("y"),
    )
    s = xy.groupBy("p_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    return s.select(
        "p_type",
        "n",
        F.expr("(sy * 1000000) div n").alias("mean_qty_micro"),
        F.expr(
            "CAST(FLOOR((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
            " * 1000000 / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx))"
            " AS BIGINT)"
        ).alias("slope_micro"),
    )


ELASTICITY_SQL = """
WITH xy AS (
  SELECT p_type,
         CAST(ROUND(l_discount * 100) AS BIGINT) AS x,
         CAST(ROUND(l_quantity) AS BIGINT) AS y
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
s AS (
  SELECT p_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM xy GROUP BY 1
)
SELECT p_type, n,
       (sy * 1000000) // n AS mean_qty_micro,
       CAST(FLOOR((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
            * 1000000 / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx))
            AS BIGINT) AS slope_micro
FROM s
"""


SHIPLAG_LATE_DAYS = 90


def lineitem_leadtime_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship lag SLA profile per order priority.

    The logistics read q12 only hints at: per priority, the full
    fulfillment-lag (ship date − order date, days) distribution
    summary — exact p50/p90 via the count-distribution idiom (lags are
    SMALL integers, so the cumulative scan runs over ~120 distinct
    values per priority, never rows; rank picks are the integer
    inequalities 2·cum ≥ n and 10·cum ≥ 9·n, no sort of the fact
    table), the >90-day late share in integer micro, and the mean in
    micro via ONE rounded double (Σlag·1e6 would overflow int64 past
    ~sf100 — the documented DOUBLE-form discipline). One
    lineitem⇒orders equi-join into a (priority × lag) hash-agg;
    everything downstream is bounded.
    """
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cells = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            "o_orderpriority",
            F.datediff("l_shipdate", "o_orderdate").cast("long").alias("lag"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("lag")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("o_orderpriority")
    scan = cells.select(
        "o_orderpriority",
        "lag",
        "c",
        F.sum("c").over(w).alias("cum"),
        F.sum("c").over(wall).alias("n"),
    )
    return scan.groupBy("o_orderpriority").agg(
        F.max("n").alias("n_items"),
        F.expr(
            "CAST(ROUND(CAST(SUM(lag * c) AS DOUBLE) * 1000000 / MAX(n))"
            " AS BIGINT)"
        ).alias("mean_lag_micro"),
        F.expr(
            f"(SUM(CASE WHEN lag > {SHIPLAG_LATE_DAYS} THEN c ELSE 0 END)"
            " * 1000000) div MAX(n)"
        ).alias("late_share_micro"),
        F.min(F.when(F.expr("2 * cum >= n"), F.col("lag"))).alias("p50_lag"),
        F.min(F.when(F.expr("10 * cum >= 9 * n"), F.col("lag"))).alias(
            "p90_lag"
        ),
    )


LEADTIME_SQL = f"""
WITH cells AS (
  SELECT o_orderpriority,
         CAST(datediff('day', o_orderdate, l_shipdate) AS BIGINT) AS lag,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
),
scan AS (
  SELECT o_orderpriority, lag, c,
         CAST(SUM(c) OVER (PARTITION BY o_orderpriority ORDER BY lag) AS BIGINT) AS cum,
         CAST(SUM(c) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS n
  FROM cells
)
SELECT o_orderpriority,
       CAST(MAX(n) AS BIGINT) AS n_items,
       CAST(ROUND(CAST(SUM(lag * c) AS DOUBLE) * 1000000 / MAX(n)) AS BIGINT) AS mean_lag_micro,
       CAST((SUM(CASE WHEN lag > {SHIPLAG_LATE_DAYS} THEN c ELSE 0 END) * 1000000) // MAX(n) AS BIGINT) AS late_share_micro,
       CAST(MIN(CASE WHEN 2 * cum >= n THEN lag END) AS BIGINT) AS p50_lag,
       CAST(MIN(CASE WHEN 10 * cum >= 9 * n THEN lag END) AS BIGINT) AS p90_lag
FROM scan GROUP BY 1
"""


ABC_A_MICRO = 800_000  # A: first 80% of revenue
ABC_B_MICRO = 950_000  # B: next 15%


def orders_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) classification of parts by revenue, at band grain.

    The inventory-policy classic: A-parts carry ~80% of revenue and get
    tight control, B the next 15%, C the long tail. The global
    revenue-desc sort a textbook ABC implies is avoided by power-of-two
    VALUE BANDING of per-part revenue (bit length of cents — the
    orders_gap_distribution bucket trick): cumulative shares run over
    ~45 band rows DESCENDING, never over parts. Classification is
    honest band-grain (a band is A if the share accumulated BEFORE it
    is < 80%, etc. — parts inside a boundary band share its class;
    document, don't hide). Shares use denominator quantization
    (x div (tot div 1e6) — cents·1e6 overflows int64 at ~$92B, the
    lorenz lesson). Output per band: part count, exact revenue,
    cumulative micro share, class.
    """
    li = read_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(_cents(F.col("l_extendedprice"))).alias("cents")
    )
    bands = per_part.groupBy(
        F.expr("CAST(length(bin(cents)) AS BIGINT)").alias("band")
    ).agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("cents").alias("revenue_cents"),
    )
    w = Window.orderBy(F.desc("band")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    tot = bands.agg(F.sum("revenue_cents").alias("tr"))
    scan = bands.withColumn(
        "cum_before", F.coalesce(F.sum("revenue_cents").over(w), F.lit(0))
    ).crossJoin(F.broadcast(tot))
    return scan.select(
        "band",
        "n_parts",
        "revenue_cents",
        F.expr(
            "LEAST((cum_before + revenue_cents)"
            " div GREATEST(tr div 1000000, 1), 1000000)"
        ).alias("cum_share_micro"),
        F.expr(
            f"CASE WHEN cum_before div GREATEST(tr div 1000000, 1)"
            f" < {ABC_A_MICRO} THEN 'A'"
            f" WHEN cum_before div GREATEST(tr div 1000000, 1)"
            f" < {ABC_B_MICRO} THEN 'B' ELSE 'C' END"
        ).alias("abc_class"),
    )


ABC_SQL = f"""
WITH per_part AS (
  SELECT l_partkey,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem GROUP BY 1
),
bands AS (
  SELECT CAST(length(bin(cents)) AS BIGINT) AS band,
         CAST(COUNT(*) AS BIGINT) AS n_parts,
         CAST(SUM(cents) AS BIGINT) AS revenue_cents
  FROM per_part GROUP BY 1
),
tot AS (SELECT CAST(SUM(revenue_cents) AS BIGINT) AS tr FROM bands),
scan AS (
  SELECT band, n_parts, revenue_cents,
         CAST(COALESCE(SUM(revenue_cents) OVER (
           ORDER BY band DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS cum_before
  FROM bands
)
SELECT band, n_parts, revenue_cents,
       LEAST((cum_before + revenue_cents) // GREATEST(tr // 1000000, 1), 1000000) AS cum_share_micro,
       CASE WHEN cum_before // GREATEST(tr // 1000000, 1) < {ABC_A_MICRO} THEN 'A'
            WHEN cum_before // GREATEST(tr // 1000000, 1) < {ABC_B_MICRO} THEN 'B'
            ELSE 'C' END AS abc_class
FROM scan CROSS JOIN tot
"""


def supplier_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman supplier-concentration index per product type.

    The supply-chain risk read: a p_type sourced mostly from one
    supplier (HHI → 1e6) is a single point of failure; a diversified
    one (HHI → 1e6/n) is resilient. Per (type, supplier) revenue from
    one lineitem⇒part equi-join, per-type totals via a second bounded
    agg; shares quantized to MILLI via denominator quantization
    (rev div (tot div 1000) — rev·1000 overflows int64 at ~$92T but
    the habit is the lorenz discipline) then squared and summed —
    milli² = micro, exactly the modularity idiom, Σshare² ≤ 1e6 always
    fits. Output per p_type: supplier count, HHI micro, top-supplier
    milli share (max commutes into the agg, no window).
    """
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    cells = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_type", "l_suppkey")
        .agg(F.sum(_cents(F.col("l_extendedprice"))).alias("rev"))
    )
    totals = cells.groupBy("p_type").agg(F.sum("rev").alias("tot"))
    shares = cells.join(totals, "p_type").select(
        "p_type",
        F.expr("rev div GREATEST(tot div 1000, 1)").alias("share_milli"),
    )
    return shares.groupBy("p_type").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum(F.expr("share_milli * share_milli")).alias("hhi_micro"),
        F.max("share_milli").alias("top_share_milli"),
    )


HHI_SQL = """
WITH cells AS (
  SELECT p_type, l_suppkey,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2
),
totals AS (SELECT p_type, CAST(SUM(rev) AS BIGINT) AS tot FROM cells GROUP BY 1),
shares AS (
  SELECT c.p_type, rev // GREATEST(tot // 1000, 1) AS share_milli
  FROM cells c JOIN totals t ON t.p_type = c.p_type
)
SELECT p_type,
       CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       CAST(SUM(share_milli * share_milli) AS BIGINT) AS hhi_micro,
       CAST(MAX(share_milli) AS BIGINT) AS top_share_milli
FROM shares GROUP BY 1
"""


# --- orders_promo_lift: difference-in-differences promo read ---------------

DID_CUTOFF = "1998-07-01"


def orders_promo_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promo lift as a DIFFERENCE-IN-DIFFERENCES table — the causal-read
    companion to events_ab_test (randomized) for OBSERVATIONAL pricing
    data, where promo items were never randomly assigned: compare the
    before→after change in average line revenue for promo-type parts
    against the same change for everything else; the second difference
    nets out market-wide drift that a naive before/after would book as
    promo effect.

    One row: the four cell means (milli-cents, exact floor division of
    int64 cent sums), each cell's n, and
    did_milli = (promo_after − promo_before) − (other_after − other_before).

    Scale shape: one lineitem⇒part equi-join (broadcast-able dim) into
    EIGHT conditional aggregates on a single scan — no pivot shuffle, no
    self-join; the output is one row. At 100 TB this is a map-side
    combine into one reducer row, the cheapest possible estimator.
    """
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    j = li.join(part, li.l_partkey == part.p_partkey).select(
        (F.col("p_type") == "PROMO").alias("promo"),
        (F.col("l_shipdate") >= DID_CUTOFF).alias("after"),
        F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
        )
        .cast("long")
        .alias("cents"),
    )

    def cell(p: bool, a: bool, what: str):
        cond = (F.col("promo") == p) & (F.col("after") == a)
        if what == "n":
            return F.sum(F.when(cond, 1).otherwise(0))
        return F.sum(F.when(cond, F.col("cents")).otherwise(0))

    s = j.agg(
        cell(True, False, "n").alias("n_pb"),
        cell(True, False, "s").alias("s_pb"),
        cell(True, True, "n").alias("n_pa"),
        cell(True, True, "s").alias("s_pa"),
        cell(False, False, "n").alias("n_ob"),
        cell(False, False, "s").alias("s_ob"),
        cell(False, True, "n").alias("n_oa"),
        cell(False, True, "s").alias("s_oa"),
    )
    m = s.select(
        "n_pb",
        "n_pa",
        "n_ob",
        "n_oa",
        F.expr("(s_pb * 1000) div n_pb").alias("promo_before_milli"),
        F.expr("(s_pa * 1000) div n_pa").alias("promo_after_milli"),
        F.expr("(s_ob * 1000) div n_ob").alias("other_before_milli"),
        F.expr("(s_oa * 1000) div n_oa").alias("other_after_milli"),
    )
    return m.select(
        "*",
        (
            (F.col("promo_after_milli") - F.col("promo_before_milli"))
            - (F.col("other_after_milli") - F.col("other_before_milli"))
        ).alias("did_milli"),
    )


PROMO_LIFT_SQL = f"""
WITH j AS (
  SELECT p_type = 'PROMO' AS promo,
         l_shipdate >= '{DID_CUTOFF}' AS after,
         CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS cents
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
s AS (
  SELECT
    SUM(CASE WHEN promo AND NOT after THEN 1 ELSE 0 END) AS n_pb,
    SUM(CASE WHEN promo AND NOT after THEN cents ELSE 0 END) AS s_pb,
    SUM(CASE WHEN promo AND after THEN 1 ELSE 0 END) AS n_pa,
    SUM(CASE WHEN promo AND after THEN cents ELSE 0 END) AS s_pa,
    SUM(CASE WHEN NOT promo AND NOT after THEN 1 ELSE 0 END) AS n_ob,
    SUM(CASE WHEN NOT promo AND NOT after THEN cents ELSE 0 END) AS s_ob,
    SUM(CASE WHEN NOT promo AND after THEN 1 ELSE 0 END) AS n_oa,
    SUM(CASE WHEN NOT promo AND after THEN cents ELSE 0 END) AS s_oa
  FROM j
)
SELECT CAST(n_pb AS BIGINT) AS n_pb,
       CAST(n_pa AS BIGINT) AS n_pa,
       CAST(n_ob AS BIGINT) AS n_ob,
       CAST(n_oa AS BIGINT) AS n_oa,
       CAST(s_pb * 1000 // n_pb AS BIGINT) AS promo_before_milli,
       CAST(s_pa * 1000 // n_pa AS BIGINT) AS promo_after_milli,
       CAST(s_ob * 1000 // n_ob AS BIGINT) AS other_before_milli,
       CAST(s_oa * 1000 // n_oa AS BIGINT) AS other_after_milli,
       CAST((s_pa * 1000 // n_pa) - (s_pb * 1000 // n_pb)
          - ((s_oa * 1000 // n_oa) - (s_ob * 1000 // n_ob)) AS BIGINT) AS did_milli
FROM s
"""


# --- part_recs_hitrate: co-purchase recommender with honest holdout --------

RECS_SPLIT = "2000-01-01"  # temporal train/eval split on o_orderdate
RECS_TOPK = 3


def part_recs_hitrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item co-purchase recommender, scored on a TEMPORAL holdout —
    the recsys rung of the honest-eval family (next-event predictor,
    forecast backtest, NB classifier): train co-occurrence counts on
    orders before RECS_SPLIT, recommend each part's top-K co-purchased
    parts (count desc, partkey asc ties), then measure on later orders:
    an eval (order, part) HITS when any recommended part appears in the
    same basket. The baseline column recommends the K globally
    most-popular training parts to everyone — the lift over it is what
    says the affinity signal is real, not popularity restated. (On
    TPC-H's uniform-random baskets the affinity model does NOT beat
    popularity — the honest reading this eval exists to produce; on
    real purchase data the same table is the go/no-go.)

    Scale shape: basket pairs fan out per order by distinct-parts² (TPC-H
    ~4 lines/order — bounded); the model is a per-part top-K window over
    the co-occurrence agg; scoring is two equi-joins (eval rows onto the
    model, recommendations back onto the basket). One summary row.
    """
    from pyspark.sql.window import Window

    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    basket = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            "o_orderkey",
            "l_partkey",
            (F.col("o_orderdate") < RECS_SPLIT).alias("is_train"),
        )
        .distinct()
        .localCheckpoint()
    )
    train = basket.filter("is_train").select("o_orderkey", "l_partkey")
    a, b = train.alias("a"), train.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.o_orderkey") == F.col("b.o_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("p"), F.col("b.l_partkey").alias("rec")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    recs = (
        co.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("p").orderBy(F.col("c").desc(), F.col("rec"))
            ),
        )
        .filter(F.col("rn") <= RECS_TOPK)
        .select("p", "rec")
    )
    pop = (
        train.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("l_partkey"))
        .limit(RECS_TOPK)
        .select(F.col("l_partkey").alias("rec"))
    )
    ev = basket.filter(~F.col("is_train")).select("o_orderkey", "l_partkey")
    model_hits = (
        ev.join(recs, ev.l_partkey == recs.p)
        .join(
            basket.filter(~F.col("is_train"))
            .select(F.col("o_orderkey").alias("ok2"), F.col("l_partkey").alias("pk2")),
            (F.col("o_orderkey") == F.col("ok2")) & (F.col("rec") == F.col("pk2")),
            "left_semi",
        )
        .select("o_orderkey", "l_partkey")
        .distinct()
    )
    base_hits = (
        ev.crossJoin(F.broadcast(pop))
        .filter(F.col("rec") != F.col("l_partkey"))
        .join(
            basket.filter(~F.col("is_train"))
            .select(F.col("o_orderkey").alias("ok2"), F.col("l_partkey").alias("pk2")),
            (F.col("o_orderkey") == F.col("ok2")) & (F.col("rec") == F.col("pk2")),
            "left_semi",
        )
        .select("o_orderkey", "l_partkey")
        .distinct()
    )
    # r11 (guide §1.2/§2.6): the four summary counts used to run as four
    # SEQUENTIAL driver-blocking jobs (ev / model_hits / base_hits /
    # train-orders) feeding createDataFrame. As 1-row aggregates
    # crossJoined lazily they compute in ONE job whose independent
    # subtrees the DAG scheduler overlaps — values identical (exact
    # integer counts), output row identical.
    n_tr = (
        train.select("o_orderkey")
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_train_orders"))
    )
    n_eval = ev.agg(F.count(F.lit(1)).alias("n_eval_rows"))
    n_model = model_hits.agg(F.count(F.lit(1)).alias("n_model_hits"))
    n_base = base_hits.agg(F.count(F.lit(1)).alias("n_baseline_hits"))
    return (
        n_tr.crossJoin(F.broadcast(n_eval))
        .crossJoin(F.broadcast(n_model))
        .crossJoin(F.broadcast(n_base))
        .select(
            "n_train_orders",
            "n_eval_rows",
            "n_model_hits",
            "n_baseline_hits",
            F.expr("(n_model_hits * 1000000) div greatest(1, n_eval_rows)").alias(
                "hit_ppm"
            ),
            F.expr(
                "(n_baseline_hits * 1000000) div greatest(1, n_eval_rows)"
            ).alias("baseline_ppm"),
        )
    )


PART_RECS_SQL = f"""
WITH basket AS (
  SELECT DISTINCT o_orderkey, l_partkey, o_orderdate < '{RECS_SPLIT}' AS is_train
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
train AS (SELECT o_orderkey, l_partkey FROM basket WHERE is_train),
co AS (
  SELECT a.l_partkey AS p, b.l_partkey AS rec, COUNT(*) AS c
  FROM train a JOIN train b
    ON a.o_orderkey = b.o_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY 1, 2
),
recs AS (
  SELECT p, rec FROM (
    SELECT p, rec, ROW_NUMBER() OVER (PARTITION BY p ORDER BY c DESC, rec) AS rn
    FROM co
  ) WHERE rn <= {RECS_TOPK}
),
pop AS (
  SELECT l_partkey AS rec FROM (
    SELECT l_partkey, COUNT(*) AS c FROM train GROUP BY 1
    ORDER BY c DESC, l_partkey LIMIT {RECS_TOPK}
  )
),
ev AS (SELECT o_orderkey, l_partkey FROM basket WHERE NOT is_train),
model_hits AS (
  SELECT DISTINCT e.o_orderkey, e.l_partkey
  FROM ev e
  JOIN recs r ON e.l_partkey = r.p
  JOIN ev e2 ON e2.o_orderkey = e.o_orderkey AND e2.l_partkey = r.rec
),
base_hits AS (
  SELECT DISTINCT e.o_orderkey, e.l_partkey
  FROM ev e
  CROSS JOIN pop r
  JOIN ev e2 ON e2.o_orderkey = e.o_orderkey AND e2.l_partkey = r.rec
  WHERE r.rec <> e.l_partkey
),
s AS (
  SELECT (SELECT COUNT(DISTINCT o_orderkey) FROM train) AS n_train_orders,
         (SELECT COUNT(*) FROM ev) AS n_eval_rows,
         (SELECT COUNT(*) FROM model_hits) AS n_model_hits,
         (SELECT COUNT(*) FROM base_hits) AS n_baseline_hits
)
SELECT CAST(n_train_orders AS BIGINT) AS n_train_orders,
       CAST(n_eval_rows AS BIGINT) AS n_eval_rows,
       CAST(n_model_hits AS BIGINT) AS n_model_hits,
       CAST(n_baseline_hits AS BIGINT) AS n_baseline_hits,
       CAST((n_model_hits * 1000000) // GREATEST(1, n_eval_rows) AS BIGINT) AS hit_ppm,
       CAST((n_baseline_hits * 1000000) // GREATEST(1, n_eval_rows) AS BIGINT) AS baseline_ppm
FROM s
"""


# --- nation_trade_pagerank: centrality of the trade network -----------------


def nation_trade_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the nation-to-nation TRADE network — the
    graph tier generalized beyond the dedup candidate graph (as RFM
    k-means generalized the clustering tier): nodes are nations, edge
    weight = line items shipped from a supplier nation to a customer
    nation, symmetrized; rank is the integer-exact weighted PageRank
    (operators/dedup.pagerank_int_weighted, the kernel dedup_pagerank
    runs with unit weights), so an iterative centrality
    over a business graph keeps a full value-hash oracle. High-rank
    nations are the hubs whose disruption propagates — Q7's volume
    table answers "how much", this answers "how central".

    Scale shape: the corpus-sized work is the supplier/orders/customer
    equi-joins collapsing lineitem to a |nations|²-bounded weighted edge
    list; the PageRank rounds run on that tiny frame.
    """
    from ..operators.dedup import _undirected, pagerank_int_weighted

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    sup = read_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    raw = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("s_nationkey").alias("sn"), F.col("c_nationkey").alias("cn")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    und = (
        _undirected(
            raw.select(F.col("sn").alias("doc_a"), F.col("cn").alias("doc_b"), "w")
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.sum("w").alias("w"))
    )
    ranks = pagerank_int_weighted(und)
    nation = read_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    return ranks.join(
        F.broadcast(nation), ranks.doc_id == nation.n_nationkey
    ).select(F.col("n_name").alias("nation"), "rank_u6")


def _trade_pagerank_sql() -> str:
    from ..operators.dedup import _und_sql, pagerank_weighted_sql

    trade = """
      SELECT s_nationkey AS doc_a, c_nationkey AS doc_b, COUNT(*) AS w
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2
"""
    pr = pagerank_weighted_sql(
        f"SELECT doc_a, doc_b, SUM(w) AS w FROM ({_und_sql(trade, ', w')}) GROUP BY 1, 2"
    )
    return f"""
WITH pr AS ({pr})
SELECT n_name AS nation, rank_u6
FROM pr JOIN nation ON doc_id = n_nationkey
"""


TRADE_PAGERANK_SQL = _trade_pagerank_sql()


# --- lineitem_single_source_risk: supply-chain concentration audit ----------


def lineitem_single_source_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-concentration risk by dominant-supplier nation — HHI says
    "concentrated", this names the cliff. Two tiers per part: literal
    SINGLE-SOURCE (one observed supplier — the hard cliff; zero on
    TPC-H's ~26-supplier parts, counted honestly so real data surfaces
    them) and the TOP-QUARTILE most concentrated parts by dominant-
    supplier quantity share (rank-relative, so the table is never
    degenerate-empty: every corpus has a most-concentrated tail). Per
    dominant supplier's nation: how many flagged parts lean on one of
    its suppliers, and the revenue flowing through that dominance.

    Shares are exact ppm of int64 quantity sums; the quartile is a RANK
    cut (share desc, partkey asc — deterministic), not a float quantile.
    Scale shape: per-(part, supplier) aggregate → part-grain argmax
    (max_by struct) → one global rank window over the PART dimension
    (catalog-sized, not fact-sized) → |nations|-row rollup.
    """
    from pyspark.sql.window import Window

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        F.round(F.col("l_quantity")).cast("long").alias("qty"),
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
        .cast("long")
        .alias("cents"),
    )
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("qty").alias("q"),
        F.sum("cents").alias("c"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    per_part = ps.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("q").alias("tq"),
        F.expr("max_by(l_suppkey, struct(q, -l_suppkey))").alias("dom_supp"),
        F.max("q").alias("dom_q"),
        F.expr("max_by(c, struct(q, -l_suppkey))").alias("dom_cents"),
    ).withColumn(
        "share_ppm", F.expr("(dom_q * 1000000) div tq")
    )
    n_parts = per_part.count()  # catalog-sized driver scalar: rank cut
    ranked = per_part.withColumn(
        "rnk",
        F.row_number().over(
            Window.orderBy(F.col("share_ppm").desc(), F.col("l_partkey").asc())
        ),
    )
    flagged = ranked.filter(
        (F.col("n_suppliers") == 1) | (F.col("rnk") * 4 <= F.lit(n_parts))
    )
    sup = read_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nation = read_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    return (
        flagged.join(F.broadcast(sup), F.col("dom_supp") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(F.when(F.col("n_suppliers") == 1, 1).otherwise(0)).alias(
                "n_single_source_parts"
            ),
            F.count(F.lit(1)).alias("n_concentrated_parts"),
            F.sum("dom_cents").alias("revenue_through_dominant_cents"),
            F.max("share_ppm").alias("max_share_ppm"),
        )
    )


SINGLE_SOURCE_SQL = """
WITH li AS (
  SELECT l_partkey, l_suppkey,
         CAST(ROUND(l_quantity) AS BIGINT) AS qty,
         CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS cents
  FROM lineitem
),
ps AS (
  SELECT l_partkey, l_suppkey, SUM(qty) AS q, SUM(cents) AS c
  FROM li GROUP BY 1, 2
),
per_part AS (
  SELECT l_partkey,
         COUNT(*) AS n_suppliers,
         SUM(q) AS tq,
         MAX(q) AS dom_q
  FROM ps GROUP BY 1
),
dom AS (
  SELECT p.l_partkey, p.n_suppliers, p.tq, p.dom_q,
         s.l_suppkey AS dom_supp, s.c AS dom_cents,
         (p.dom_q * 1000000) // p.tq AS share_ppm
  FROM per_part p
  JOIN ps s ON s.l_partkey = p.l_partkey AND s.q = p.dom_q
  QUALIFY ROW_NUMBER() OVER (PARTITION BY p.l_partkey
                             ORDER BY s.l_suppkey ASC) = 1
),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (ORDER BY share_ppm DESC, l_partkey ASC) AS rnk,
         COUNT(*) OVER () AS n_parts
  FROM dom
),
flagged AS (
  SELECT * FROM ranked WHERE n_suppliers = 1 OR rnk * 4 <= n_parts
)
SELECT n_name AS nation,
       CAST(SUM(CASE WHEN n_suppliers = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_single_source_parts,
       CAST(COUNT(*) AS BIGINT) AS n_concentrated_parts,
       CAST(SUM(dom_cents) AS BIGINT) AS revenue_through_dominant_cents,
       CAST(MAX(share_ppm) AS BIGINT) AS max_share_ppm
FROM flagged
JOIN supplier ON dom_supp = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
"""


# --- lineitem_revenue_bridge: price/volume decomposition YoY -----------------

BRIDGE_Y1 = "1997"
BRIDGE_Y2 = "1998"


def lineitem_revenue_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue BRIDGE per product type — the FP&A classic:
    decompose ΔRevenue into a price effect (what changed because unit
    prices moved, at last year's volume), a volume effect (what changed
    because quantity moved, at last year's price), and the residual
    cross/mix term, which together reconstruct the delta EXACTLY:

      price  = q1·(S2/q2 − S1/q1)   volume = (q2 − q1)·S1/q1
      residual = ΔS − price − volume   (identity, enforced by test)

    Sums are exact int64 cents/quantities; each effect takes ONE
    rational floor to milli-cents, and the residual is defined from
    those floors so the identity holds in integers — both engines agree
    bit-for-bit. The reading: price-led growth is margin, volume-led
    growth is demand, a residual dominating either means the mix shifted.

    Scale shape: one lineitem⇒part equi-join into a |p_type|-bounded
    conditional aggregate (both years in one scan); no window, no
    self-join.
    """
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    j = li.join(part, li.l_partkey == part.p_partkey).select(
        "p_type",
        F.year(F.col("l_shipdate")).alias("yr"),
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
        .cast("long")
        .alias("cents"),
        F.round(F.col("l_quantity")).cast("long").alias("qty"),
    )
    s = (
        j.filter(F.col("yr").isin(int(BRIDGE_Y1), int(BRIDGE_Y2)))
        .groupBy("p_type")
        .agg(
            F.sum(F.when(F.col("yr") == int(BRIDGE_Y1), F.col("cents")).otherwise(0)).alias("s1"),
            F.sum(F.when(F.col("yr") == int(BRIDGE_Y1), F.col("qty")).otherwise(0)).alias("q1"),
            F.sum(F.when(F.col("yr") == int(BRIDGE_Y2), F.col("cents")).otherwise(0)).alias("s2"),
            F.sum(F.when(F.col("yr") == int(BRIDGE_Y2), F.col("qty")).otherwise(0)).alias("q2"),
        )
        .filter((F.col("q1") > 0) & (F.col("q2") > 0))
    )
    price = (
        "CAST(FLOOR(CAST(q1 AS DOUBLE) * s2 * 1000 / q2"
        " - CAST(s1 AS DOUBLE) * 1000) AS BIGINT)"
    )
    volume = (
        "CAST(FLOOR((CAST(q2 AS DOUBLE) - q1) * s1 * 1000 / q1) AS BIGINT)"
    )
    return s.select(
        "p_type",
        F.col("s1").alias("rev1_cents"),
        F.col("s2").alias("rev2_cents"),
        ((F.col("s2") - F.col("s1")) * 1000).alias("delta_milli"),
        F.expr(price).alias("price_effect_milli"),
        F.expr(volume).alias("volume_effect_milli"),
        (
            (F.col("s2") - F.col("s1")) * 1000
            - F.expr(price)
            - F.expr(volume)
        ).alias("residual_milli"),
    )


REVENUE_BRIDGE_SQL = f"""
WITH j AS (
  SELECT p_type,
         EXTRACT(year FROM l_shipdate) AS yr,
         CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS cents,
         CAST(ROUND(l_quantity) AS BIGINT) AS qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
s AS (
  SELECT p_type,
         SUM(CASE WHEN yr = {BRIDGE_Y1} THEN cents ELSE 0 END) AS s1,
         SUM(CASE WHEN yr = {BRIDGE_Y1} THEN qty ELSE 0 END) AS q1,
         SUM(CASE WHEN yr = {BRIDGE_Y2} THEN cents ELSE 0 END) AS s2,
         SUM(CASE WHEN yr = {BRIDGE_Y2} THEN qty ELSE 0 END) AS q2
  FROM j WHERE yr IN ({BRIDGE_Y1}, {BRIDGE_Y2})
  GROUP BY p_type
)
SELECT p_type,
       CAST(s1 AS BIGINT) AS rev1_cents,
       CAST(s2 AS BIGINT) AS rev2_cents,
       CAST((s2 - s1) * 1000 AS BIGINT) AS delta_milli,
       CAST(FLOOR(CAST(q1 AS DOUBLE) * s2 * 1000 / q2
            - CAST(s1 AS DOUBLE) * 1000) AS BIGINT) AS price_effect_milli,
       CAST(FLOOR((CAST(q2 AS DOUBLE) - q1) * s1 * 1000 / q1) AS BIGINT) AS volume_effect_milli,
       CAST((s2 - s1) * 1000
            - CAST(FLOOR(CAST(q1 AS DOUBLE) * s2 * 1000 / q2
                   - CAST(s1 AS DOUBLE) * 1000) AS BIGINT)
            - CAST(FLOOR((CAST(q2 AS DOUBLE) - q1) * s1 * 1000 / q1) AS BIGINT)
            AS BIGINT) AS residual_milli
FROM s
WHERE q1 > 0 AND q2 > 0
"""


DUAL_SOURCE_TOPK = 3


def supplier_dual_sourcing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dual-sourcing RECOMMENDATIONS for the most supply-concentrated
    parts — the actionable follow-up to lineitem_single_source_risk: for
    each part in the top concentration decile (dominant-supplier share
    rank; decile rather than the risk table's quartile keeps the
    recommendation queue review-sized), the top-K candidate alternates =
    suppliers with the largest proven shipment volume in the SAME
    product type, excluding the dominant incumbent. Ties break by
    supplier key; part rank ties by part key — fully deterministic.

    Scale shape: the concentration rank is a part-dimension window (the
    catalog, not the fact stream); type-level supplier volumes are one
    lineitem⇒part⇒supplier aggregate (|type|×|supplier| bounded); the
    recommendation join is an equi-join on p_type + a per-part top-K
    window (fan-out K).
    """
    from pyspark.sql.window import Window

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey",
        F.round(F.col("l_quantity")).cast("long").alias("qty"),
    )
    part = read_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(F.sum("qty").alias("q"))
    per_part = ps.groupBy("l_partkey").agg(
        F.sum("q").alias("tq"),
        F.expr("max_by(l_suppkey, struct(q, -l_suppkey))").alias("incumbent"),
        F.max("q").alias("dom_q"),
    ).withColumn("share_ppm", F.expr("(dom_q * 1000000) div tq"))
    n_parts = per_part.count()  # catalog-sized driver scalar: rank cut
    conc = (
        per_part.withColumn(
            "prnk",
            F.row_number().over(
                Window.orderBy(
                    F.col("share_ppm").desc(), F.col("l_partkey").asc()
                )
            ),
        )
        .filter(F.col("prnk") * 10 <= F.lit(n_parts))
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .select("l_partkey", "incumbent", "p_type")
    )
    type_vol = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_type", "l_suppkey")
        .agg(F.sum("qty").alias("type_qty"))
    )
    cand = (
        conc.join(type_vol, "p_type")
        .filter(F.col("l_suppkey") != F.col("incumbent"))
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("l_partkey").orderBy(
                    F.col("type_qty").desc(), F.col("l_suppkey").asc()
                )
            ),
        )
        .filter(F.col("rnk") <= DUAL_SOURCE_TOPK)
    )
    return cand.select(
        F.col("l_partkey").alias("partkey"),
        "incumbent",
        F.col("l_suppkey").alias("candidate_supp"),
        "type_qty",
        F.col("rnk").cast("long").alias("rnk"),
    )


DUAL_SOURCING_SQL = f"""
WITH li AS (
  SELECT l_partkey, l_suppkey, CAST(ROUND(l_quantity) AS BIGINT) AS qty
  FROM lineitem
),
ps AS (
  SELECT l_partkey, l_suppkey, SUM(qty) AS q FROM li GROUP BY 1, 2
),
per_part AS (
  SELECT l_partkey, SUM(q) AS tq, MAX(q) AS dom_q FROM ps GROUP BY 1
),
dom AS (
  SELECT p.l_partkey, s.l_suppkey AS incumbent,
         (p.dom_q * 1000000) // p.tq AS share_ppm
  FROM per_part p
  JOIN ps s ON s.l_partkey = p.l_partkey AND s.q = p.dom_q
  QUALIFY ROW_NUMBER() OVER (PARTITION BY p.l_partkey
                             ORDER BY s.l_suppkey ASC) = 1
),
conc AS (
  SELECT d.l_partkey, d.incumbent, pt.p_type FROM (
    SELECT *,
           ROW_NUMBER() OVER (ORDER BY share_ppm DESC, l_partkey ASC) AS prnk,
           COUNT(*) OVER () AS n_parts
    FROM dom
  ) d JOIN part pt ON d.l_partkey = pt.p_partkey
  WHERE d.prnk * 10 <= d.n_parts
),
type_vol AS (
  SELECT p_type, l_suppkey, SUM(qty) AS type_qty
  FROM li JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2
),
cand AS (
  SELECT c.l_partkey AS partkey, c.incumbent,
         v.l_suppkey AS candidate_supp, v.type_qty,
         ROW_NUMBER() OVER (PARTITION BY c.l_partkey
                            ORDER BY v.type_qty DESC, v.l_suppkey ASC) AS rnk
  FROM conc c JOIN type_vol v USING (p_type)
  WHERE v.l_suppkey <> c.incumbent
)
SELECT partkey, incumbent, candidate_supp,
       CAST(type_qty AS BIGINT) AS type_qty,
       CAST(rnk AS BIGINT) AS rnk
FROM cand WHERE rnk <= {DUAL_SOURCE_TOPK}
"""


def orders_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test per market segment: do URGENT-class
    orders (priority 1-URGENT / 2-HIGH) carry a different price
    distribution than the rest? — the nonparametric rung of the stats
    tier (doc_length_anova's F assumes variance structure; MW ranks are
    distribution-free, the right test for heavy-tailed money columns).

    Ranks stay INTEGER by the dsir_auc doubled-rank idiom generalized
    to the full test readout: aggregate per DISTINCT price cent value
    first (map-side combined), then one cumulative window over the
    grouped frame — sized by the value range, never the order count. A
    tie group at cumulative offset B with c members and u urgent
    contributes u·(2B + c + 1) doubled-rank units, so
    2·R1 = Σ u·(2B+c+1) and 2·U1 = 2·R1 − n1·(n1+1), both exact int64.
    The normal approximation uses the tie-corrected variance
    σ² = n1·n2/12 · ((n+1) − Σ(c³−c)/(n(n−1))); z = (U1 − n1·n2/2)/σ
    runs through one identical double tree in both engines,
    floor-quantized milli; NULLIF keeps one-arm-empty segments NULL.
    int64 headroom: Σc³ ~ segments · ties³ — linear while tie groups
    stay bounded (price cents are near-unique; the 10×/100× gates
    watch it).

    Scale shape: one broadcast dim join (customer segment), one
    map-side-combined groupBy (segment, cents), a per-segment window
    over value-grain rows, then a segments-row agg. Never sorts orders
    globally; never serializes a corpus through one partition.
    """
    customer = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey",
        _cents(F.col("o_totalprice")).alias("cents"),
        F.substring("o_orderpriority", 1, 1).isin("1", "2").cast("long").alias("urgent"),
    )
    vals = (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment", "cents")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.sum("urgent").alias("u"),
        )
    )
    w_cum = (
        Window.partitionBy("c_mktsegment")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    contrib = vals.select(
        "c_mktsegment",
        "c",
        "u",
        (
            F.col("u")
            * (2 * F.coalesce(F.sum("c").over(w_cum), F.lit(0)) + F.col("c") + 1)
        ).alias("r1x2_g"),
        (F.col("c") * F.col("c") * F.col("c") - F.col("c")).alias("tie_g"),
    )
    s = contrib.groupBy("c_mktsegment").agg(
        F.sum("u").alias("n1"),
        F.sum(F.col("c") - F.col("u")).alias("n2"),
        F.sum("r1x2_g").alias("r1x2"),
        F.sum("tie_g").alias("tie_term"),
    )
    sigma = (
        "sqrt(CAST(n1 AS DOUBLE) * n2 / 12.0"
        " * ((n1 + n2 + 1.0)"
        "    - CAST(tie_term AS DOUBLE)"
        "      / NULLIF(CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1.0), 0.0)))"
    )
    z = (
        f"((CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) - CAST(n1 AS DOUBLE) * n2)"
        f" / (2.0 * NULLIF({sigma}, 0.0)))"
    )
    return s.select(
        "c_mktsegment",
        F.col("n1").alias("n_urgent"),
        F.col("n2").alias("n_rest"),
        F.expr("r1x2 - n1 * (n1 + 1)").alias("u1_x2"),
        "tie_term",
        F.expr(f"CAST(FLOOR({z} * 1000) AS BIGINT)").alias("z_milli"),
    )


MANN_WHITNEY_SQL = """
WITH vals AS (
  SELECT c_mktsegment, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
         CAST(COUNT(*) AS BIGINT) AS c,
         CAST(SUM(CASE WHEN substr(o_orderpriority, 1, 1) IN ('1', '2')
                       THEN 1 ELSE 0 END) AS BIGINT) AS u
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
),
contrib AS (
  SELECT c_mktsegment, c, u,
         u * (2 * COALESCE(SUM(c) OVER (PARTITION BY c_mktsegment ORDER BY cents
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              + c + 1) AS r1x2_g,
         c * c * c - c AS tie_g
  FROM vals
),
s AS (
  SELECT c_mktsegment,
         CAST(SUM(u) AS BIGINT) AS n1,
         CAST(SUM(c - u) AS BIGINT) AS n2,
         CAST(SUM(r1x2_g) AS BIGINT) AS r1x2,
         CAST(SUM(tie_g) AS BIGINT) AS tie_term
  FROM contrib GROUP BY 1
)
SELECT c_mktsegment, n1 AS n_urgent, n2 AS n_rest,
       r1x2 - n1 * (n1 + 1) AS u1_x2, tie_term,
       CAST(FLOOR(((CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) - CAST(n1 AS DOUBLE) * n2)
            / (2.0 * NULLIF(sqrt(CAST(n1 AS DOUBLE) * n2 / 12.0
               * ((n1 + n2 + 1.0)
                  - CAST(tie_term AS DOUBLE)
                    / NULLIF(CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1.0), 0.0))), 0.0)))
            * 1000) AS BIGINT) AS z_milli
FROM s
"""


def supplier_gini_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini coefficient of supplier revenue within each nation —
    the scalar customer_revenue_lorenz's curve integrates to, computed
    EXACTLY at supplier grain (the inequality read procurement compares
    across regions: a nation whose spend concentrates on one supplier
    is a supply-chain fragility).

    With x sorted ascending (revenue cents, suppkey as deterministic
    tie-break) and i = 1..n the within-nation rank,
    G = (2·Σ i·x_i − (n+1)·Σx) / (n·Σx): the numerator is exact int64
    (rank·cents products summed per nation), and the ppm quantization
    divides by the QUANTIZED denominator ((n·S) div 1e6 — the lorenz
    discipline: numerator·1e6 would overflow int64 at ~$92T·n). Output
    per nation: supplier count, exact total cents, gini_ppm, and the
    top supplier's milli share (max commutes into the agg).

    Scale shape: one lineitem⇒supplier equi-join aggregated to
    (nation, supplier) grain, a per-nation rank window over
    supplier-grain rows (bounded per nation), one nations-row agg.
    """
    li = read_table(spark, sf_dir, "lineitem")
    sup = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cells = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .groupBy("n_name", "l_suppkey")
        .agg(F.sum(_revenue_cents()).alias("rev"))
    )
    w = Window.partitionBy("n_name").orderBy("rev", "l_suppkey")
    ranked = cells.withColumn("i", F.row_number().over(w).cast("long"))
    return (
        ranked.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum("rev").alias("total_cents"),
            F.sum(F.col("i") * F.col("rev")).alias("irx"),
            F.max("rev").alias("top_rev"),
        )
        .select(
            "n_name",
            "n_suppliers",
            "total_cents",
            F.expr(
                "(2 * irx - (n_suppliers + 1) * total_cents)"
                " div GREATEST((n_suppliers * total_cents) div 1000000, 1)"
            ).alias("gini_ppm"),
            F.expr("top_rev div GREATEST(total_cents div 1000, 1)").alias(
                "top_share_milli"
            ),
        )
    )


SUPPLIER_GINI_SQL = """
WITH cells AS (
  SELECT n_name, l_suppkey,
         CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
              AS BIGINT) AS rev
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY 1, 2
),
ranked AS (
  SELECT n_name, rev,
         CAST(ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY rev, l_suppkey)
              AS BIGINT) AS i
  FROM cells
)
SELECT n_name,
       CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       CAST(SUM(rev) AS BIGINT) AS total_cents,
       (2 * CAST(SUM(i * rev) AS BIGINT)
        - (COUNT(*) + 1) * CAST(SUM(rev) AS BIGINT))
         // GREATEST((COUNT(*) * CAST(SUM(rev) AS BIGINT)) // 1000000, 1)
         AS gini_ppm,
       CAST(MAX(rev) AS BIGINT) // GREATEST(CAST(SUM(rev) AS BIGINT) // 1000, 1)
         AS top_share_milli
FROM ranked
GROUP BY 1
"""


def orders_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Spearman rank correlation between order value and
    the customer's account balance, per market segment — the monotone-
    association rung of the stats tier (lineitem_corr_matrix's Pearson
    reads linear association; Spearman is outlier-robust and catches ANY
    monotone link, the right default for heavy-tailed money columns).

    Ranks stay INTEGER via doubled average ranks computed in ONE window
    pair per variable: rank() gives the tie group's min rank B+1 and a
    RANGE-framed running count gives its max rank B+c, so
    rx2 = 2B + c + 1 = 2·avg_rank exactly — no join back to a value-
    grain frame, no floats. Spearman = Pearson over the doubled ranks
    (shift/scale invariant), with the five sufficient statistics exact:
    n, Σrx, Σry int64 (Σrank2 = n(n+1) ≤ 2n²) and the three product
    sums in decimal(38,0)/HUGEINT (Σ rx2·ry2 ≤ 4n³ — headroom to
    ~1e11 rows per segment). rho and the t statistic
    t = rho·sqrt((n−2)/(1−rho²)) run through one identical double tree
    in both engines, floor-quantized ppm/milli; NULLIF keeps
    zero-variance segments (constant column) NULL, n ≤ 2 gives NULL t.

    Scale shape: one broadcast dim join (customer), ONE exchange on
    segment reused by both sort-windows (rank + running count share
    each sort), then a segments-row aggregate. The per-segment window
    is the accepted orders_mann_whitney shape: |segments| partitions
    each sorting its own slice; never a global sort, never a join at
    corpus grain.
    """
    customer = read_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        _cents(F.col("c_acctbal")).alias("py"),
    )
    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey", _cents(F.col("o_totalprice")).alias("px")
    )
    rows = orders.join(
        F.broadcast(customer), orders.o_custkey == customer.c_custkey
    ).select("c_mktsegment", "px", "py")
    wx = Window.partitionBy("c_mktsegment").orderBy("px")
    wxr = wx.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    wy = Window.partitionBy("c_mktsegment").orderBy("py")
    wyr = wy.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = rows.select(
        "c_mktsegment",
        (F.rank().over(wx).cast("long") + F.count(F.lit(1)).over(wxr)).alias(
            "rx2"
        ),
        (F.rank().over(wy).cast("long") + F.count(F.lit(1)).over(wyr)).alias(
            "ry2"
        ),
    )
    s = ranked.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rx2").alias("sx"),
        F.sum("ry2").alias("sy"),
        F.sum(F.expr("CAST(rx2 AS DECIMAL(19,0)) * rx2")).alias("sxx"),
        F.sum(F.expr("CAST(ry2 AS DECIMAL(19,0)) * ry2")).alias("syy"),
        F.sum(F.expr("CAST(rx2 AS DECIMAL(19,0)) * ry2")).alias("sxy"),
    )
    num = (
        "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    )
    den = (
        "sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        "      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
        "     * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
        "        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
    )
    rho = f"({num} / NULLIF({den}, 0.0))"
    t = f"({rho} * sqrt((n - 2.0) / NULLIF(1.0 - {rho} * {rho}, 0.0)))"
    return s.select(
        "c_mktsegment",
        F.col("n").alias("n_orders"),
        F.expr(f"CAST(FLOOR({rho} * 1000000) AS BIGINT)").alias("rho_ppm"),
        F.expr(
            f"CASE WHEN n > 2 THEN CAST(FLOOR({t} * 1000) AS BIGINT) END"
        ).alias("t_milli"),
    )


SPEARMAN_SQL = """
WITH rows_ AS (
  SELECT c_mktsegment,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS px,
         CAST(ROUND(c_acctbal * 100) AS BIGINT) AS py
  FROM orders JOIN customer ON o_custkey = c_custkey
),
ranked AS (
  SELECT c_mktsegment,
         CAST(RANK() OVER (PARTITION BY c_mktsegment ORDER BY px) AS BIGINT)
           + COUNT(*) OVER (PARTITION BY c_mktsegment ORDER BY px
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rx2,
         CAST(RANK() OVER (PARTITION BY c_mktsegment ORDER BY py) AS BIGINT)
           + COUNT(*) OVER (PARTITION BY c_mktsegment ORDER BY py
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ry2
  FROM rows_
),
s AS (
  SELECT c_mktsegment,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(rx2) AS BIGINT) AS sx,
         CAST(SUM(ry2) AS BIGINT) AS sy,
         SUM(CAST(rx2 AS HUGEINT) * rx2) AS sxx,
         SUM(CAST(ry2 AS HUGEINT) * ry2) AS syy,
         SUM(CAST(rx2 AS HUGEINT) * ry2) AS sxy
  FROM ranked GROUP BY 1
)
SELECT c_mktsegment, n AS n_orders,
       CAST(FLOOR(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / NULLIF(sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 0.0))
            * 1000000) AS BIGINT) AS rho_ppm,
       CASE WHEN n > 2 THEN CAST(FLOOR(
         ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / NULLIF(sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 0.0))
         * sqrt((n - 2.0) / NULLIF(1.0 -
           ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / NULLIF(sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 0.0))
           * ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / NULLIF(sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 0.0)), 0.0))
         * 1000) AS BIGINT) END AS t_milli
FROM s
"""


def supplier_theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of supplier revenue, decomposed
    between/within nations — the additive-decomposition rung beside
    supplier_gini_by_nation (Gini ranks inequality but does not
    decompose; Theil's T = T_between + Σ_j (S_j/S)·T_j splits global
    concentration into cross-nation imbalance and within-nation
    concentration, the read procurement uses to target intervention).

    Per-nation within term T_j = Σ_{i∈j} (x_i/S_j)·ln(x_i·n_j/S_j)
    (the 1/n_j of the textbook form folded into the log argument); the
    between term b_j = (S_j/S)·ln(S_j·N/(S·n_j)). Every per-supplier /
    per-nation double is floor-quantized to integer NANO before any
    cross-partition sum (the vocab_entropy ln-quantization discipline
    at 1e9 — per-term |t_i| ≤ ln n_j so nano keeps ~9 significant
    digits; ≤1 nano floor bias per supplier, identical both engines).
    x_i > 0 is structural (inner join to lineitem, positive cents).

    Scale shape: one lineitem⇒supplier broadcast-dim join aggregated to
    (nation, supplier) grain, a 25-row nation-totals broadcast joined
    back for the per-supplier terms, one 1-row grand-totals broadcast
    cross (the allowlisted aggregate-sized class), then a nations-row
    aggregate. No window, no corpus-sized sort.
    """
    li = read_table(spark, sf_dir, "lineitem")
    sup = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cells = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .groupBy("n_name", "l_suppkey")
        .agg(F.sum(_revenue_cents()).alias("rev"))
    )
    nat = cells.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_j"), F.sum("rev").alias("s_j")
    )
    term = (
        "(CAST(rev AS DOUBLE) / s_j"
        " * ln(CAST(rev AS DOUBLE) * n_j / s_j))"
    )
    within = (
        cells.join(F.broadcast(nat), "n_name")
        .select(
            "n_name",
            F.expr(f"CAST(FLOOR({term} * 1000000000) AS BIGINT)").alias(
                "t_nano"
            ),
        )
        .groupBy("n_name")
        .agg(F.sum("t_nano").alias("theil_within_nano"))
    )
    tot = nat.agg(F.sum("n_j").alias("n_tot"), F.sum("s_j").alias("s_tot"))
    between = (
        "(CAST(s_j AS DOUBLE) / s_tot"
        " * ln(CAST(s_j AS DOUBLE) * n_tot / (CAST(s_tot AS DOUBLE) * n_j)))"
    )
    return (
        nat.crossJoin(F.broadcast(tot))
        .select(
            "n_name",
            F.col("n_j").alias("n_suppliers"),
            F.col("s_j").alias("total_cents"),
            F.expr(f"CAST(FLOOR({between} * 1000000000) AS BIGINT)").alias(
                "between_nano"
            ),
        )
        .join(F.broadcast(within), "n_name")
        .select(
            "n_name",
            "n_suppliers",
            "total_cents",
            "theil_within_nano",
            "between_nano",
        )
    )


SUPPLIER_THEIL_SQL = """
WITH cells AS (
  SELECT n_name, l_suppkey,
         CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
              AS BIGINT) AS rev
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY 1, 2
),
nat AS (
  SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_j,
         CAST(SUM(rev) AS BIGINT) AS s_j
  FROM cells GROUP BY 1
),
win AS (
  SELECT c.n_name,
         CAST(SUM(CAST(FLOOR(CAST(rev AS DOUBLE) / s_j
              * ln(CAST(rev AS DOUBLE) * n_j / s_j) * 1000000000) AS BIGINT))
              AS BIGINT) AS theil_within_nano
  FROM cells c JOIN nat USING (n_name)
  GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n_j) AS BIGINT) AS n_tot, CAST(SUM(s_j) AS BIGINT) AS s_tot
  FROM nat
)
SELECT n_name, n_j AS n_suppliers, s_j AS total_cents,
       theil_within_nano,
       CAST(FLOOR(CAST(s_j AS DOUBLE) / s_tot
            * ln(CAST(s_j AS DOUBLE) * n_tot / (CAST(s_tot AS DOUBLE) * n_j))
            * 1000000000) AS BIGINT) AS between_nano
FROM nat CROSS JOIN tot
JOIN win USING (n_name)
"""


KENDALL_BAND_CENTS = 5_000_000  # $50k price bands, capped at band 9
KENDALL_BAND_CAP = 9


def orders_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Kendall tau-b between order PRIORITY (the 1-5
    leading digit of o_orderpriority — an ordinal scale) and order value
    band ($50k bands, capped at 10) — the ORDINAL-association rung of
    the stats tier (Spearman ranks continuous variables; Kendall's
    pair-concordance is the right statistic when BOTH variables are
    coarse ordinal scales with massive tie mass, and its contingency
    form computes EXACTLY without ever enumerating pairs).

    Pair counting over the <=50-cell contingency table: concordant /
    discordant mass is a dominance sum over strictly-ordered cell pairs
    (n_ab * n_cd for x_c > x_a and y_d >< y_b), and the tie terms come
    from the marginals. The halving in C(n,2) is avoided entirely by
    DOUBLED pair counts (n0_2 = n(n-1), tx_2 = sum nx(nx-1)):
    tau_b = 2(C-D)/sqrt((n0_2-tx_2)(n0_2-ty_2)) — every sufficient
    statistic an exact integer in decimal(38,0)/HUGEINT (products of
    two cell masses overflow int64 past ~3e9 rows), the final ratio and
    the normal-approximation z = 3(C-D)/sqrt(n(n-1)(2n+5)/2) one
    identical double tree per engine, floor-quantized ppm/milli.

    Scale shape: one map-side-combined groupBy to the bounded 5x10
    grid, a broadcast self-join over <=50 cell rows (bounded
    nested-loop, allowlisted), marginal sums over <=10-row frames,
    1-row scalar crosses. Corpus-grain work is exactly one scan+agg.
    """
    orders = read_table(spark, sf_dir, "orders").select(
        F.expr("CAST(substring(o_orderpriority, 1, 1) AS BIGINT)").alias("x"),
        F.expr(
            f"LEAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)"
            f" div {KENDALL_BAND_CENTS}, {KENDALL_BAND_CAP})"
        ).alias("y"),
    )
    cells = orders.groupBy("x", "y").agg(F.count(F.lit(1)).alias("m"))
    a, b = cells.alias("a"), cells.alias("b")
    cd = (
        a.join(F.broadcast(b), F.col("b.x") > F.col("a.x"))
        .select(
            F.expr(
                "CASE WHEN b.y > a.y THEN CAST(a.m AS DECIMAL(38,0)) * b.m"
                " ELSE CAST(0 AS DECIMAL(38,0)) END"
            ).alias("c"),
            F.expr(
                "CASE WHEN b.y < a.y THEN CAST(a.m AS DECIMAL(38,0)) * b.m"
                " ELSE CAST(0 AS DECIMAL(38,0)) END"
            ).alias("d"),
        )
        .agg(
            F.expr("CAST(COALESCE(SUM(c), 0) AS DECIMAL(38,0))").alias("c_dec"),
            F.expr("CAST(COALESCE(SUM(d), 0) AS DECIMAL(38,0))").alias("d_dec"),
        )
    )
    tot = cells.agg(
        F.sum("m").alias("n"),
        F.sum(F.expr("CAST(m AS DECIMAL(38,0)) * (m - 1)")).alias("txy2"),
    )
    tx = (
        cells.groupBy("x")
        .agg(F.sum("m").alias("nx"))
        .agg(F.sum(F.expr("CAST(nx AS DECIMAL(38,0)) * (nx - 1)")).alias("tx2"))
    )
    ty = (
        cells.groupBy("y")
        .agg(F.sum("m").alias("ny"))
        .agg(F.sum(F.expr("CAST(ny AS DECIMAL(38,0)) * (ny - 1)")).alias("ty2"))
    )
    s = (
        tot.crossJoin(F.broadcast(cd))
        .crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
    )
    tau = (
        "(2.0 * (CAST(c_dec AS DOUBLE) - CAST(d_dec AS DOUBLE))"
        " / NULLIF(sqrt((CAST(n AS DOUBLE) * (n - 1.0) - CAST(tx2 AS DOUBLE))"
        "               * (CAST(n AS DOUBLE) * (n - 1.0)"
        "                  - CAST(ty2 AS DOUBLE))), 0.0))"
    )
    z = (
        "(3.0 * (CAST(c_dec AS DOUBLE) - CAST(d_dec AS DOUBLE))"
        " / NULLIF(sqrt(CAST(n AS DOUBLE) * (n - 1.0) * (2.0 * n + 5.0)"
        "               / 2.0), 0.0))"
    )
    return s.select(
        F.col("n").alias("n_orders"),
        F.expr("CAST(c_dec AS BIGINT)").alias("concordant"),
        F.expr("CAST(d_dec AS BIGINT)").alias("discordant"),
        F.expr("CAST(tx2 AS BIGINT)").alias("tie_x2"),
        F.expr("CAST(ty2 AS BIGINT)").alias("tie_y2"),
        F.expr("CAST(txy2 AS BIGINT)").alias("tie_xy2"),
        F.expr(f"CAST(FLOOR({tau} * 1000000) AS BIGINT)").alias("tau_b_ppm"),
        F.expr(f"CAST(FLOOR({z} * 1000) AS BIGINT)").alias("z_milli"),
    )


KENDALL_SQL = f"""
WITH cells AS (
  SELECT CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS x,
         LEAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
               // {KENDALL_BAND_CENTS}, {KENDALL_BAND_CAP}) AS y,
         CAST(COUNT(*) AS BIGINT) AS m
  FROM orders GROUP BY 1, 2
),
cd AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN b.y > a.y
               THEN CAST(a.m AS HUGEINT) * b.m END), 0) AS HUGEINT) AS c_dec,
         CAST(COALESCE(SUM(CASE WHEN b.y < a.y
               THEN CAST(a.m AS HUGEINT) * b.m END), 0) AS HUGEINT) AS d_dec
  FROM cells a JOIN cells b ON b.x > a.x
),
tot AS (
  SELECT CAST(SUM(m) AS BIGINT) AS n,
         SUM(CAST(m AS HUGEINT) * (m - 1)) AS txy2
  FROM cells
),
tx AS (
  SELECT SUM(CAST(nx AS HUGEINT) * (nx - 1)) AS tx2
  FROM (SELECT x, CAST(SUM(m) AS BIGINT) AS nx FROM cells GROUP BY 1)
),
ty AS (
  SELECT SUM(CAST(ny AS HUGEINT) * (ny - 1)) AS ty2
  FROM (SELECT y, CAST(SUM(m) AS BIGINT) AS ny FROM cells GROUP BY 1)
)
SELECT n AS n_orders,
       CAST(c_dec AS BIGINT) AS concordant,
       CAST(d_dec AS BIGINT) AS discordant,
       CAST(tx2 AS BIGINT) AS tie_x2,
       CAST(ty2 AS BIGINT) AS tie_y2,
       CAST(txy2 AS BIGINT) AS tie_xy2,
       CAST(FLOOR((2.0 * (CAST(c_dec AS DOUBLE) - CAST(d_dec AS DOUBLE))
            / NULLIF(sqrt((CAST(n AS DOUBLE) * (n - 1.0)
                           - CAST(tx2 AS DOUBLE))
                          * (CAST(n AS DOUBLE) * (n - 1.0)
                             - CAST(ty2 AS DOUBLE))), 0.0))
            * 1000000) AS BIGINT) AS tau_b_ppm,
       CAST(FLOOR((3.0 * (CAST(c_dec AS DOUBLE) - CAST(d_dec AS DOUBLE))
            / NULLIF(sqrt(CAST(n AS DOUBLE) * (n - 1.0) * (2.0 * n + 5.0)
                          / 2.0), 0.0))
            * 1000) AS BIGINT) AS z_milli
FROM tot CROSS JOIN cd CROSS JOIN tx CROSS JOIN ty
"""


QUERIES = {
    "orders_kendall_tau": orders_kendall_tau,
    "orders_spearman_corr": orders_spearman_corr,
    "supplier_theil_decomposition": supplier_theil_decomposition,
    "orders_mann_whitney": orders_mann_whitney,
    "supplier_gini_by_nation": supplier_gini_by_nation,
    "supplier_dual_sourcing": supplier_dual_sourcing,
    "lineitem_revenue_bridge": lineitem_revenue_bridge,
    "lineitem_single_source_risk": lineitem_single_source_risk,
    "nation_trade_pagerank": nation_trade_pagerank,
    "part_recs_hitrate": part_recs_hitrate,
    "orders_promo_lift": orders_promo_lift,
    "discount_elasticity": discount_elasticity,
    "lineitem_leadtime_profile": lineitem_leadtime_profile,
    "orders_abc_classification": orders_abc_classification,
    "supplier_concentration_hhi": supplier_concentration_hhi,
    "market_basket_types": market_basket_types,
    "q2_min_cost_supplier": q2_min_cost_supplier,
    "q4_order_priority": q4_order_priority,
    "q7_volume_shipping": q7_volume_shipping,
    "q8_market_share": q8_market_share,
    "q9_product_type_profit": q9_product_type_profit,
    "q11_important_stock": q11_important_stock,
    "q13_customer_distribution": q13_customer_distribution,
    "q15_top_supplier": q15_top_supplier,
    "q16_supplier_diversity": q16_supplier_diversity,
    "q17_small_quantity_revenue": q17_small_quantity_revenue,
    "q19_disjunctive_revenue": q19_disjunctive_revenue,
    "q20_dominant_suppliers": q20_dominant_suppliers,
    "q21_waiting_suppliers": q21_waiting_suppliers,
    "q22_global_sales_opportunity": q22_global_sales_opportunity,
}

ORACLES = {
    "orders_kendall_tau": KENDALL_SQL,
    "orders_spearman_corr": SPEARMAN_SQL,
    "supplier_theil_decomposition": SUPPLIER_THEIL_SQL,
    "orders_mann_whitney": MANN_WHITNEY_SQL,
    "supplier_gini_by_nation": SUPPLIER_GINI_SQL,
    "supplier_dual_sourcing": DUAL_SOURCING_SQL,
    "lineitem_revenue_bridge": REVENUE_BRIDGE_SQL,
    "lineitem_single_source_risk": SINGLE_SOURCE_SQL,
    "nation_trade_pagerank": TRADE_PAGERANK_SQL,
    "part_recs_hitrate": PART_RECS_SQL,
    "orders_promo_lift": PROMO_LIFT_SQL,
    "discount_elasticity": ELASTICITY_SQL,
    "lineitem_leadtime_profile": LEADTIME_SQL,
    "orders_abc_classification": ABC_SQL,
    "supplier_concentration_hhi": HHI_SQL,
    "market_basket_types": MARKET_BASKET_SQL,
    "q2_min_cost_supplier": Q2_SQL,
    "q4_order_priority": Q4_SQL,
    "q7_volume_shipping": Q7_SQL,
    "q8_market_share": Q8_SQL,
    "q9_product_type_profit": Q9_SQL,
    "q11_important_stock": Q11_SQL,
    "q13_customer_distribution": Q13_SQL,
    "q15_top_supplier": Q15_SQL,
    "q16_supplier_diversity": Q16_SQL,
    "q17_small_quantity_revenue": Q17_SQL,
    "q19_disjunctive_revenue": Q19_SQL,
    "q20_dominant_suppliers": Q20_SQL,
    "q21_waiting_suppliers": Q21_SQL,
    "q22_global_sales_opportunity": Q22_SQL,
}

"""TPC-H query shapes: correlated subqueries, semi/anti joins, division,
and the multi-way join and aggregation patterns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.aggregate import dsum
from ..registry import register
from ..sources.parquet_source import load_table
from ._shared import _t, _view


@register("shipping_priority", sql="""
SELECT l.l_orderkey,
       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                     AS DECIMAL(32,6))) AS DOUBLE) AS revenue,
       o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
  AND l.l_shipdate > TIMESTAMP '1997-01-01'
GROUP BY l.l_orderkey, o.o_orderpriority
ORDER BY revenue DESC, l.l_orderkey LIMIT 10
""")
def q_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: segment filter -> star join -> revenue agg ->
    top-10.  Both filters push into their scans (date pruning at
    100 TB), the customer side reduces to keys before broadcasting,
    and the top-k is TakeOrdered, never a global sort."""
    c = (_t(spark, sf_dir, "customer")
         .filter(F.col("c_mktsegment") == "BUILDING")
         .select("c_custkey"))
    o = (_t(spark, sf_dir, "orders")
         .filter(F.col("o_orderdate") < "1997-01-01")
         .select("o_orderkey", "o_custkey", "o_orderpriority"))
    li = (_t(spark, sf_dir, "lineitem")
          .filter(F.col("l_shipdate") > "1997-01-01")
          .select("l_orderkey", "l_extendedprice", "l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .groupBy("l_orderkey", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
             .alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey")).limit(10)
    )


@register("customer_distribution", sql="""
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
    SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
    FROM customer c LEFT OUTER JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
)
GROUP BY c_count
""")
def q_customer_distribution(spark, sf_dir):
    """TPC-H Q13 shape: orders-per-customer distribution via left
    outer join (zero-order customers count!) + double aggregation.
    The first agg shuffles on custkey, the second on the tiny count
    domain — classic two-level rollup, no skew exposure."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist"))


# --------------------------------------------------------------------------
# Correlated-subquery query shapes (TPC-H Q17 / Q21 style)
# --------------------------------------------------------------------------
#
# Both run the SAME SQL text on Spark and DuckDB: the point is to
# exercise Catalyst's scalar-subquery decorrelation (the plan must
# show an aggregate + join, never a per-row subquery — pinned in
# tests/test_pending_r05.py).  Averages accumulate in DECIMAL on both
# engines so the filter boundary is bit-identical.

_Q17_SQL = """
SELECT p.p_brand,
       round(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(32,6)))
                  AS DOUBLE) / 7.0, 2) AS avg_yearly,
       CAST(count(*) AS BIGINT) AS n_lineitems
FROM {lineitem} l JOIN {part} p ON p.p_partkey = l.l_partkey
WHERE p.p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
  AND l.l_quantity < CAST(0.2 AS DOUBLE) * (
      SELECT CAST(SUM(CAST(l2.l_quantity AS DECIMAL(32,6))) AS DOUBLE)
             / count(*)
      FROM {lineitem} l2 WHERE l2.l_partkey = l.l_partkey)
GROUP BY p.p_brand
"""


@register("correlated_small_qty_revenue",
          sql=_Q17_SQL.format(lineitem="lineitem", part="part"))
def _q_correlated_small_qty_revenue(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """TPC-H Q17 analog: revenue from lineitems whose quantity is
    below 20% of their part's average quantity — a correlated scalar
    subquery that Catalyst decorrelates into a per-part aggregate +
    join (the plan a 100-TB engine must produce; a per-row subquery
    would be a quadratic disaster)."""
    load_table(spark, sf_dir, "lineitem", fan_out=False) \
        .createOrReplaceTempView("__q17_lineitem")
    load_table(spark, sf_dir, "part", fan_out=False) \
        .createOrReplaceTempView("__q17_part")
    return spark.sql(_Q17_SQL.format(lineitem="__q17_lineitem",
                                     part="__q17_part"))


_QEXISTS_SQL = """
SELECT o.o_orderkey, o.o_custkey,
       round(o.o_totalprice, 2) AS o_totalprice
FROM {orders} o
WHERE o.o_totalprice > CAST(1.6 AS DOUBLE) * (
      SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(32,6))) AS DOUBLE)
             / count(*)
      FROM {orders} o2 WHERE o2.o_custkey = o.o_custkey)
  AND EXISTS (SELECT 1 FROM {lineitem} l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 45)
"""


@register("correlated_exists_orders",
          sql=_QEXISTS_SQL.format(orders="orders", lineitem="lineitem"))
def _q_correlated_exists_orders(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Correlated scalar subquery + correlated EXISTS in one query
    (TPC-H Q21 flavor): orders 1.6x above their own customer's average
    that contain at least one bulk lineitem.  Decorrelates to a
    per-customer aggregate join plus a left-semi join."""
    load_table(spark, sf_dir, "orders", fan_out=False) \
        .createOrReplaceTempView("__qex_orders")
    load_table(spark, sf_dir, "lineitem", fan_out=False) \
        .createOrReplaceTempView("__qex_lineitem")
    return spark.sql(_QEXISTS_SQL.format(orders="__qex_orders",
                                         lineitem="__qex_lineitem"))


_Q11_SQL = """
SELECT p.p_brand,
       round(CAST(SUM(CAST(p.p_retailprice AS DECIMAL(32,6)))
                  AS DOUBLE), 2) AS brand_value,
       CAST(count(*) AS BIGINT) AS n_parts
FROM {part} p
GROUP BY p.p_brand
HAVING CAST(SUM(CAST(p.p_retailprice AS DECIMAL(32,6))) AS DOUBLE) >
       CAST(0.04 AS DOUBLE) * (
           SELECT CAST(SUM(CAST(p2.p_retailprice AS DECIMAL(32,6)))
                       AS DOUBLE)
           FROM {part} p2)
"""


@register("having_scalar_threshold", sql=_Q11_SQL.format(part="part"))
def _q_having_scalar_threshold(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """TPC-H Q11 analog: brands holding more than 4% of total retail
    value — a HAVING clause against an uncorrelated scalar subquery.
    The scalar computes once and broadcasts as a literal-like filter
    on the aggregate, never per group; DECIMAL accumulation keeps the
    4% boundary bit-identical across engines."""
    load_table(spark, sf_dir, "part", fan_out=False) \
        .createOrReplaceTempView("__q11_part")
    return spark.sql(_Q11_SQL.format(part="__q11_part"))


# --------------------------------------------------------------------------
# Correlated-aggregate shapes, round 2 (TPC-H Q2 / Q22 style)
# --------------------------------------------------------------------------

_Q2_SQL = """
SELECT n.n_name, s.s_name, round(s.s_acctbal, 2) AS acctbal
FROM {supplier} s JOIN {nation} n ON n.n_nationkey = s.s_nationkey
WHERE s.s_acctbal = (SELECT min(s2.s_acctbal) FROM {supplier} s2
                     WHERE s2.s_nationkey = s.s_nationkey)
"""


@register("min_acctbal_supplier",
          sql=_Q2_SQL.format(supplier="supplier", nation="nation"))
def _q_min_acctbal_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 analog: each nation's minimum-balance supplier via a
    correlated aggregate EQUALITY subquery — the min-cost-supplier
    shape.  Catalyst decorrelates it to a per-nation min aggregate +
    join; equality against the min is exact (the min IS one of the
    doubles), so no rounding discipline is needed on the filter."""
    load_table(spark, sf_dir, "supplier", fan_out=False) \
        .createOrReplaceTempView("__q2_supplier")
    load_table(spark, sf_dir, "nation") \
        .createOrReplaceTempView("__q2_nation")
    return spark.sql(_Q2_SQL.format(supplier="__q2_supplier",
                                    nation="__q2_nation"))


_Q22_SQL = """
SELECT n.n_name AS cntry, CAST(count(*) AS BIGINT) AS numcust,
       round(CAST(SUM(CAST(c.c_acctbal AS DECIMAL(32,6))) AS DOUBLE), 2)
           AS totacctbal
FROM {customer} c JOIN {nation} n ON n.n_nationkey = c.c_nationkey
WHERE c.c_acctbal > (
      SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(32,6))) AS DOUBLE)
             / count(*)
      FROM {customer} c2 WHERE c2.c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM {orders} o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY n.n_name
"""


@register("inactive_premium_customers",
          sql=_Q22_SQL.format(customer="customer", nation="nation",
                              orders="orders"))
def _q_inactive_premium_customers(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """TPC-H Q22 analog: above-average-balance customers with NO order
    since 2000, counted per nation — an uncorrelated scalar subquery
    (computed once, broadcast as a filter) plus a correlated NOT
    EXISTS (decorrelated to a left-anti join with the date filter
    pushed into the orders scan).  DECIMAL accumulation keeps the
    average boundary bit-identical across engines."""
    load_table(spark, sf_dir, "customer", fan_out=False) \
        .createOrReplaceTempView("__q22_customer")
    load_table(spark, sf_dir, "nation") \
        .createOrReplaceTempView("__q22_nation")
    load_table(spark, sf_dir, "orders", fan_out=False) \
        .createOrReplaceTempView("__q22_orders")
    return spark.sql(_Q22_SQL.format(customer="__q22_customer",
                                     nation="__q22_nation",
                                     orders="__q22_orders"))


# --------------------------------------------------------------------------
# Market-share ratio (TPC-H Q8 shape)
# --------------------------------------------------------------------------

_MKTSHARE_SQL = """
SELECT CAST(year(o.o_orderdate) AS BIGINT) AS yr,
       round(CAST(SUM(CASE WHEN r.r_name = 'AMERICA'
                           THEN CAST(o.o_totalprice AS DECIMAL(32,6))
                           ELSE CAST(0 AS DECIMAL(32,6)) END)
                  AS DOUBLE)
             / CAST(SUM(CAST(o.o_totalprice AS DECIMAL(32,6)))
                    AS DOUBLE), 6) AS america_share,
       round(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(32,6)))
                  AS DOUBLE), 2) AS total_rev
FROM orders o
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
GROUP BY 1
"""


@register("market_share_yearly", sql=_MKTSHARE_SQL)
def _q_market_share_yearly(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one region's share of yearly revenue — a
    conditional-aggregate ratio.  Both the numerator and denominator
    accumulate in DECIMAL, divide once in double, and round, so the
    ratio is bit-identical across engines.  nation/region broadcast;
    orders-customer is the one genuinely large join (key-partitioned,
    AQE picks broadcast when customer fits), then the year rollup."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer") \
        .select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    dec = F.col("o_totalprice").cast("decimal(32,6)")
    amer = F.when(F.col("r_name") == "AMERICA", dec) \
        .otherwise(F.lit(0).cast("decimal(32,6)"))
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .groupBy(F.year("o_orderdate").cast("bigint").alias("yr"))
        .agg(F.round(F.sum(amer).cast("double")
                     / F.sum(dec).cast("double"), 6)
             .alias("america_share"),
             F.round(F.sum(dec).cast("double"), 2).alias("total_rev")))


# --------------------------------------------------------------------------
# Null-safe equality join (<=> / IS NOT DISTINCT FROM)
# --------------------------------------------------------------------------

_NULLSAFE_SQL = """
WITH a AS (SELECT DISTINCT CASE WHEN CAST(floor(value) AS BIGINT) % 5 = 0
                                THEN NULL
                                ELSE CAST(floor(value) AS BIGINT) % 50
                           END AS k
           FROM events WHERE event_type = 'click'),
b AS (SELECT DISTINCT CASE WHEN CAST(floor(value) AS BIGINT) % 5 = 0
                           THEN NULL
                           ELSE CAST(floor(value) AS BIGINT) % 50
                      END AS k
      FROM events WHERE event_type = 'view')
SELECT a.k AS k, CAST(count(*) AS BIGINT) AS n_pairs
FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
GROUP BY 1
"""


@register("null_safe_join", sql=_NULLSAFE_SQL)
def _q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (Spark ``<=>`` vs SQL IS NOT DISTINCT
    FROM): NULL keys match each other instead of silently dropping —
    the semantics every "join on an optional attribute" pipeline needs
    and a plain equi-join gets wrong.  Still hash-partitionable (null
    is just one more key value), so the plan is an ordinary shuffled
    hash join, not a cartesian fallback."""
    e = load_table(spark, sf_dir, "events")
    k = F.when(F.floor("value").cast("bigint") % 5 == 0,
               F.lit(None).cast("bigint")) \
        .otherwise(F.floor("value").cast("bigint") % 50)
    a = e.filter(F.col("event_type") == "click") \
        .select(k.alias("k")).distinct()
    b = e.filter(F.col("event_type") == "view") \
        .select(k.alias("ka")).distinct()
    return (a.join(b, a["k"].eqNullSafe(b["ka"]))
            .groupBy("k")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs")))


# --------------------------------------------------------------------------
# Relational division (the FOR ALL shape)
# --------------------------------------------------------------------------

_DIVISION_SQL = """
WITH target AS (
    SELECT n_nationkey FROM {nation} n JOIN {region} r
        ON r.r_regionkey = n.n_regionkey WHERE r.r_name = 'AMERICA'
), served AS (
    SELECT DISTINCT l.l_suppkey, c.c_nationkey
    FROM {lineitem} l
    JOIN {orders} o ON o.o_orderkey = l.l_orderkey
    JOIN {customer} c ON c.c_custkey = o.o_custkey
    WHERE c.c_nationkey IN (SELECT n_nationkey FROM target)
      AND l.l_shipdate >= TIMESTAMP '2001-04-01'
)
SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_nations
FROM served GROUP BY l_suppkey
HAVING count(*) = (SELECT count(*) FROM target)
"""


@register("suppliers_serving_all_nations",
          sql=_DIVISION_SQL.format(nation="nation", region="region",
                                   customer="customer", orders="orders",
                                   lineitem="lineitem"))
def _q_suppliers_serving_all_nations(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """Relational division — the FOR ALL query shape (Codd's ÷, TPC-H
    has no analog): suppliers whose recent shipments reached customers
    in EVERY nation of a region.  The scale formulation is
    count-distinct equality, never the double-NOT-EXISTS textbook
    form: dedupe (supplier, nation) pairs once, one groupBy, compare
    to the divisor's count (an uncorrelated scalar, computed once) —
    all shuffles are keys-only.  Same SQL text on both engines."""
    for t in ("nation", "region", "customer", "orders", "lineitem"):
        load_table(spark, sf_dir, t, fan_out=False) \
            .createOrReplaceTempView(f"__div_{t}")
    return spark.sql(_DIVISION_SQL.format(
        nation="__div_nation", region="__div_region",
        customer="__div_customer", orders="__div_orders",
        lineitem="__div_lineitem"))


# --------------------------------------------------------------------------
# TPC-H Q4: priority counts gated by an EXISTS semi-join
# --------------------------------------------------------------------------

_Q4_SQL = """
SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
FROM {orders} o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
  AND EXISTS (SELECT 1 FROM {lineitem} l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate)
GROUP BY o.o_orderpriority
"""


@register("order_priority_exists",
          sql=_Q4_SQL.format(orders="orders", lineitem="lineitem"))
def _q_order_priority_exists(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders with at least one lineitem shipped after
    the order date, counted by priority.  EXISTS must plan as a
    left-semi hash join (one pass over lineitem, no row-at-a-time
    subquery) — the date filter prunes orders BEFORE the join, so at
    100 TB the semi-join probe side is one month of orders, not the
    table."""
    o = _view(spark, sf_dir, "orders", "q4")
    li = _view(spark, sf_dir, "lineitem", "q4")
    return spark.sql(_Q4_SQL.format(orders=o, lineitem=li))


# --------------------------------------------------------------------------
# TPC-H Q5: regional revenue with the c_nationkey = s_nationkey cycle
# --------------------------------------------------------------------------

_Q5_SQL = """
SELECT n.n_name,
       round(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(32,6))) AS DOUBLE), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_lineitems
FROM {customer} c
JOIN {orders} o ON c.c_custkey = o.o_custkey
JOIN {lineitem} l ON l.l_orderkey = o.o_orderkey
JOIN {supplier} s ON l.l_suppkey = s.s_suppkey
                 AND c.c_nationkey = s.s_nationkey
JOIN {nation} n ON s.s_nationkey = n.n_nationkey
JOIN {region} r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
"""


@register("regional_revenue",
          sql=_Q5_SQL.format(customer="customer", orders="orders",
                             lineitem="lineitem", supplier="supplier",
                             nation="nation", region="region"))
def _q_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: revenue by nation for one region, counting only
    lineitems where the customer's and supplier's nations coincide.
    The join graph has a cycle (customer–nation–supplier), which the
    optimizer must close with the extra equality on the fact join
    rather than a post-join filter; nation/region/supplier broadcast,
    so the only shuffles are the two fact-fact joins."""
    t = {n: _view(spark, sf_dir, n, "q5")
         for n in ("customer", "orders", "lineitem", "supplier",
                   "nation", "region")}
    return spark.sql(_Q5_SQL.format(**t))


# --------------------------------------------------------------------------
# TPC-H Q7: trade volume between two nations by ship year
# --------------------------------------------------------------------------

_Q7_SQL = """
SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
       CAST(year(l.l_shipdate) AS BIGINT) AS ship_year,
       round(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(32,6))) AS DOUBLE), 2) AS volume
FROM {lineitem} l
JOIN {orders} o ON o.o_orderkey = l.l_orderkey
JOIN {customer} c ON c.c_custkey = o.o_custkey
JOIN {supplier} s ON s.s_suppkey = l.l_suppkey
JOIN {nation} n1 ON n1.n_nationkey = c.c_nationkey
JOIN {nation} n2 ON n2.n_nationkey = s.s_nationkey
WHERE n1.n_name IN ('NATION_3', 'NATION_7')
  AND n2.n_name IN ('NATION_3', 'NATION_7')
  AND n1.n_name <> n2.n_name
GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
"""


@register("nation_trade_yearly",
          sql=_Q7_SQL.format(lineitem="lineitem", orders="orders",
                             customer="customer", supplier="supplier",
                             nation="nation"))
def _q_nation_trade_yearly(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """TPC-H Q7: shipping volume between an ordered pair of nations by
    year.  Both nation dimensions broadcast with their IN-filters
    applied BEFORE the join, so customer and supplier are pre-pruned
    to two nations each — at scale that turns two fact-dim joins into
    highly selective semi-filters ahead of the orders join."""
    t = {n: _view(spark, sf_dir, n, "q7")
         for n in ("lineitem", "orders", "customer", "supplier",
                   "nation")}
    return spark.sql(_Q7_SQL.format(**t))


# --------------------------------------------------------------------------
# TPC-H Q10: top returned-item customers
# --------------------------------------------------------------------------

_Q10_SQL = """
SELECT c.c_custkey, c.c_name,
       round(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(32,6))) AS DOUBLE), 2) AS revenue
FROM {customer} c
JOIN {orders} o ON o.o_custkey = c.c_custkey
JOIN {lineitem} l ON l.l_orderkey = o.o_orderkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY c.c_custkey, c.c_name
ORDER BY SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
              AS DECIMAL(32,6))) DESC, c.c_custkey
LIMIT 20
"""


@register("returned_item_customers",
          sql=_Q10_SQL.format(customer="customer", orders="orders",
                              lineitem="lineitem"))
def _q_returned_item_customers(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """TPC-H Q10: the 20 customers who returned the most revenue in a
    year.  ORDER BY the exact DECIMAL aggregate (ties broken by key)
    so the LIMIT frontier is engine-independent; Spark plans the
    top-20 as TakeOrderedAndProject — no global sort ever
    materializes."""
    t = {n: _view(spark, sf_dir, n, "q10")
         for n in ("customer", "orders", "lineitem")}
    return spark.sql(_Q10_SQL.format(**t))


# --------------------------------------------------------------------------
# TPC-H Q14: promo revenue share
# --------------------------------------------------------------------------

_Q14_SQL = """
SELECT CAST(floor(
         100000.0
         * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                THEN CAST(l.l_extendedprice * (1 - l.l_discount)
                          AS DECIMAL(32,6))
                ELSE CAST(0 AS DECIMAL(32,6)) END) AS DOUBLE)
         / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(32,6))) AS DOUBLE)) AS BIGINT)
       AS promo_millibp,
       CAST(count(*) AS BIGINT) AS n_lineitems
FROM {lineitem} l JOIN {part} p ON p.p_partkey = l.l_partkey
WHERE l.l_shipdate >= TIMESTAMP '1998-06-01'
  AND l.l_shipdate < TIMESTAMP '1998-09-01'
"""


@register("promo_revenue_ratio",
          sql=_Q14_SQL.format(lineitem="lineitem", part="part"))
def _q_promo_revenue_ratio(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """TPC-H Q14: share of revenue from PROMO parts over a quarter, as
    a conditional aggregate — never two scans.  Both sums accumulate
    in DECIMAL (exact); the ratio touches doubles only through IEEE
    + - * / (deterministic across engines) and is floor-scaled to an
    integer, so the single output row hash-matches bit-for-bit."""
    t = {n: _view(spark, sf_dir, n, "q14") for n in ("lineitem", "part")}
    return spark.sql(_Q14_SQL.format(**t))


# --------------------------------------------------------------------------
# TPC-H Q15: supplier(s) with maximum revenue
# --------------------------------------------------------------------------

_Q15_SQL = """
WITH rev AS (
  SELECT l.l_suppkey,
         SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                  AS DECIMAL(32,6))) AS total
  FROM {lineitem} l
  WHERE l.l_shipdate >= TIMESTAMP '1999-01-01'
    AND l.l_shipdate < TIMESTAMP '1999-07-01'
  GROUP BY l.l_suppkey)
SELECT s.s_suppkey, s.s_name,
       round(CAST(r.total AS DOUBLE), 2) AS total_revenue
FROM {supplier} s JOIN rev r ON s.s_suppkey = r.l_suppkey
WHERE r.total = (SELECT max(total) FROM rev)
"""


@register("top_revenue_supplier",
          sql=_Q15_SQL.format(lineitem="lineitem", supplier="supplier"))
def _q_top_revenue_supplier(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """TPC-H Q15: the supplier(s) whose half-year revenue equals the
    maximum.  The CTE aggregates once; the scalar MAX subquery reuses
    it (Spark: ReusedExchange under AQE) and the equality is on the
    exact DECIMAL total, so 'argmax with ties' is engine-exact —
    the float-boundary-free version of SELECT...ORDER BY...LIMIT 1."""
    t = {n: _view(spark, sf_dir, n, "q15")
         for n in ("lineitem", "supplier")}
    return spark.sql(_Q15_SQL.format(**t))


# --------------------------------------------------------------------------
# TPC-H Q16: distinct supplier counts with a NOT IN exclusion
# --------------------------------------------------------------------------

_Q16_SQL = """
SELECT p.p_brand, p.p_type,
       CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM {part} p JOIN {lineitem} l ON l.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#1'
  AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
  AND l.l_suppkey NOT IN
      (SELECT s.s_suppkey FROM {supplier} s WHERE s.s_acctbal < 0)
GROUP BY p.p_brand, p.p_type
"""


@register("brand_supplier_counts",
          sql=_Q16_SQL.format(part="part", lineitem="lineitem",
                              supplier="supplier"))
def _q_brand_supplier_counts(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """TPC-H Q16: how many distinct suppliers serve each surviving
    brand/type cell, excluding suppliers from a NOT IN subquery.
    NOT IN over a non-nullable key plans as a broadcast anti join
    (null-aware machinery elided); count(DISTINCT) shuffles only the
    (brand, type, suppkey) triple after partial dedup."""
    t = {n: _view(spark, sf_dir, n, "q16")
         for n in ("part", "lineitem", "supplier")}
    return spark.sql(_Q16_SQL.format(**t))


# --------------------------------------------------------------------------
# TPC-H Q18: orders whose total quantity clears a HAVING threshold
# --------------------------------------------------------------------------

_Q18_SQL = """
SELECT c.c_custkey, o.o_orderkey,
       round(o.o_totalprice, 2) AS o_totalprice
FROM {orders} o JOIN {customer} c ON c.c_custkey = o.o_custkey
WHERE o.o_orderkey IN
      (SELECT l.l_orderkey FROM {lineitem} l
       GROUP BY l.l_orderkey
       HAVING SUM(CAST(l.l_quantity AS DECIMAL(18,2))) >
              CAST(150 AS DECIMAL(18,2)))
"""


@register("large_order_customers",
          sql=_Q18_SQL.format(orders="orders", customer="customer",
                              lineitem="lineitem"))
def _q_large_order_customers(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose summed lineitem quantity exceeds
    a threshold, joined back to their customers.  IN (GROUP BY ...
    HAVING) plans as aggregate -> left-semi join; the DECIMAL
    threshold comparison is exact on both engines."""
    t = {n: _view(spark, sf_dir, n, "q18")
         for n in ("orders", "customer", "lineitem")}
    return spark.sql(_Q18_SQL.format(**t))


# --------------------------------------------------------------------------
# TPC-H Q19: disjunctive OR-of-ANDs join predicates
# --------------------------------------------------------------------------

_Q19_SQL = """
SELECT round(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(32,6))) AS DOUBLE), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_lineitems
FROM {lineitem} l JOIN {part} p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 25)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 5 AND 25
       AND l.l_quantity BETWEEN 10 AND 40)
"""


@register("disjunctive_filter_revenue",
          sql=_Q19_SQL.format(lineitem="lineitem", part="part"))
def _q_disjunctive_filter_revenue(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """TPC-H Q19: revenue under an OR of conjunctive brand/size/
    quantity predicates.  The planner must CNF-split the disjunction:
    the (brand OR brand) and (size-range OR size-range) factors push
    to the part scan, (qty OR qty) to the lineitem scan, with only the
    cross terms evaluated post-join — pinned in tests (the part scan
    must carry a pushed filter, not read-all-rows)."""
    t = {n: _view(spark, sf_dir, n, "q19") for n in ("lineitem", "part")}
    return spark.sql(_Q19_SQL.format(**t))


_DEC = "decimal(32,6)"


# --------------------------------------------------------------------------
# TPC-H Q6: the pure scan-filter aggregate
# --------------------------------------------------------------------------

_Q6_SQL = """
SELECT CAST(count(*) AS BIGINT) AS n_lineitems,
       round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(32,6))
                      * CAST(l_discount AS DECIMAL(32,6))) AS DOUBLE), 2)
           AS forecast_revenue_delta
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.02 AND l_discount <= 0.06
  AND l_quantity < 24
"""


@register("revenue_forecast_filter", sql=_Q6_SQL)
def _q_revenue_forecast_filter(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: revenue delta if mid-band discounts on small
    orders were dropped.  The whole query is ONE scan: every predicate
    (date range, discount band, quantity) must reach the parquet
    reader as a pushed filter and the ReadSchema must carry exactly
    the four referenced columns — at 100 TB this query is min/max
    row-group skipping plus a map-side partial sum, no shuffle of any
    data rows (one tiny partial-agg exchange).  The plan law is pinned
    in tests/test_pending3.py."""
    li = load_table(spark, sf_dir, "lineitem", fan_out=False)
    f = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.02) & (F.col("l_discount") <= 0.06)
        & (F.col("l_quantity") < 24))
    rev = F.sum(F.col("l_extendedprice").cast(_DEC)
                * F.col("l_discount").cast(_DEC))
    return f.agg(
        F.count(F.lit(1)).alias("n_lineitems"),
        F.round(rev.cast("double"), 2).alias("forecast_revenue_delta"))


# --------------------------------------------------------------------------
# TPC-H Q12 shape: join + conditional two-way counts
# --------------------------------------------------------------------------

_Q12_SQL = """
SELECT l.l_returnflag,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_priority_lines,
       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_priority_lines
FROM orders o
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l.l_returnflag
"""


@register("returnflag_priority_counts", sql=_Q12_SQL)
def _q_returnflag_priority_counts(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: shipped lineitems classified by whether their
    order was high-priority, as ONE conditional aggregation after the
    fact-fact join (never two filtered passes over the join).  The
    date filter pushes to the lineitem scan; the aggregate is
    map-side combinable on the few returnflag groups, so the second
    shuffle carries |groups| rows."""
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    orders = load_table(spark, sf_dir, "orders", fan_out=False) \
        .select("o_orderkey", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem", fan_out=False).filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))) \
        .select("l_orderkey", "l_returnflag")
    return (li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .groupBy("l_returnflag")
            .agg(F.sum(F.when(hi, 1).otherwise(0)).cast("long")
                 .alias("high_priority_lines"),
                 F.sum(F.when(hi, 0).otherwise(1)).cast("long")
                 .alias("low_priority_lines")))


# --------------------------------------------------------------------------
# TPC-H Q20 shape: share-of-total threshold (excess concentration)
# --------------------------------------------------------------------------

_Q20_SQL = """
WITH pq AS (
    SELECT l_partkey, l_suppkey,
           SUM(CAST(l_quantity AS DECIMAL(32,6))) AS q
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY 1, 2),
pt AS (SELECT l_partkey, SUM(q) AS tot FROM pq GROUP BY 1)
SELECT s.s_suppkey, s.s_name,
       CAST(count(*) AS BIGINT) AS n_dominated_parts
FROM pq
JOIN pt ON pt.l_partkey = pq.l_partkey
JOIN supplier s ON s.s_suppkey = pq.l_suppkey
WHERE pq.q > CAST(0.5 AS DECIMAL(32,6)) * pt.tot
GROUP BY 1, 2
"""


@register("dominant_part_suppliers", sql=_Q20_SQL)
def _q_dominant_part_suppliers(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """TPC-H Q20 flavor: suppliers who shipped MORE THAN HALF of a
    part's total 1996 volume, with how many parts they dominate —
    the share-of-total threshold shape (supply-concentration risk).
    The per-part total is a WINDOW SUM over the per-(part,supplier)
    aggregate, not a self-join: writing it as pq JOIN (pq GROUP BY
    partkey) makes Catalyst expand the unmaterialized pq twice and
    SCAN LINEITEM TWICE — the window form reads the fact table once
    (plan law pinned in tests/test_pending3.py).  DECIMAL quantities
    make the 0.5×total boundary exact on both engines."""
    li = load_table(spark, sf_dir, "lineitem", fan_out=False).filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp")))
    pq = (li.groupBy("l_partkey", "l_suppkey")
          .agg(F.sum(F.col("l_quantity").cast(_DEC)).alias("q")))
    tot = F.sum("q").over(Window.partitionBy("l_partkey"))
    sup = load_table(spark, sf_dir, "supplier") \
        .select("s_suppkey", "s_name")
    return (pq.withColumn("tot", tot)
            .filter(F.col("q") > F.lit(0.5).cast(_DEC) * F.col("tot"))
            .join(F.broadcast(sup),
                  pq["l_suppkey"] == sup["s_suppkey"])
            .groupBy("s_suppkey", "s_name")
            .agg(F.count(F.lit(1)).alias("n_dominated_parts")))


# --------------------------------------------------------------------------
# TPC-H Q9 shape: profit by nation and order year
# --------------------------------------------------------------------------

_Q9_SQL = """
SELECT n.n_name AS nation,
       CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
       CAST(round(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                           - p.p_retailprice * l.l_quantity * 0.1
                           AS DECIMAL(32,6))), 2) AS DOUBLE) AS profit,
       CAST(count(*) AS BIGINT) AS n_lines
FROM {lineitem} l
JOIN {part} p ON p.p_partkey = l.l_partkey
JOIN {supplier} s ON s.s_suppkey = l.l_suppkey
JOIN {orders} o ON o.o_orderkey = l.l_orderkey
JOIN {nation} n ON n.n_nationkey = s.s_nationkey
WHERE p.p_name LIKE '%widget%'
GROUP BY n.n_name, year(o.o_orderdate)
"""


@register("product_profit_yearly",
          sql=_Q9_SQL.format(lineitem="lineitem", part="part",
                             supplier="supplier", orders="orders",
                             nation="nation"))
def _q_product_profit_yearly(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: per-(nation, year) profit over the
    part/supplier/orders/nation star, filtered to one part family.
    This schema has no partsupp, so supply cost is the established
    stand-in 0.1 * p_retailprice * quantity; the per-row profit is one
    double expression (identical op order in both engines) cast to
    DECIMAL for accumulation.  NOTE the rounding order: round(.., 2)
    runs on the exact DECIMAL sum and only then casts to DOUBLE —
    both engines round decimal ties half-away-from-zero, whereas the
    usual round(CAST(.. AS DOUBLE), 2) diverges when a sum lands near
    a .005 boundary (this query's sf0.01 data hits one).  Plan shape: the p_name filter reaches
    the part scan, nation broadcasts, AQE picks broadcast for the
    filtered part side when it fits; the orders join is the one
    genuinely large shuffle."""
    t = {n: _view(spark, sf_dir, n, "q9")
         for n in ("lineitem", "part", "supplier", "orders", "nation")}
    return spark.sql(_Q9_SQL.format(**t))


# --------------------------------------------------------------------------
# TPC-H Q21 shape: the order's sole returning supplier
# --------------------------------------------------------------------------

_Q21_SQL = """
SELECT s.s_name, CAST(count(*) AS BIGINT) AS n_sole_return
FROM {supplier} s
JOIN {lineitem} l1 ON s.s_suppkey = l1.l_suppkey
JOIN {orders} o ON o.o_orderkey = l1.l_orderkey
WHERE l1.l_returnflag = 'R'
  AND o.o_orderstatus = 'F'
  AND EXISTS (SELECT 1 FROM {lineitem} l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM {lineitem} l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s.s_name
"""


@register("sole_returned_supplier",
          sql=_Q21_SQL.format(supplier="supplier", lineitem="lineitem",
                              orders="orders"))
def _q_sole_returned_supplier(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (adapted: no commit/receipt dates in this
    lineitem, so "kept waiting" becomes "returned"): suppliers who
    were the ONLY supplier with a returned line in a multi-supplier
    finished order — correlated EXISTS plus correlated NOT EXISTS
    against the same fact table.  Catalyst must decorrelate both into
    semi/anti self-joins on l_orderkey with the suppkey inequality as
    a join residual (the plan law in tests/test_sketches.py pins
    LeftSemi + LeftAnti, no in-plan Subquery) — at scale three
    co-partitioned shuffles of the fact on the same key, not a
    per-row subquery."""
    t = {n: _view(spark, sf_dir, n, "q21")
         for n in ("supplier", "lineitem", "orders")}
    return spark.sql(_Q21_SQL.format(**t))

"""Analytics, sketch and governance queries: percentiles, mergeable
sketches, graph shapes, inequality and drift statistics, data-quality
and privacy audits.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import sketches as SK
from ..operators.aggregate import dsum
from ..operators.graph import pagerank_sql
from ..registry import register
from ..sources.parquet_source import load_table
from ._shared import _t


@register("value_percentiles", sql="""
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY event_type
""")
def q_value_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per group (Spark `percentile` ≡
    ANSI percentile_cont ≡ DuckDB quantile_cont).  At 100 TB switch to
    approx_percentile (t-digest sketch, map-side combinable) — exact
    percentile shuffles the values; the sketch shuffles KBs."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(*[F.round(F.percentile("value", p), 6).alias(n)
               for n, p in (("p50", 0.5), ("p90", 0.9), ("p99", 0.99))])
    )


# --------------------------------------------------------------------------
# Robust aggregates / skew / formats / streaming
# --------------------------------------------------------------------------

@register("winsorize_outliers", sql="""
WITH p AS (
    SELECT event_type,
           quantile_cont(value, 0.01) AS p01,
           quantile_cont(value, 0.99) AS p99
    FROM events GROUP BY event_type
)
SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(CAST(least(greatest(e.value, p.p01), p.p99)
                     AS DECIMAL(32,6))) AS DOUBLE) AS sum_clipped,
       round(min(least(greatest(e.value, p.p01), p.p99)), 6)
           AS min_clipped,
       round(max(least(greatest(e.value, p.p01), p.p99)), 6)
           AS max_clipped
FROM events e JOIN p USING (event_type)
GROUP BY e.event_type
""")
def q_winsorize_outliers(spark, sf_dir):
    """Winsorized (p01/p99-clipped) robust aggregates per group — the
    outlier-clipping step of metric cleaning.  The tiny per-group
    percentile table broadcasts back onto the fact scan; at 100 TB
    swap the exact percentile for approx_percentile and nothing else
    changes."""
    e = _t(spark, sf_dir, "events")
    pct = e.groupBy("event_type").agg(
        F.percentile("value", 0.01).alias("p01"),
        F.percentile("value", 0.99).alias("p99"))
    clip = F.least(F.greatest(F.col("value"), F.col("p01")), F.col("p99"))
    return (
        e.join(F.broadcast(pct), "event_type")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             dsum(clip).alias("sum_clipped"),
             F.round(F.min(clip), 6).alias("min_clipped"),
             F.round(F.max(clip), 6).alias("max_clipped"))
    )


@register("value_histogram", sql="""
SELECT event_type, CAST(floor(value / 25) AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY 1, 2
""")
def q_value_histogram(spark, sf_dir):
    """Fixed-width histogram per group — scan-local bin assignment,
    one map-side-combinable aggregation; the 100-TB distribution
    profiling primitive (feeds the quality-binning and outlier
    stages)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type",
                  F.floor(F.col("value") / 25).cast("bigint").alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select("event_type", "bin", "n")
    )


@register("value_trend_regression", sql="""
SELECT event_type,
       round(regr_slope(value, d), 6) AS slope,
       round(regr_intercept(value, d), 6) AS intercept,
       round(regr_r2(value, d), 6) AS r2,
       CAST(count(*) AS BIGINT) AS n
FROM (
    SELECT event_type, value,
           CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS DOUBLE)
               AS d
    FROM events
)
GROUP BY event_type
""")
def q_value_trend_regression(spark, sf_dir):
    """Per-group least-squares trend (value vs day index) via the
    regr_* aggregates — single-pass mergeable moment states like
    stats_moments, so the shuffle carries one small state per group.
    Rounded to 6 dp: the moment sums are the only order-dependent
    doubles and the magnitudes keep the noise far below the
    rounding."""
    e = _t(spark, sf_dir, "events")
    # floor-div, not `div`: Spark's div truncates toward zero while the
    # oracle's // floors, and the two disagree for pre-1970 timestamps.
    d = F.floor(F.unix_micros(F.col("ts")) / F.lit(86400000000)) \
        .cast("double")
    x = e.select("event_type", "value", d.alias("d"))
    return x.groupBy("event_type").agg(
        F.round(F.regr_slope("value", "d"), 6).alias("slope"),
        F.round(F.regr_intercept("value", "d"), 6).alias("intercept"),
        F.round(F.regr_r2("value", "d"), 6).alias("r2"),
        F.count(F.lit(1)).alias("n"))


_PR_NODES = "SELECT n_nationkey AS node FROM nation"
_PR_EDGES = """
SELECT c.c_nationkey AS u, s.s_nationkey AS v,
       CAST(count(*) AS BIGINT) AS w
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
GROUP BY 1, 2
"""


@register("nation_pagerank", sql=f"""
WITH pr AS ({pagerank_sql(_PR_NODES, _PR_EDGES, 25, iters=5)})
SELECT n.n_name, pr.pagerank FROM pr JOIN nation n ON n.n_nationkey = pr.node
""")
def q_nation_pagerank(spark, sf_dir):
    """Weighted PageRank over the nation-level trade graph (customer
    nation -> supplier nation, edge weight = lineitem count), 5 power
    iterations (operators/graph.pagerank).  The edge build is the
    multi_join_revenue star join; the iteration shuffles only
    (node, rank) pairs.  Oracle: the same 5 rounds unrolled as CTEs,
    decimal-accumulated so the doubles match to the bit."""
    from ..operators.graph import pagerank
    nation = _t(spark, sf_dir, "nation")
    edges = _pr_edges_local(spark, sf_dir)
    nodes = nation.select(F.col("n_nationkey").alias("node"))
    # Bounded-dimension graph (<= |nations|^2 edges at any corpus
    # scale): edges are a driver-local table, so broadcast both
    # per-iteration joins — the only shuffle per round is the tiny
    # (node, decimal) aggregate.
    pr = pagerank(nodes, edges, iters=5, broadcast_edges=True)
    return pr.join(F.broadcast(nation),
                   pr.node == nation.n_nationkey) \
        .select("n_name", "pagerank")


def _pr_edges_local(spark, sf_dir):
    """The weighted nation->nation trade graph, star-joined once per
    (session, sf_dir) and materialized to the driver — same rationale
    and bound as _trade_edges: a node-pair aggregate
    over the nation dimension is a tiny derived MODEL, and handing
    iterative consumers a LocalTableScan keeps their plans small."""
    from ..session import session_memo

    return session_memo(spark, f"pr_edges:{sf_dir}",
                        lambda: _build_pr_edges(spark, sf_dir))


def _build_pr_edges(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .groupBy(F.col("c_nationkey").alias("u"),
                 F.col("s_nationkey").alias("v"))
        .agg(F.count(F.lit(1)).alias("w"))
    )
    return spark.createDataFrame(edges.collect(), schema=edges.schema)


@register("sketch_cardinality", sql="""
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       CAST(1 AS BIGINT) AS within_bounds
FROM events GROUP BY event_type
""")
def q_sketch_cardinality(spark, sf_dir):
    """HyperLogLog++ cardinality sketches vs exact distinct counts —
    the 100-TB path for COUNT(DISTINCT): the sketch is fixed-size,
    map-side combinable, and mergeable across partitions/days, where
    exact distinct shuffles every key.  The raw estimate is
    engine-specific (DuckDB has no HLL++ with Spark's register
    layout), so the CHECKED value is the deterministic error contract:
    ``within_bounds`` = 1 iff the rsd=0.02 sketch lands within 5% of
    the exact count (2.5 sigma; deterministic for fixed input — HLL++
    has no RNG) — compared three-way against the oracle's literal 1
    alongside the exact counts.  The tighter-path law (estimate within
    bounds at every sf) is additionally pinned by
    tests/test_round3_ops.py."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", rsd=0.02)
             .alias("approx_users"),
             F.countDistinct("user_id").alias("exact_users"))
        .select(
            "event_type",
            F.col("exact_users").cast("bigint").alias("exact_users"),
            (F.abs(F.col("approx_users") - F.col("exact_users"))
             <= 0.05 * F.col("exact_users"))
            .cast("bigint").alias("within_bounds"))
    )


# --------------------------------------------------------------------------
# Triangle counting on the nation trade graph
# --------------------------------------------------------------------------

_TRADE_EDGES_CTE = """
WITH li AS (SELECT l_orderkey, l_suppkey FROM lineitem),
ord AS (SELECT o_orderkey, o_custkey FROM orders),
cst AS (SELECT c_custkey, c_nationkey FROM customer),
sup AS (SELECT s_suppkey, s_nationkey FROM supplier),
tr AS (SELECT cst.c_nationkey AS cn, sup.s_nationkey AS sn
            FROM li
            JOIN ord ON ord.o_orderkey = li.l_orderkey
            JOIN cst ON cst.c_custkey = ord.o_custkey
            JOIN sup ON sup.s_suppkey = li.l_suppkey
            WHERE cst.c_nationkey <> sup.s_nationkey),
w AS MATERIALIZED (SELECT least(cn, sn) AS a, greatest(cn, sn) AS b,
             count(*) AS wt
      FROM tr GROUP BY 1, 2)
SELECT a AS u, b AS v FROM w
WHERE wt > 1.2 * (SELECT CAST(SUM(wt) AS DOUBLE) / count(*) FROM w)
"""


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thresholded nation trade graph (u, v): undirected customer-
    nation <-> supplier-nation pairs whose trade volume exceeds 1.2x
    the mean edge weight — a RELATIVE threshold, so the graph stays
    sparse (and its structure discriminative) at every scale factor
    instead of saturating to the complete graph.  Shared by the
    triangle and BFS queries; mirrors _TRADE_EDGES_CTE exactly.

    Memoized per (session, sf_dir) via session.session_memo (one
    shared idiom for all session-scoped caches): the star join is the
    expensive part and its tiny derived edge list is deterministic,
    so every graph query over the same corpus shares ONE
    materialization — exactly how a production pipeline stages a
    derived graph table."""
    from ..session import session_memo

    return session_memo(spark, f"trade_edges:{sf_dir}",
                        lambda: _build_trade_edges(spark, sf_dir))


def _build_trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem") \
        .select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders") \
        .select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer") \
        .select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier") \
        .select("s_suppkey", "s_nationkey")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(F.least("c_nationkey", "s_nationkey").alias("a"),
                F.greatest("c_nationkey", "s_nationkey").alias("b")))
    # w is the star join's output (the expensive part) and feeds both
    # the mean-weight scalar and the thresholded edge list — persist so
    # the join runs once.
    from pyspark.storagelevel import StorageLevel
    w = (pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("wt"))
         .persist(StorageLevel.MEMORY_AND_DISK))
    stats = w.agg((F.sum("wt").cast("double")
                   / F.count(F.lit(1))).alias("__mean_wt"))
    edges = (w.join(F.broadcast(stats))
             .filter(F.col("wt") > 1.2 * F.col("__mean_wt"))
             .select(F.col("a").alias("u"), F.col("b").alias("v")))
    # The thresholded graph is <= |nations|^2 rows at ANY corpus scale
    # (a node-pair aggregate over a bounded dimension), i.e. a tiny
    # derived MODEL like the k-means centroids: materialize it to the
    # driver once and hand every graph query a LocalTableScan.
    # Without this, iterative consumers (BFS layers, triangle wedge
    # joins) embed the full star-join subtree at every edge reference
    # and Catalyst planning time dwarfs execution.
    try:
        local = spark.createDataFrame(edges.collect(),
                                      schema=edges.schema)
    finally:
        w.unpersist()
    return local


def _triangles_oracle() -> str:
    from ..operators.graph import triangles_sql
    return f"""
WITH pn AS ({triangles_sql(_TRADE_EDGES_CTE)})
SELECT n.n_name, pn.n_triangles
FROM pn JOIN nation n ON n.n_nationkey = pn.node
"""


@register("nation_trade_triangles", sql=_triangles_oracle())
def _q_nation_trade_triangles(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Triangle participation per nation on the thresholded trade
    graph (_trade_edges).  The triangle core is
    operators/graph.triangle_participation: degree-ordered
    orientation, O(E^1.5) wedge bound, 3 shuffles, no driver
    iteration.  Oracle: graph.triangles_sql's x<y<z enumeration — a
    different orientation, same triangle set."""
    from ..operators.graph import triangle_participation
    nation = load_table(spark, sf_dir, "nation")
    tp = triangle_participation(_trade_edges(spark, sf_dir))
    return (tp.join(F.broadcast(nation), tp.node == nation.n_nationkey)
            .select("n_name", "n_triangles"))


# --------------------------------------------------------------------------
# RANGE-frame sliding aggregate (7-day revenue per customer)
# --------------------------------------------------------------------------

_SLIDING_SQL = """
WITH o AS (SELECT o_custkey, o_orderkey,
                  CAST(floor(epoch_us(CAST(o_orderdate AS TIMESTAMP))
                             / 86400000000.0) AS BIGINT) AS day,
                  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders)
SELECT o_orderkey, o_custkey, day,
       CAST(SUM(cents) OVER (PARTITION BY o_custkey ORDER BY day
                             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
            AS BIGINT) AS rev7d_cents
FROM o
"""


@register("revenue_sliding_7d", sql=_SLIDING_SQL)
def _q_revenue_sliding_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer trailing-7-day revenue with a value-based RANGE
    frame (not ROWS): the frame is [day-6, day], so same-day peer
    orders are always included together and the result is independent
    of tie order — the frame semantics every calendar-window metric
    needs.  Integer day index + integer cents keep both engines
    exact.  One shuffle on o_custkey."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    # o_orderdate arrives as TIMESTAMP_NTZ (parquet isAdjustedToUTC =
    # false): datediff on its wall-clock DATE is the tz-free epoch-day
    # index — unix_micros would reject the type, and a cast to zoned
    # TIMESTAMP would shift with the (unknown) driver session timezone.
    day = F.datediff(F.to_date(F.col("o_orderdate")),
                     F.to_date(F.lit("1970-01-01"))).cast("bigint")
    cents = F.floor(F.col("o_totalprice") * 100).cast("bigint")
    q = o.select("o_orderkey", "o_custkey", day.alias("day"),
                 cents.alias("cents"))
    win = (Window.partitionBy("o_custkey").orderBy("day")
           .rangeBetween(-6, 0))
    return q.select("o_orderkey", "o_custkey", "day",
                    F.sum("cents").over(win).cast("bigint")
                    .alias("rev7d_cents"))


# --------------------------------------------------------------------------
# Pareto front (2-D skyline) per brand
# --------------------------------------------------------------------------

_PARETO_SQL = """
SELECT p.p_brand, p.p_partkey,
       CAST(floor(p.p_retailprice * 100) AS BIGINT) AS price_cents,
       CAST(p.p_size AS BIGINT) AS p_size
FROM {part} p
WHERE NOT EXISTS (
    SELECT 1 FROM {part} p2
    WHERE p2.p_brand = p.p_brand
      AND CAST(floor(p2.p_retailprice * 100) AS BIGINT)
          < CAST(floor(p.p_retailprice * 100) AS BIGINT)
      AND p2.p_size > p.p_size)
"""


@register("pareto_front_brand", sql=_PARETO_SQL.format(part="part"))
def _q_pareto_front_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand Pareto front (2-D skyline): parts not strictly
    dominated (cheaper AND larger) by a same-brand part.  The oracle
    is the quadratic NOT-EXISTS dominance definition; the Spark plan
    is the O(n log n) sweep — sort each brand by price, then a part
    survives iff no strictly-cheaper part has a larger size, i.e.
    max(p_size) over the RANGE frame of strictly lower price_cents is
    <= its own size.  The RANGE bound excludes price peers exactly as
    the strict < in the dominance definition requires.  One shuffle
    on p_brand; no self-join, no cross product."""
    from pyspark.sql import Window

    p = load_table(spark, sf_dir, "part")
    cents = F.floor(F.col("p_retailprice") * 100).cast("bigint")
    q = p.select("p_brand", "p_partkey", cents.alias("price_cents"),
                 F.col("p_size").cast("bigint").alias("p_size"))
    win = (Window.partitionBy("p_brand").orderBy("price_cents")
           .rangeBetween(Window.unboundedPreceding, -1))
    best_cheaper = F.max("p_size").over(win)
    return (q.withColumn("__m", best_cheaper)
            .filter(F.col("__m").isNull()
                    | (F.col("__m") <= F.col("p_size")))
            .drop("__m"))


# --------------------------------------------------------------------------
# Window VALUE-function surface (first/last/nth, IGNORE NULLS)
# --------------------------------------------------------------------------

_WVF_SQL = """
WITH q AS (SELECT event_id, user_id, ts,
                  CAST(floor(value * 1000000) AS BIGINT) AS vm
           FROM events),
m AS (SELECT *, CASE WHEN vm % 3 <> 0 THEN vm END AS vm_sparse FROM q)
SELECT event_id, user_id,
       first_value(vm) OVER w AS first_v,
       first_value(vm_sparse IGNORE NULLS) OVER w AS first_nn,
       last_value(vm_sparse IGNORE NULLS) OVER w AS locf_v,
       nth_value(vm, 2) OVER w AS second_v
FROM m
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


@register("window_value_functions", sql=_WVF_SQL)
def _q_window_value_functions(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """The value-window surface in one pass: first_value / last_value /
    nth_value plus their IGNORE NULLS forms (last_value IGNORE NULLS
    over a trailing frame IS last-observation-carried-forward) — the
    complement of window_rank_functions' ranking surface.  One shared
    window spec => one shuffle + sort; the null-sparse column derives
    deterministically from the data (vm % 3) so both engines filter
    identical nulls."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    vm = F.floor(F.col("value") * 1000000).cast("bigint")
    m = (e.select("event_id", "user_id", "ts", vm.alias("vm"))
         .withColumn("vm_sparse",
                     F.when(F.col("vm") % 3 != 0, F.col("vm"))))
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return m.select(
        "event_id", "user_id",
        F.first_value("vm").over(w).alias("first_v"),
        F.first_value("vm_sparse", ignoreNulls=True).over(w)
         .alias("first_nn"),
        F.last_value("vm_sparse", ignoreNulls=True).over(w)
         .alias("locf_v"),
        F.nth_value("vm", 2).over(w).alias("second_v"))


# --------------------------------------------------------------------------
# Data-quality assertion report (dbt-test style)
# --------------------------------------------------------------------------

_DQ_SQL = """
SELECT 'dup_user_ts' AS check_name, CAST(count(*) AS BIGINT)
       AS n_violations
FROM (SELECT user_id, ts FROM events GROUP BY user_id, ts
      HAVING count(*) > 1)
UNION ALL
SELECT 'fk_lineitem_orders', CAST(count(*) AS BIGINT) FROM lineitem l
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_orderkey = l.l_orderkey)
UNION ALL
SELECT 'fk_orders_customer', CAST(count(*) AS BIGINT) FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM customer c
                  WHERE c.c_custkey = o.o_custkey)
UNION ALL
SELECT 'neg_acctbal', CAST(count(*) AS BIGINT) FROM customer
WHERE c_acctbal < 0
UNION ALL
SELECT 'short_doc_text', CAST(count(*) AS BIGINT) FROM documents
WHERE text IS NULL OR length(trim(text)) < 100
UNION ALL
SELECT 'value_out_of_range', CAST(count(*) AS BIGINT) FROM events
WHERE value IS NULL OR value <= 0 OR value > 400
UNION ALL
SELECT 'bad_event_type', CAST(count(*) AS BIGINT) FROM events
WHERE event_type IS NULL OR event_type NOT IN
      ('click', 'signup', 'error', 'view', 'purchase')
UNION ALL
SELECT 'future_ts', CAST(count(*) AS BIGINT) FROM events
WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2030-01-01'
"""


@register("dq_report", sql=_DQ_SQL)
def _q_dq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate over the warehouse (operators/dq): two
    referential-integrity anti-joins, a composite-key uniqueness
    check, null/range filters, an accepted-values domain check, and a
    future-timestamp bound — one (check_name, n_violations) row each,
    passing checks included as explicit zeros.  Every check collapses
    to a count before the union, so the report moves eight rows
    however many TBs the checks scanned."""
    from ..operators.dq import dq_counts, duplicate_keys, fk_violations

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    docs = load_table(spark, sf_dir, "documents")
    events = load_table(spark, sf_dir, "events")
    return dq_counts({
        "dup_user_ts": duplicate_keys(events, "user_id", "ts"),
        "fk_lineitem_orders": fk_violations(
            li, "l_orderkey", orders, "o_orderkey"),
        "fk_orders_customer": fk_violations(
            orders.select("o_custkey"), "o_custkey", cust, "c_custkey"),
        "neg_acctbal": cust.filter(F.col("c_acctbal") < 0),
        "short_doc_text": docs.filter(
            F.col("text").isNull()
            | (F.length(F.trim("text")) < 100)),
        "value_out_of_range": events.filter(
            F.col("value").isNull() | (F.col("value") <= 0)
            | (F.col("value") > 400)),
        # accepted-values (dbt-style domain check) + a bound against
        # obviously-corrupt future timestamps; the reference instant
        # is a fixed literal, not now(), so the check is deterministic.
        "bad_event_type": events.filter(
            F.col("event_type").isNull()
            | ~F.col("event_type").isin("click", "signup", "error",
                                        "view", "purchase")),
        "future_ts": events.filter(
            F.col("ts") >= F.lit("2030-01-01").cast("timestamp")),
    })


# --------------------------------------------------------------------------
# Table profiling report
# --------------------------------------------------------------------------

_PROFILE_TABLES = {
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal",
                 "c_mktsegment"],
    "orders": ["o_orderkey", "o_custkey", "o_orderstatus",
               "o_totalprice", "o_orderpriority"],
    "documents": ["doc_id", "lang", "source", "n_chars"],
}


def _profile_oracle() -> str:
    from ..operators.dq import profile_sql
    return "\nUNION ALL\n".join(
        profile_sql(t, cs) for t, cs in _PROFILE_TABLES.items())


@register("profile_tables", sql=_profile_oracle())
def _q_profile_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data profiling (operators/dq.profile_columns): per-column
    n_rows / n_nulls / n_distinct for three tables in one long report
    — one fused aggregate pass per table (multi-distinct via one
    Expand), unions of 5-row frames.  The oracle is the naive
    one-leg-per-column UNION ALL."""
    from functools import reduce

    from ..operators.dq import profile_columns
    frames = [
        profile_columns(load_table(spark, sf_dir, t).select(*cs), t, cs)
        for t, cs in _PROFILE_TABLES.items()
    ]
    return reduce(lambda a, b: a.unionAll(b), frames)


def _bfs_oracle() -> str:
    from ..operators.graph import hop_distances_sql
    sym = f"""
WITH base AS ({_TRADE_EDGES_CTE})
SELECT u, v FROM base UNION ALL SELECT v AS u, u AS v FROM base"""
    srcs = "SELECT n_nationkey AS node FROM nation WHERE n_nationkey = 0"
    return f"""
WITH pn AS ({hop_distances_sql(sym, srcs, k=4)})
SELECT n.n_name, pn.dist
FROM pn JOIN nation n ON n.n_nationkey = pn.node
"""


@register("nation_trade_bfs", sql=_bfs_oracle())
def _q_nation_trade_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded BFS (operators/graph.hop_distances): shortest hop
    distance from nation 0 over the symmetrized thresholded trade
    graph, <= 4 hops — k unrolled relaxation rounds, each one
    (node, dist) join + min-agg, the same small-payload iterative
    shape as pagerank.  Oracle: the identical rounds as unrolled
    CTEs."""
    from ..operators.graph import hop_distances
    e = _trade_edges(spark, sf_dir)
    sym = e.unionAll(e.select(F.col("v").alias("u"),
                              F.col("u").alias("v")))
    nation = load_table(spark, sf_dir, "nation")
    srcs = nation.filter(F.col("n_nationkey") == 0) \
        .select(F.col("n_nationkey").alias("node"))
    # The trade graph is a node-pair aggregate over the nation
    # dimension — <= |nations|^2 rows at ANY corpus scale, so the
    # per-round join can broadcast instead of shuffling.
    d = hop_distances(sym, srcs, k=4, broadcast_edges=True)
    return (d.join(F.broadcast(nation),
                   d.node == nation.n_nationkey)
            .select("n_name", "dist"))


# --------------------------------------------------------------------------
# RFM customer segmentation (percentile-threshold bucketing)
# --------------------------------------------------------------------------

_RFM_SQL = """
WITH base AS (
    SELECT o_custkey,
           CAST(max(CAST(floor(epoch_us(CAST(o_orderdate AS TIMESTAMP))
                      / 86400000000.0) AS BIGINT)) AS BIGINT) AS last_day,
           CAST(count(*) AS BIGINT) AS f_orders,
           CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS m_cents
    FROM orders GROUP BY o_custkey
), ref AS (SELECT max(last_day) AS ref_day FROM base),
r AS (
    SELECT b.o_custkey, ref.ref_day - b.last_day AS r_days,
           b.f_orders, b.m_cents
    FROM base b, ref
), th AS (
    SELECT quantile_cont(r_days, 0.25) AS r25,
           quantile_cont(r_days, 0.5) AS r50,
           quantile_cont(r_days, 0.75) AS r75,
           quantile_cont(f_orders, 0.25) AS f25,
           quantile_cont(f_orders, 0.5) AS f50,
           quantile_cont(f_orders, 0.75) AS f75,
           quantile_cont(m_cents, 0.25) AS m25,
           quantile_cont(m_cents, 0.5) AS m50,
           quantile_cont(m_cents, 0.75) AS m75
    FROM r
)
SELECT r.o_custkey, r.r_days, r.f_orders, r.m_cents,
       CAST(1 + CAST(r_days > r25 AS INT) + CAST(r_days > r50 AS INT)
              + CAST(r_days > r75 AS INT) AS BIGINT) AS r_bucket,
       CAST(1 + CAST(f_orders > f25 AS INT) + CAST(f_orders > f50 AS INT)
              + CAST(f_orders > f75 AS INT) AS BIGINT) AS f_bucket,
       CAST(1 + CAST(m_cents > m25 AS INT) + CAST(m_cents > m50 AS INT)
              + CAST(m_cents > m75 AS INT) AS BIGINT) AS m_bucket
FROM r, th
"""


@register("customer_rfm_segments", sql=_RFM_SQL)
def _q_customer_rfm_segments(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """RFM segmentation — recency (days since last order, vs the
    dataset's max day so it is deterministic, never now()), frequency,
    monetary — each bucketed 1-4 by EXACT quartile thresholds.  The
    scale shape: thresholds come from one tiny aggregate over the
    per-customer rollup and broadcast back as a 1-row join — never an
    ntile window over an unpartitioned table (the global-sort
    scale-killer the naive formulation hides).  Integer metrics and
    interpolated quantile_cont ≡ Spark percentile keep every bucket
    boundary engine-exact."""
    o = load_table(spark, sf_dir, "orders")
    # tz-free epoch day on the NTZ wall date (the revenue_sliding_7d
    # pattern); r_days is a DIFFERENCE of days so any constant offset
    # would cancel anyway.
    day = F.datediff(F.to_date(F.col("o_orderdate")),
                     F.to_date(F.lit("1970-01-01"))).cast("bigint")
    base = (o.select("o_custkey", day.alias("day"),
                     F.floor(F.col("o_totalprice") * 100).cast("bigint")
                      .alias("cents"))
            .groupBy("o_custkey")
            .agg(F.max("day").alias("last_day"),
                 F.count(F.lit(1)).alias("f_orders"),
                 F.sum("cents").cast("bigint").alias("m_cents")))
    from pyspark.sql import Window
    wall = Window.partitionBy()
    r = base.select(
        "o_custkey",
        (F.max("last_day").over(wall) - F.col("last_day"))
        .alias("r_days"),
        "f_orders", "m_cents")
    th = r.agg(*[
        F.expr(f"percentile({c}, {q})").alias(f"{c[0]}{int(q * 100)}")
        for c in ("r_days", "f_orders", "m_cents")
        for q in (0.25, 0.5, 0.75)])

    def bucket(col: str, p: str) -> F.Column:
        return (F.lit(1)
                + (F.col(col) > F.col(f"{p}25")).cast("int")
                + (F.col(col) > F.col(f"{p}50")).cast("int")
                + (F.col(col) > F.col(f"{p}75")).cast("int")
                ).cast("bigint")

    return (r.join(F.broadcast(th))
            .select("o_custkey", "r_days", "f_orders", "m_cents",
                    bucket("r_days", "r").alias("r_bucket"),
                    bucket("f_orders", "f").alias("f_bucket"),
                    bucket("m_cents", "m").alias("m_bucket")))


# --------------------------------------------------------------------------
# Median-absolute-deviation robust outliers
# --------------------------------------------------------------------------

_MAD_SQL = """
WITH v AS (
  SELECT event_type, CAST(floor(value * 1000000) AS BIGINT) AS s
  FROM events),
med AS (
  SELECT event_type, quantile_cont(s, 0.5) AS med
  FROM v GROUP BY event_type),
dev AS (
  SELECT v.event_type, v.s, m.med, abs(v.s - m.med) AS adev
  FROM v JOIN med m ON m.event_type = v.event_type),
mad AS (
  SELECT event_type, quantile_cont(adev, 0.5) AS mad
  FROM dev GROUP BY event_type)
SELECT d.event_type,
       CAST(floor(d.med) AS BIGINT) AS med_micro,
       CAST(floor(m.mad) AS BIGINT) AS mad_micro,
       CAST(count(*) FILTER (WHERE d.adev > 3 * m.mad) AS BIGINT)
         AS n_outliers,
       CAST(count(*) AS BIGINT) AS n_events
FROM dev d JOIN mad m ON m.event_type = d.event_type
GROUP BY d.event_type, d.med, m.mad
"""


@register("value_mad_outliers", sql=_MAD_SQL)
def _q_value_mad_outliers(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """Robust outlier counts per event type: median + median absolute
    deviation, |x - med| > 3*MAD.  Unlike z-scores, MAD doesn't let
    the outliers inflate their own threshold.

    Exactness: values floor-scale to integer micro-units BEFORE the
    percentiles, so every interpolated median is (l+h)/2 of integers
    (an exact x.0/x.5 double), every |s - med| an exact multiple of
    0.5, every MAD an exact multiple of 0.25 — the engines' different
    interpolation formulas (l*(1-f)+h*f vs l+(h-l)*f) agree bitwise
    because no intermediate op rounds.  Interpolating the raw doubles
    instead would sit 1 ulp from a floor/threshold boundary on
    adversarial data.

    Two exact-percentile passes (Spark `percentile` ≡ quantile_cont);
    the tiny per-type median/MAD tables broadcast back onto the scan,
    so the fact rows never shuffle — at 100 TB swap `percentile` for
    approx_percentile and the structure is unchanged."""
    e = load_table(spark, sf_dir, "events")
    v = e.select("event_type",
                 F.floor(F.col("value") * 1000000).cast("long")
                  .alias("s"))
    med = v.groupBy("event_type").agg(
        F.percentile("s", 0.5).alias("med"))
    dev = (v.join(F.broadcast(med), "event_type")
           .withColumn("adev", F.abs(F.col("s") - F.col("med"))))
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", 0.5).alias("mad"))
    return (dev.join(F.broadcast(mad), "event_type")
            .groupBy("event_type", "med", "mad")
            .agg(F.count(F.when(F.col("adev") > 3 * F.col("mad"), 1))
                 .alias("n_outliers"),
                 F.count(F.lit(1)).alias("n_events"))
            .select("event_type",
                    F.floor("med").cast("long").alias("med_micro"),
                    F.floor("mad").cast("long").alias("mad_micro"),
                    "n_outliers", "n_events"))


# --------------------------------------------------------------------------
# Window distribution functions: percent_rank / cume_dist
# --------------------------------------------------------------------------

_WDIST_SQL = """
SELECT event_id, event_type,
       round(percent_rank() OVER w, 6) AS pr,
       round(cume_dist() OVER w, 6) AS cd
FROM events
WHERE value IS NOT NULL
WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
"""


@register("window_distribution_functions", sql=_WDIST_SQL)
def _q_window_distribution_functions(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """percent_rank and cume_dist per event_type — the distribution
    half of the rank-function family (`window_rank_functions` covers
    rank/dense_rank/row_number/ntile).  Both are integer divisions
    ((rank−1)/(n−1), peers/n): IEEE-exact, so the 6-dp round matches
    DuckDB bit-for-bit.  The (value, event_id) order key is unique,
    making every rank deterministic; NULL values are excluded because
    the engines disagree on NULL sort position (Spark first, DuckDB
    last — the tranche-1 lesson).  One shuffle on event_type."""
    ev = load_table(spark, sf_dir, "events", fan_out=False) \
        .filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return ev.select(
        "event_id", "event_type",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"))


# --------------------------------------------------------------------------
# KMV distinct-count sketch: active user-days per event type
# --------------------------------------------------------------------------

_KMV_K = 64

# user-day key, rendered identically by both engines: BIGINT user id,
# '|', floor-div day index of the event timestamp.
_KMV_KEY_SQL = ("CAST(user_id AS VARCHAR) || '|' || "
                "CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 "
                "AS VARCHAR)")

_KMV_SQL = f"""
WITH h AS (
    SELECT DISTINCT event_type,
           {SK.hash60_sql(_KMV_KEY_SQL, 'kmv')} AS hv
    FROM events
    WHERE user_id IS NOT NULL AND ts IS NOT NULL
), r AS (
    SELECT event_type, hv,
           row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn,
           count(*) OVER (PARTITION BY event_type) AS nd
    FROM h
)
SELECT event_type,
       CAST(least(nd, {_KMV_K}) AS INT) AS k_used,
       max(CASE WHEN rn = {_KMV_K} THEN hv END) AS kth_hash,
       round(CASE WHEN nd < {_KMV_K} THEN CAST(nd AS DOUBLE)
             ELSE {float(_KMV_K - 1)!r} * {float(SK.HASH_SPACE)!r}
                  / CAST(max(CASE WHEN rn = {_KMV_K} THEN hv END)
                         AS DOUBLE) END, 2) AS n_distinct_est
FROM r
GROUP BY event_type, nd
"""


@register("kmv_distinct_by_type", sql=_KMV_SQL)
def _q_kmv_distinct_by_type(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """KMV distinct-count of active (user, day) pairs per event type.
    The sketch build is the scale path — HLL++ sizes each group, a
    broadcast threshold keeps only the lowest slice of the hash space,
    and the k smallest distinct hashes are collected from the ~alpha*k
    survivors (operators/sketches.kmv_sketch) — while the oracle
    recomputes the exact order statistic over all distinct hashes, so
    a driver row checks the sketch VALUES bit-for-bit (estimator: one
    bigint->double cast + one division, IEEE-identical everywhere)."""
    ev = load_table(spark, sf_dir, "events", fan_out=True)
    day = F.floor(F.unix_micros(F.col("ts")) / F.lit(86400000000)) \
        .cast("bigint")
    # NULL-propagating F.concat, NOT concat_ws: concat_ws SKIPS null
    # members, so a NULL user_id would silently hash a partial key
    # ('|day') while the oracle's || yields NULL — divergent hash
    # sets.  With F.concat a NULL component nulls the whole key, the
    # null hash is dropped by collect_set, and the oracle's explicit
    # NOT NULL filter says the same thing.
    keyed = ev.select(
        "event_type",
        F.concat(F.col("user_id").cast("string"), F.lit("|"),
                 day.cast("string")).alias("uday"))
    sk = SK.kmv_sketch(keyed, "event_type", "uday", k=_KMV_K)
    return SK.kmv_estimate(sk, k=_KMV_K)


# --------------------------------------------------------------------------
# KMV set algebra: audience overlap from sketches alone
# --------------------------------------------------------------------------

_KMV_EST_SQL = """CASE WHEN len({arr}) < {k} THEN CAST(len({arr}) AS DOUBLE)
     ELSE {km1} * {space} / CAST({arr}[{k}] AS DOUBLE) END"""


def _kmv_overlap_sql() -> str:
    k = _KMV_K
    est = lambda arr: _KMV_EST_SQL.format(  # noqa: E731
        arr=arr, k=k, km1=float(k - 1), space=float(SK.HASH_SPACE))
    return f"""
WITH h AS (
    SELECT DISTINCT event_type,
           {SK.hash60_sql(_KMV_KEY_SQL, 'kmv')} AS hv
    FROM events
    WHERE event_type IN ('click', 'purchase')
      AND user_id IS NOT NULL AND ts IS NOT NULL
), r AS (
    SELECT event_type, hv,
           row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
    FROM h
), ka AS (
    SELECT list(hv ORDER BY hv) AS a FROM r
    WHERE event_type = 'click' AND rn <= {k}
), kb AS (
    SELECT list(hv ORDER BY hv) AS b FROM r
    WHERE event_type = 'purchase' AND rn <= {k}
), m AS (
    SELECT a, b,
           list_sort(list_distinct(a || b)) AS u
    FROM ka, kb
), mm AS (
    SELECT a, b,
           CASE WHEN len(u) > {k} THEN u[1:{k}] ELSE u END AS merged
    FROM m
)
SELECT round({est('a')}, 2) AS est_click,
       round({est('b')}, 2) AS est_purchase,
       round({est('merged')}, 2) AS est_union,
       round((CAST(len(list_filter(merged,
                       v -> list_contains(a, v)
                            AND list_contains(b, v))) AS DOUBLE)
              / least(len(merged), {k})) * ({est('merged')}), 2)
           AS est_overlap
FROM mm
"""


@register("kmv_audience_overlap", sql=_kmv_overlap_sql())
def _q_kmv_audience_overlap(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """|click audience ∩ purchase audience| (distinct user-days)
    estimated from the two KMV sketches ALONE — the set algebra that
    lets yesterday's and today's (or two sources') audiences intersect
    without touching either corpus again.  Merge the sketches, scale
    the union estimate by the fraction of the merged k-set present in
    both inputs (Beyer et al. 2007).  Every number is deterministic
    (integer hashes, one bigint->double cast, fixed-order IEEE ops),
    so the driver hash-checks the sketch algebra end to end."""
    ev = load_table(spark, sf_dir, "events") \
        .filter(F.col("event_type").isin("click", "purchase"))
    day = F.floor(F.unix_micros(F.col("ts")) / F.lit(86400000000)) \
        .cast("bigint")
    keyed = ev.select(
        "event_type",
        F.concat(F.col("user_id").cast("string"), F.lit("|"),
                 day.cast("string")).alias("uday"))
    sk = SK.kmv_sketch(keyed, "event_type", "uday", k=_KMV_K)
    a = sk.filter(F.col("event_type") == "click") \
        .select(F.col("kmv").alias("a"))
    b = sk.filter(F.col("event_type") == "purchase") \
        .select(F.col("kmv").alias("b"))
    both = a.crossJoin(F.broadcast(b))
    merged = SK.kmv_merge(F.col("a"), F.col("b"), _KMV_K)
    return both.select(
        F.round(SK.kmv_union_est(F.col("a"), _KMV_K), 2)
         .alias("est_click"),
        F.round(SK.kmv_union_est(F.col("b"), _KMV_K), 2)
         .alias("est_purchase"),
        F.round(SK.kmv_union_est(merged, _KMV_K), 2).alias("est_union"),
        F.round(SK.kmv_intersect_estimate(F.col("a"), F.col("b"),
                                          _KMV_K), 2)
         .alias("est_overlap"))


# --------------------------------------------------------------------------
# Count-min frequency sketch: per-user event counts
# --------------------------------------------------------------------------

_CM_D, _CM_W = 4, 256

_CM_SQL = f"""
WITH counters AS (
    {SK.countmin_sql('CAST(user_id AS VARCHAR)', 'events',
                     depth=_CM_D, width=_CM_W)}
), probe AS (
    SELECT user_id, CAST(count(*) AS BIGINT) AS exact_cnt
    FROM events GROUP BY user_id
), pos AS (
    SELECT p.user_id, p.exact_cnt, s.r AS r,
           CAST(concat('0x', substr(md5(concat('cm',
                CAST(s.r AS VARCHAR), ':',
                CAST(p.user_id AS VARCHAR))), 1, 15)) AS BIGINT)
               % {_CM_W} AS pos
    FROM probe p, generate_series(0, {_CM_D - 1}) s(r)
)
SELECT p.user_id, p.exact_cnt, CAST(min(c.cnt) AS BIGINT) AS cm_est
FROM pos p JOIN counters c ON c.r = p.r AND c.pos = p.pos
GROUP BY p.user_id, p.exact_cnt
"""


@register("countmin_user_events", sql=_CM_SQL)
def _q_countmin_user_events(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Count-min estimate vs exact count of events per user.  The
    counter matrix is ONE map-side-combinable aggregate with at most
    d*w output rows regardless of input size; lookups broadcast it.
    The counters and the min-of-d estimates are integers, so the
    oracle match is exact — and the >= exact-count guarantee is
    pinned separately in tests/test_sketches.py.  (Probing EVERY key,
    as here, is for oracle coverage; the production shape probes a
    bounded candidate set — e.g. per-partition top-k pre-candidates —
    against the broadcast matrix, which is what makes count-min cheap
    when the key universe doesn't fit anywhere.)"""
    ev = load_table(spark, sf_dir, "events")
    counters = SK.countmin_counters(ev.select("user_id"), "user_id",
                                    depth=_CM_D, width=_CM_W)
    keys = ev.groupBy("user_id") \
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
    return SK.countmin_lookup(counters, keys, "user_id",
                              depth=_CM_D, width=_CM_W)


# --------------------------------------------------------------------------
# Bloom-filter join pruning: urgent-order revenue by year
# --------------------------------------------------------------------------

_BLOOM_SQL = """
SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
       CAST(count(*) AS BIGINT) AS n_lines,
       round(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(32,6))) AS DOUBLE), 2)
           AS urgent_revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderpriority = '1-URGENT'
GROUP BY 1
"""


@register("bloom_filter_join", sql=_BLOOM_SQL)
def _q_bloom_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-filtered-dim join with an explicit Bloom prefilter on
    the fact scan: the urgent orders' keys are aggregated into a 2^20
    bit array (a bounded driver-side model — 16384 longs, independent
    of data scale), the lineitem scan drops rows whose key cannot be
    urgent BEFORE the shuffle, and the exact join then runs on the
    survivors.  The oracle is the PLAIN join — equality proves the
    filter never drops a true match; false positives are pruned by the
    join itself.  This is Spark's runtime row-level bloom made
    explicit, testable, and available to any query shape."""
    orders = load_table(spark, sf_dir, "orders", fan_out=False)
    li = load_table(spark, sf_dir, "lineitem")
    build = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    words = SK.bloom_build(build, "o_orderkey")
    pruned = SK.bloom_prune(li, "l_orderkey", words)
    rev = (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))) \
        .cast("decimal(32,6)")
    return (pruned.join(build.select("o_orderkey", "o_orderdate"),
                        pruned.l_orderkey == F.col("o_orderkey"))
            .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
            .agg(F.count(F.lit(1)).alias("n_lines"),
                 F.round(F.sum(rev).cast("double"), 2)
                  .alias("urgent_revenue")))


_DEC = "decimal(32,6)"

# Exact integer cents from a 2-dp money double: the 6-dp decimal cast
# is exact (established tranche-1 idiom), *100 stays in decimal, the
# bigint cast is then integer-exact on both engines.
_CENTS_SQL = "CAST(CAST({col} AS DECIMAL(32,6)) * 100 AS BIGINT)"


def _cents(col: str):
    return (F.col(col).cast(_DEC) * 100).cast("bigint")


# --------------------------------------------------------------------------
# TPC-H Q7 shape: cross-nation trade volume
# --------------------------------------------------------------------------

_Q7_SQL = """
SELECT n2.n_name AS supp_nation,
       n1.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(round(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(32,6))), 2) AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
WHERE c.c_nationkey <> s.s_nationkey
GROUP BY n2.n_name, n1.n_name, year(l.l_shipdate)
"""


@register("nation_pair_trade", sql=_Q7_SQL)
def _q_nation_pair_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape, generalized to every cross-nation pair: revenue
    shipped from supplier nation to customer nation per year.  ONE
    fact-fact shuffle (lineitem ⋈ orders on orderkey); customer,
    supplier, and both nation role-copies are broadcast, so the
    two-sided nation resolution costs no extra exchange.  The final
    groupBy is map-side combinable onto ≤ |nations|²·|years| groups —
    at 100 TB the reduce side is a few thousand rows regardless of
    fact size.  (Classic Q7 pins two nations; keeping every pair makes
    the result non-degenerate at every test SF.)"""
    li = load_table(spark, sf_dir, "lineitem", fan_out=False)
    o = load_table(spark, sf_dir, "orders", fan_out=False) \
        .select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer") \
        .select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier") \
        .select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("c_nk"),
                  F.col("n_name").alias("cust_nation"))
    n2 = n.select(F.col("n_nationkey").alias("s_nk"),
                  F.col("n_name").alias("supp_nation"))
    j = (li.join(o, li.l_orderkey == o.o_orderkey)
         .join(F.broadcast(c), o.o_custkey == c.c_custkey)
         .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
         .filter(F.col("c_nationkey") != F.col("s_nationkey"))
         .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nk"))
         .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nk")))
    rev = F.sum((F.col("l_extendedprice")
                 * (F.lit(1) - F.col("l_discount"))).cast(_DEC))
    return (j.groupBy("supp_nation", "cust_nation",
                      F.year("l_shipdate").cast("bigint").alias("l_year"))
            .agg(F.count(F.lit(1)).alias("n_items"),
                 F.round(rev, 2).cast("double").alias("revenue")))


# --------------------------------------------------------------------------
# Largest-remainder (Hamilton) apportionment of sample slots
# --------------------------------------------------------------------------

_SEATS = 10_000

_APPORTION_SQL = f"""
WITH rev AS (
    SELECT n.n_nationkey, n.n_name,
           SUM({_CENTS_SQL.format(col='l.l_extendedprice')}) AS cents
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_nationkey, n.n_name
), q AS (
    SELECT n_nationkey, n_name, cents,
           ({_SEATS} * cents) // sum(cents) OVER () AS base,
           ({_SEATS} * cents) % sum(cents) OVER () AS rem
    FROM rev
), r AS (
    SELECT n_nationkey, n_name, cents, base,
           row_number() OVER (ORDER BY rem DESC, n_nationkey) AS rk,
           {_SEATS} - sum(base) OVER () AS leftover
    FROM q
)
SELECT n_name AS nation,
       CAST(cents AS BIGINT) AS rev_cents,
       CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
            AS BIGINT) AS slots
FROM r
"""


@register("revenue_apportionment", sql=_APPORTION_SQL)
def _q_revenue_apportionment(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Largest-remainder apportionment: split {_SEATS} sample slots
    across nations proportional to customer-side revenue.  Everything
    after the revenue rollup is INTEGER arithmetic — quota numerator
    ``seats·cents``, floor-div base, mod remainder, remainder-ranked
    bonus — so the result is bit-identical on any engine (the whole
    point of doing apportionment in integers; float quotas misallocate
    seats).  Scale: one fact rollup (map-side combinable onto
    |nations| groups); the windows run over the 25-row nation frame.
    Overflow headroom: seats·total-cents fits bigint through ~10⁵ ×
    world-revenue; lift to DECIMAL(38,0) beyond."""
    li = load_table(spark, sf_dir, "lineitem", fan_out=False)
    o = load_table(spark, sf_dir, "orders", fan_out=False) \
        .select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer") \
        .select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation")
    rev = (li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
           .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
           .join(F.broadcast(n),
                 F.col("c_nationkey") == F.col("n_nationkey"))
           .groupBy("n_nationkey", "n_name")
           .agg(F.sum(_cents("l_extendedprice")).alias("cents")))
    wall = Window.partitionBy()
    q = (rev.withColumn("num", F.lit(_SEATS) * F.col("cents"))
         .withColumn("total", F.sum("cents").over(wall))
         .withColumn("base", F.expr("num div total"))
         .withColumn("rem", F.col("num") % F.col("total")))
    r = (q.withColumn("rk", F.row_number().over(
            Window.orderBy(F.desc("rem"), F.asc("n_nationkey"))))
         .withColumn("leftover",
                     F.lit(_SEATS) - F.sum("base").over(wall)))
    return r.select(
        F.col("n_name").alias("nation"),
        F.col("cents").cast("bigint").alias("rev_cents"),
        (F.col("base") + F.when(F.col("rk") <= F.col("leftover"), 1)
         .otherwise(0)).cast("bigint").alias("slots"))


# --------------------------------------------------------------------------
# Weighted median per group (cumulative-weight window)
# --------------------------------------------------------------------------

_WMEDIAN_SQL = f"""
WITH v AS (
    SELECT l_returnflag,
           {_CENTS_SQL.format(col='l_extendedprice')} AS cents,
           CAST(l_quantity AS BIGINT) AS w
    FROM lineitem
), g AS (
    SELECT l_returnflag, cents, sum(w) AS w
    FROM v GROUP BY l_returnflag, cents
), c AS (
    SELECT l_returnflag, cents,
           sum(w) OVER (PARTITION BY l_returnflag ORDER BY cents
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS cw,
           sum(w) OVER (PARTITION BY l_returnflag) AS tw
    FROM g
)
SELECT l_returnflag,
       CAST(min(CASE WHEN 2 * cw >= tw THEN cents END) AS BIGINT)
           AS weighted_median_cents,
       CAST(max(tw) AS BIGINT) AS total_weight
FROM c GROUP BY l_returnflag
"""


@register("weighted_median_value", sql=_WMEDIAN_SQL)
def _q_weighted_median_value(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Quantity-weighted median line price per return flag: the
    smallest value whose cumulative weight reaches half the total —
    the order statistic ``percentile``/``median`` cannot weight.
    Values are exact integer cents and weights integer quantities, so
    the cumulative compare ``2·cw ≥ tw`` is integer-exact parity.
    Scale: pre-aggregating to (group, value) makes the window input
    |distinct values| per group (and makes the ROWS frame
    deterministic — one row per value); one shuffle for the groupBy,
    one for the per-group window."""
    li = load_table(spark, sf_dir, "lineitem")
    v = li.select("l_returnflag", _cents("l_extendedprice").alias("cents"),
                  F.col("l_quantity").cast("bigint").alias("w"))
    g = v.groupBy("l_returnflag", "cents").agg(F.sum("w").alias("w"))
    wc = (Window.partitionBy("l_returnflag").orderBy("cents")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wt = Window.partitionBy("l_returnflag")
    c = g.select("l_returnflag", "cents",
                 F.sum("w").over(wc).alias("cw"),
                 F.sum("w").over(wt).alias("tw"))
    return (c.groupBy("l_returnflag")
            .agg(F.min(F.when(2 * F.col("cw") >= F.col("tw"),
                              F.col("cents")))
                 .cast("bigint").alias("weighted_median_cents"),
                 F.max("tw").cast("bigint").alias("total_weight")))


# --------------------------------------------------------------------------
# Benford first-digit audit of order totals
# --------------------------------------------------------------------------

# log10(1 + 1/d) to 6 dp — literals on BOTH engines (libm log10 is not
# required to be correctly rounded, so it never runs at query time).
_BENFORD_P = {1: 0.301030, 2: 0.176091, 3: 0.124939, 4: 0.096910,
              5: 0.079181, 6: 0.066947, 7: 0.057992, 8: 0.051153,
              9: 0.045757}

_BENFORD_SQL = f"""
WITH c AS (
    SELECT {_CENTS_SQL.format(col='o_totalprice')} AS cents
    FROM orders WHERE o_totalprice > 0
), d AS (
    SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit,
           count(*) AS n
    FROM c GROUP BY CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT)
), t AS (
    SELECT digit, n, sum(n) OVER () AS total FROM d
)
SELECT t.digit,
       CAST(t.n AS BIGINT) AS n_orders,
       round(CAST(t.n AS DOUBLE) / CAST(t.total AS DOUBLE), 6) AS share,
       CAST(b.p AS DOUBLE) AS benford_p,
       round(CAST(t.n AS DOUBLE) / CAST(t.total AS DOUBLE)
             - CAST(b.p AS DOUBLE), 6) AS delta
FROM t
JOIN (VALUES {', '.join(f'({d}, {p})' for d, p in _BENFORD_P.items())})
     AS b(digit, p) ON t.digit = b.digit
"""


@register("benford_digit_audit", sql=_BENFORD_SQL)
def _q_benford_digit_audit(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Benford's-law screen on order totals: observed share of each
    leading significant digit vs the Benford expectation — the
    classic fabricated-data audit.  The leading digit comes from the
    STRING head of the exact integer cents (invariant under the ×100
    power-of-10 lift; no log10 at query time — expected shares are
    6-dp literals identical on both engines, and bigint→string
    rendering is engine-portable).  Scale: one map-side combinable
    groupBy onto 9 digits; the share window runs over the 9-row
    frame; the expectation table is a broadcast LocalTableScan."""
    o = load_table(spark, sf_dir, "orders", fan_out=False)
    bf = spark.createDataFrame(
        sorted(_BENFORD_P.items()), "digit bigint, benford_p double")
    d = (o.filter(F.col("o_totalprice") > 0)
         .select(_cents("o_totalprice").alias("cents"))
         .select(F.substring(F.col("cents").cast("string"), 1, 1)
                 .cast("bigint").alias("digit"))
         .groupBy("digit").agg(F.count(F.lit(1)).alias("n")))
    t = d.withColumn("total", F.sum("n").over(Window.partitionBy()))
    share = F.col("n").cast("double") / F.col("total").cast("double")
    return (t.join(F.broadcast(bf), "digit")
            .select("digit",
                    F.col("n").cast("bigint").alias("n_orders"),
                    F.round(share, 6).alias("share"),
                    "benford_p",
                    F.round(share - F.col("benford_p"), 6)
                    .alias("delta")))


# --------------------------------------------------------------------------
# Market-basket pair support (in-row combination generation)
# --------------------------------------------------------------------------

_MIN_SUPPORT = 3

_BASKET_SQL = f"""
WITH li AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), p AS (
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           count(*) AS n
    FROM li a
    JOIN li b ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
)
SELECT CAST(part_a AS BIGINT) AS part_a,
       CAST(part_b AS BIGINT) AS part_b,
       CAST(n AS BIGINT) AS support
FROM p WHERE n >= {_MIN_SUPPORT}
"""


@register("basket_pair_support", sql=_BASKET_SQL)
def _q_basket_pair_support(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Frequent co-purchased part pairs (the A-Priori L2 pass):
    support = number of orders containing both parts, threshold
    {_MIN_SUPPORT}.  Spark generates pairs IN-ROW: collect_set per
    order (dedups for free), sort, nested-transform the C(k,2)
    combinations, explode — work is bounded by basket-size², never
    the |lineitem|² a fact-fact self-join risks, and the orderkey
    groupBy is the only fact shuffle (the pair groupBy moves ≤
    Σ C(k,2) rows, map-side combinable).  The oracle states the same
    relation as the naive equi-self-join — result equality proves the
    in-row rewrite."""
    li = load_table(spark, sf_dir, "lineitem", fan_out=False)
    baskets = (li.groupBy("l_orderkey")
               .agg(F.sort_array(F.collect_set("l_partkey"))
                    .alias("parts")))
    pairs = baskets.filter(F.size("parts") >= 2).select(
        F.explode(F.flatten(F.transform(
            F.sequence(F.lit(1), F.size("parts") - 1),
            lambda i: F.transform(
                F.slice(F.col("parts"), i + 1,
                        F.size("parts") - i),
                lambda x: F.struct(
                    F.element_at(F.col("parts"), i).alias("part_a"),
                    x.alias("part_b")))))).alias("pr"))
    return (pairs.select(F.col("pr.part_a").cast("bigint").alias("part_a"),
                         F.col("pr.part_b").cast("bigint").alias("part_b"))
            .groupBy("part_a", "part_b")
            .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
            .filter(F.col("support") >= _MIN_SUPPORT))


# Exact integer micros from the canonical 6-dp revenue decimal: the
# DECIMAL(32,6) lift is the engine-wide revenue idiom (registry
# pricing_summary etc.); *1e6 of a 6-dp decimal is integral, so the
# BIGINT cast is exact on both engines (no sub-unit truncation — the
# trap _CENTS_SQL avoids by only lifting 2-dp money).
_REV_MICROS_SQL = ("CAST(CAST(l_extendedprice * (1 - l_discount) "
                   "AS DECIMAL(32,6)) * 1000000 AS BIGINT)")


def _rev_micros():
    return ((F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")))
            .cast(_DEC) * 1000000).cast("bigint")


# --------------------------------------------------------------------------
# Gini coefficient of customer revenue per nation (rank formula)
# --------------------------------------------------------------------------

_GINI_COEF_SQL = """
WITH rev AS (
    SELECT c.c_nationkey, o.o_custkey,
           CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(32,6)) * 100
                         AS BIGINT)) AS BIGINT) AS cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2
), ranked AS (
    SELECT c_nationkey, cents,
           row_number() OVER (PARTITION BY c_nationkey
                              ORDER BY cents, o_custkey) AS i
    FROM rev
), agg AS (
    SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(cents) AS BIGINT) AS s,
           CAST(SUM(i * cents) AS BIGINT) AS w
    FROM ranked GROUP BY 1
)
SELECT n.n_name, a.n_customers,
       round((2 * a.w - (a.n_customers + 1) * a.s) * 1.0
             / (a.n_customers * a.s), 6) AS gini
FROM agg a JOIN nation n ON a.c_nationkey = n.n_nationkey
"""


@register("revenue_gini_nation", sql=_GINI_COEF_SQL)
def _q_revenue_gini_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer lifetime revenue within each
    nation, by the rank formula G = (2·Σi·x_i − (n+1)·Σx_i)/(n·Σx_i)
    on ascending-sorted integer cents — numerator and denominator are
    exact integers, one division at the end.  (Equal values make the
    rank assignment ambiguous, but Σi·x_i is invariant under swapping
    equal x's, so the tie-break only serves determinism of the
    intermediate frame.)

    Scale: one fact shuffle (orders→per-customer cents, map-side
    combinable), then the rank window partitions BY NATION — ~1/25th
    of customers per partition, no global sort; the final aggregate
    is 25 rows.  Customers with no orders are out of scope (inner
    join), documented: Gini-of-purchasers.  BIGINT headroom: Σi·cents
    reaches ~1e25 at 1e8 customers × 1e9 cents — past ~1e6 customers
    per nation, lift the Σi·x accumulator to DECIMAL(38,0) (the HHI
    second-moment idiom); exact at every test SF as written."""
    o = load_table(spark, sf_dir, "orders", fan_out=False) \
        .select("o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer") \
        .select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation")
    cents = (F.col("o_totalprice").cast(_DEC) * 100).cast("bigint")
    rev = (o.select("o_custkey", cents.alias("c100"))
           .groupBy("o_custkey").agg(F.sum("c100").cast("bigint")
                                     .alias("cents"))
           .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
           .select("c_nationkey", "o_custkey", "cents"))
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("cents").asc(), F.col("o_custkey").asc())
    ranked = rev.withColumn("i", F.row_number().over(w))
    agg = ranked.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("cents").cast("bigint").alias("s"),
        F.sum(F.col("i") * F.col("cents")).cast("bigint").alias("w"))
    gini = F.round(
        (2 * F.col("w") - (F.col("n_customers") + 1) * F.col("s")) * 1.0
        / (F.col("n_customers") * F.col("s")), 6)
    return (agg.join(F.broadcast(n),
                     F.col("c_nationkey") == F.col("n_nationkey"))
            .select("n_name", "n_customers", gini.alias("gini")))


# --------------------------------------------------------------------------
# Referential-integrity audit of the whole star schema
# --------------------------------------------------------------------------

_FK_EDGES = [
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
     "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey",
     "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
     "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey",
     "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey",
     "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey",
     "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey",
     "region", "r_regionkey"),
]

_FK_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{name}' AS relation,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN p.{pkey} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_orphans
FROM {child} ch
LEFT JOIN (SELECT DISTINCT {pkey} FROM {parent}) p
  ON ch.{ckey} = p.{pkey}"""
    for name, child, ckey, parent, pkey in _FK_EDGES)


@register("fk_integrity_audit", sql=_FK_SQL)
def _q_fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: for every FK edge of the star
    schema, the child row count and the count of rows whose key has
    no parent — the DQ gate the reference's hand-written DDL implies
    but never verifies (reference dags/etl_municipios.py:25-48).  One
    DataFrame, seven left joins against DISTINCT parent keys, one
    action.

    Scale: each branch is a KEYS-ONLY join — the child projects its
    FK column, the parent side is deduplicated before joining (small
    dims broadcast; the two fact-fact edges shuffle bigint keys
    only).  The per-branch aggregate is map-side combinable to a
    single row, so the union'd result is 7 rows regardless of fact
    size."""
    branches = []
    for name, child, ckey, parent, pkey in _FK_EDGES:
        ch = load_table(spark, sf_dir, child, fan_out=False) \
            .select(ckey)
        pk = load_table(spark, sf_dir, parent, fan_out=False) \
            .select(pkey).distinct() \
            .withColumn("__hit", F.lit(1))
        if parent in ("nation", "region", "supplier", "customer", "part"):
            pk = F.broadcast(pk)
        j = ch.join(pk, ch[ckey] == pk[pkey], "left")
        branches.append(
            j.agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                  F.sum(F.when(F.col("__hit").isNull(), 1).otherwise(0))
                  .cast("bigint").alias("n_orphans"))
            .select(F.lit(name).alias("relation"), "n_rows", "n_orphans"))
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


# --------------------------------------------------------------------------
# Herfindahl–Hirschman supplier concentration per (nation, year)
# --------------------------------------------------------------------------

_HHI_SQL = f"""
WITH r AS (
    SELECT s.s_nationkey, year(l.l_shipdate) AS l_year, l.l_suppkey,
           CAST(SUM({_REV_MICROS_SQL}) AS BIGINT) AS m
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY 1, 2, 3
), a AS (
    SELECT s_nationkey, l_year,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           CAST(SUM(m) AS BIGINT) AS tot,
           SUM(CAST(m AS HUGEINT) * m) AS sumsq
    FROM r GROUP BY 1, 2
)
SELECT n.n_name AS supp_nation, CAST(a.l_year AS BIGINT) AS l_year,
       a.n_suppliers,
       round(CAST(a.sumsq AS DOUBLE)
             / (CAST(a.tot AS DOUBLE) * CAST(a.tot AS DOUBLE)), 6)
           AS hhi
FROM a JOIN nation n ON a.s_nationkey = n.n_nationkey
"""


@register("hhi_supplier_concentration", sql=_HHI_SQL)
def _q_hhi_supplier_concentration(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman index of supplier revenue concentration
    per (supplier nation, ship year): Σ share_i² — the antitrust
    measure (1/n = perfect competition, 1 = monopoly).  Computed as
    Σm_i² / (Σm_i)² on integer revenue micros; squares of micros
    exceed BIGINT, so the second moment accumulates in DECIMAL(38,0)
    (Spark) / HUGEINT (DuckDB) — exact integers until the ONE final
    division (int→double conversion is correctly rounded on both
    engines).

    Scale: one map-side-combinable groupBy to (nation, year,
    supplier) rows, a broadcast supplier/nation resolution, then a
    second tiny aggregate — the reduce side is ≤ |nations|·|years|
    rows regardless of fact size."""
    li = load_table(spark, sf_dir, "lineitem", fan_out=False)
    s = load_table(spark, sf_dir, "supplier") \
        .select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation")
    r = (li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
         .groupBy("s_nationkey", F.year("l_shipdate").alias("l_year"),
                  "l_suppkey")
         .agg(F.sum(_rev_micros()).cast("bigint").alias("m")))
    a = r.groupBy("s_nationkey", "l_year").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
        F.sum("m").cast("bigint").alias("tot"),
        F.sum(F.col("m").cast("decimal(19,0)")
              * F.col("m").cast("decimal(19,0)")).alias("sumsq"))
    hhi = F.round(
        F.col("sumsq").cast("double")
        / (F.col("tot").cast("double") * F.col("tot").cast("double")), 6)
    return (a.join(F.broadcast(n),
                   F.col("s_nationkey") == F.col("n_nationkey"))
            .select(F.col("n_name").alias("supp_nation"),
                    F.col("l_year").cast("bigint").alias("l_year"),
                    "n_suppliers", hhi.alias("hhi")))


# --------------------------------------------------------------------------
# ABC (cumulative revenue share) classification of parts
# --------------------------------------------------------------------------

_ABC_SQL = f"""
WITH pr AS (
    SELECT l_partkey, CAST(SUM({_REV_MICROS_SQL}) AS BIGINT) AS m
    FROM lineitem GROUP BY 1
), c AS (
    SELECT l_partkey, m,
           CAST(SUM(m) OVER (ORDER BY m DESC, l_partkey
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS BIGINT) AS cum,
           CAST(SUM(m) OVER () AS BIGINT) AS tot
    FROM pr
), k AS (
    SELECT CASE WHEN cum * 5 <= tot * 4 THEN 'A'
                WHEN cum * 20 <= tot * 19 THEN 'B'
                ELSE 'C' END AS abc_class, m, tot
    FROM c
)
SELECT abc_class, CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(m) AS BIGINT) AS revenue_micros,
       round(SUM(m) * 1.0 / max(tot), 6) AS share
FROM k GROUP BY abc_class
"""


@register("abc_classification", sql=_ABC_SQL)
def _q_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification: parts sorted by revenue
    descending; class A = the prefix holding ≤80 % of cumulative
    revenue, B up to 95 %, C the tail.  The thresholds compare in
    integer micros (cum·5 ≤ tot·4, cum·20 ≤ tot·19) — never float
    shares, so the class boundary is exact.  (BIGINT headroom: cum
    micros reach ~1e16 at sf0.1, ×20 ≈ 2e17, well under 9.2e18; at
    warehouse scale the compare lifts to DECIMAL.)

    Scale: the per-part aggregate is map-side combinable; the
    cumulative window is a single global sort of the ALREADY REDUCED
    per-part frame (|parts|, not |lineitem|) — the standard
    Pareto-curve shape; the final rollup is 3 rows."""
    li = load_table(spark, sf_dir, "lineitem", fan_out=False)
    pr = li.groupBy("l_partkey").agg(
        F.sum(_rev_micros()).cast("bigint").alias("m"))
    wc = Window.orderBy(F.desc("m"), F.asc("l_partkey")) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wt = Window.partitionBy()
    c = (pr.withColumn("cum", F.sum("m").over(wc).cast("bigint"))
         .withColumn("tot", F.sum("m").over(wt).cast("bigint")))
    cls = (F.when(F.col("cum") * 5 <= F.col("tot") * 4, "A")
           .when(F.col("cum") * 20 <= F.col("tot") * 19, "B")
           .otherwise("C"))
    return (c.withColumn("abc_class", cls)
            .groupBy("abc_class")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_parts"),
                 F.sum("m").cast("bigint").alias("revenue_micros"),
                 F.round(F.sum("m") * 1.0 / F.max("tot"), 6)
                 .alias("share")))


# --------------------------------------------------------------------------
# Two-sample Kolmogorov–Smirnov distance between document sources
# --------------------------------------------------------------------------

_KS_SRC_A = "src0"
_KS_SRC_B = "src1"

_KS_SQL = f"""
WITH c AS (
    SELECT n_chars,
           CAST(SUM(CASE WHEN source = '{_KS_SRC_A}' THEN 1 ELSE 0 END)
                AS BIGINT) AS c1,
           CAST(SUM(CASE WHEN source = '{_KS_SRC_B}' THEN 1 ELSE 0 END)
                AS BIGINT) AS c2
    FROM documents WHERE source IN ('{_KS_SRC_A}', '{_KS_SRC_B}')
    GROUP BY n_chars
), w AS (
    SELECT CAST(SUM(c1) OVER (ORDER BY n_chars
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS BIGINT) AS f1,
           CAST(SUM(c2) OVER (ORDER BY n_chars
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS BIGINT) AS f2,
           CAST(SUM(c1) OVER () AS BIGINT) AS n1,
           CAST(SUM(c2) OVER () AS BIGINT) AS n2
    FROM c
)
SELECT max(n1) AS n1, max(n2) AS n2,
       CAST(max(abs(f1 * n2 - f2 * n1)) AS BIGINT) AS d_scaled,
       round(max(abs(f1 * n2 - f2 * n1)) * 1.0 / (max(n1) * max(n2)), 6)
           AS ks_distance
FROM w
"""


@register("ks_two_sample_sources", sql=_KS_SQL)
def _q_ks_two_sample_sources(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov distance between two sources'
    document-length distributions: D = max_x |F̂₁(x) − F̂₂(x)| — the
    corpus-curation drift gate ('did this crawl's length profile
    shift?').  Exact: both empirical CDFs scale to integers
    (F̂ᵢ·n₁·n₂), the max runs on |f1·n2 − f2·n1|, and the single
    division happens once at the end.

    Scale: lengths pre-aggregate to (value, c1, c2) cells — the
    cumulative window sorts the DISTINCT-value frame, not documents
    (for unbounded-cardinality metrics, bin first; n_chars is
    integer-bounded).  The single-partition window over that reduced
    frame is the documented trade; the totals ride the same window
    (no extra pass).  BIGINT headroom: |f·n| ≤ n₁·n₂ — exact to ~3e9
    docs per side; beyond that, the same DECIMAL(38,0) lift as the
    HHI second moment."""
    d = load_table(spark, sf_dir, "documents")
    c = (d.filter(F.col("source").isin(_KS_SRC_A, _KS_SRC_B))
         .groupBy("n_chars")
         .agg(F.sum(F.when(F.col("source") == _KS_SRC_A, 1)
                    .otherwise(0)).cast("bigint").alias("c1"),
              F.sum(F.when(F.col("source") == _KS_SRC_B, 1)
                    .otherwise(0)).cast("bigint").alias("c2")))
    wc = Window.orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    wt = Window.partitionBy()
    w = (c.withColumn("f1", F.sum("c1").over(wc).cast("bigint"))
         .withColumn("f2", F.sum("c2").over(wc).cast("bigint"))
         .withColumn("n1", F.sum("c1").over(wt).cast("bigint"))
         .withColumn("n2", F.sum("c2").over(wt).cast("bigint")))
    dev = F.abs(F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1"))
    return w.agg(
        F.max("n1").alias("n1"), F.max("n2").alias("n2"),
        F.max(dev).cast("bigint").alias("d_scaled"),
        F.round(F.max(dev) * 1.0 / (F.max("n1") * F.max("n2")), 6)
         .alias("ks_distance"))


# --------------------------------------------------------------------------
# Approximate-FD profiling: g3 error per candidate dependency
# --------------------------------------------------------------------------

# Candidate FDs over the star schema: (label, table, det col, dep col).
# All four are REAL profiling questions (is priority customer-specific?
# is segment nation-specific? is type brand-specific? is a user
# single-behavior?) whose g3 answers are data, not assumptions.
_FD_CANDIDATES = (
    ("orders.o_custkey->o_orderpriority", "orders",
     "o_custkey", "o_orderpriority"),
    ("customer.c_nationkey->c_mktsegment", "customer",
     "c_nationkey", "c_mktsegment"),
    ("part.p_brand->p_type", "part", "p_brand", "p_type"),
    ("events.user_id->event_type", "events", "user_id", "event_type"),
)


def _fd_one_sql(label: str, table: str, det: str, dep: str) -> str:
    return f"""
SELECT '{label}' AS fd,
       CAST(SUM(n_det_rows) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_det,
       CAST(SUM(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_violating_det,
       CAST(SUM(n_det_rows - max_cnt) AS BIGINT) AS g3_remove,
       round(SUM(n_det_rows - max_cnt) * 1.0 / SUM(n_det_rows), 6)
           AS g3_ratio
FROM (
    SELECT det, SUM(cnt) AS n_det_rows, MAX(cnt) AS max_cnt,
           COUNT(*) AS n_dep
    FROM (SELECT {det} AS det, {dep} AS dep, count(*) AS cnt
          FROM {table} GROUP BY 1, 2)
    GROUP BY det
)"""


_FD_SQL = "\nUNION ALL\n".join(_fd_one_sql(*c) for c in _FD_CANDIDATES)


def _fd_one_frame(spark: SparkSession, sf_dir: str, label: str,
                  table: str, det: str, dep: str) -> DataFrame:
    t = load_table(spark, sf_dir, table)
    pairs = (t.groupBy(F.col(det).alias("det"), F.col(dep).alias("dep"))
             .agg(F.count(F.lit(1)).alias("cnt")))
    per_det = (pairs.groupBy("det")
               .agg(F.sum("cnt").alias("n_det_rows"),
                    F.max("cnt").alias("max_cnt"),
                    F.count(F.lit(1)).alias("n_dep")))
    return per_det.agg(
        F.lit(label).alias("fd"),
        F.sum("n_det_rows").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_det"),
        F.sum(F.when(F.col("n_dep") > 1, 1).otherwise(0))
         .cast("bigint").alias("n_violating_det"),
        F.sum(F.col("n_det_rows") - F.col("max_cnt")).cast("bigint")
         .alias("g3_remove"),
        F.round(F.sum(F.col("n_det_rows") - F.col("max_cnt")) * 1.0
                / F.sum("n_det_rows"), 6).alias("g3_ratio"))


@register("fd_approx_audit", sql=_FD_SQL)
def _q_fd_approx_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate-functional-dependency audit: for each candidate
    det→dep, the g3 error — the minimum rows to delete so the FD holds
    exactly (n − Σ_det max per-det dep count; Kivinen & Mannila's g3,
    the measure TANE-family discovery algorithms rank candidates by) —
    plus how many determinant values are even violated.  A g3_ratio of
    0 certifies the FD; a small one flags near-keys worth cleaning.

    Scale: per candidate, a two-level keys-only aggregate — the
    (det, dep) pair counts combine map-side, the per-det rollup rides
    the same partitioning (Catalyst reuses the hash exchange), and the
    final 1-row reduce is a scalar aggregate.  Each candidate scans
    only its two columns (pruned ReadSchema); candidates union into
    one 4-row report."""
    frames = [_fd_one_frame(spark, sf_dir, *c) for c in _FD_CANDIDATES]
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out


# --------------------------------------------------------------------------
# LTV cohort triangle: revenue by (first-order-year, years-since)
# --------------------------------------------------------------------------

_LTV_SQL = """
WITH f AS (
    SELECT o_custkey, year(min(o_orderdate)) AS cohort_year
    FROM orders GROUP BY o_custkey
)
SELECT CAST(f.cohort_year AS BIGINT) AS cohort_year,
       CAST(year(o.o_orderdate) - f.cohort_year AS BIGINT) AS age,
       CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_active,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(floor(o.o_totalprice * 100) AS BIGINT))
            AS BIGINT) AS revenue_cents
FROM orders o JOIN f ON f.o_custkey = o.o_custkey
GROUP BY 1, 2
"""


@register("ltv_cohort_triangle", sql=_LTV_SQL)
def _q_ltv_cohort_triangle(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Lifetime-value cohort triangle: customers cohorted by
    first-order YEAR, revenue rolled up by years-since-first-order
    (age) — the triangle finance reads diagonally for cohort quality
    and down columns for retention-revenue decay.  Pure integer cents
    (the established floor(x*100) idiom — identical double math on
    both engines); counts are exact.

    Scale: the cohort map is a keys-only min-aggregate on o_custkey;
    joining it back to orders rides the SAME o_custkey hash
    partitioning (exchange reuse, no extra shuffle); the triangle
    itself is |years|² rows.  COUNT(DISTINCT custkey) re-shuffles by
    (cohort, age, custkey) — the standard exact-distinct expansion —
    over already-aggregated-width rows."""
    o = load_table(spark, sf_dir, "orders")
    f = (o.groupBy("o_custkey")
         .agg(F.year(F.min("o_orderdate")).alias("cohort_year"))
         .select(F.col("o_custkey").alias("f_cust"), "cohort_year"))
    j = o.join(f, F.col("f_cust") == F.col("o_custkey"))
    cents = F.floor(F.col("o_totalprice") * 100).cast("bigint")
    return (j.groupBy(
                F.col("cohort_year").cast("bigint").alias("cohort_year"),
                (F.year("o_orderdate") - F.col("cohort_year"))
                .cast("bigint").alias("age"))
            .agg(F.countDistinct("o_custkey").cast("bigint")
                 .alias("n_active"),
                 F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                 F.sum(cents).cast("bigint").alias("revenue_cents")))


# --------------------------------------------------------------------------
# k-anonymity audit
# --------------------------------------------------------------------------

_KANON_SQL = """
WITH g AS (
    SELECT lang, source, n_chars // 100 AS nb, COUNT(*) AS sz
    FROM documents GROUP BY 1, 2, 3
)
SELECT CASE WHEN sz = 1 THEN '1' WHEN sz < 5 THEN '2-4'
            WHEN sz < 20 THEN '5-19' ELSE '20+' END AS size_class,
       COUNT(*) AS n_classes,
       CAST(SUM(sz) AS BIGINT) AS n_docs,
       CAST(MIN(sz) AS BIGINT) AS min_k,
       CAST(MAX(sz) AS BIGINT) AS max_k
FROM g GROUP BY 1
"""


@register("k_anonymity_audit", sql=_KANON_SQL)
def _q_k_anonymity_audit(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """Equivalence-class census over the quasi-identifier
    (lang, source, n_chars // 100): how many documents sit in classes
    of size 1 / 2-4 / 5-19 / 20+ — the table a privacy review reads
    to find metadata-re-identifiable rows.  Two cheap aggregations:
    the first partial-aggregates the scan onto the QI grid
    (sources x langs x length buckets — thousands of cells at any
    corpus size), the second is constant-size."""
    docs = load_table(spark, sf_dir, "documents")
    classes = (docs.select(
        "lang", "source",
        F.floor(F.col("n_chars") / F.lit(100)).cast("bigint")
         .alias("nb"))
        .groupBy("lang", "source", "nb")
        .agg(F.count(F.lit(1)).alias("sz")))
    size_class = (F.when(F.col("sz") == 1, F.lit("1"))
                  .when(F.col("sz") < 5, F.lit("2-4"))
                  .when(F.col("sz") < 20, F.lit("5-19"))
                  .otherwise(F.lit("20+")))
    return (classes.select(size_class.alias("size_class"), "sz")
            .groupBy("size_class")
            .agg(F.count(F.lit(1)).alias("n_classes"),
                 F.sum("sz").cast("bigint").alias("n_docs"),
                 F.min("sz").cast("bigint").alias("min_k"),
                 F.max("sz").cast("bigint").alias("max_k")))


# --------------------------------------------------------------------------
# l-diversity audit
# --------------------------------------------------------------------------

_LDIV_SQL = """
WITH g AS (
    SELECT source, n_chars // 100 AS nb,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS l,
           COUNT(*) AS sz
    FROM documents GROUP BY 1, 2
)
SELECT l, COUNT(*) AS n_classes,
       CAST(SUM(sz) AS BIGINT) AS n_docs,
       CAST(MIN(sz) AS BIGINT) AS min_sz,
       CAST(MAX(sz) AS BIGINT) AS max_sz
FROM g GROUP BY 1
"""


@register("l_diversity_audit", sql=_LDIV_SQL)
def _q_l_diversity_audit(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """Distinct-language census per (source, n_chars // 100) class:
    the histogram over l = |distinct langs| a privacy review reads to
    find classes whose membership alone reveals the language.  Two
    aggregations: the first lands on the QI grid (sources x length
    buckets — thousands of cells at any corpus size), the second is
    constant-size."""
    docs = load_table(spark, sf_dir, "documents")
    classes = (docs.select(
        "source",
        F.floor(F.col("n_chars") / F.lit(100)).cast("bigint")
         .alias("nb"), "lang")
        .groupBy("source", "nb")
        .agg(F.countDistinct("lang").cast("bigint").alias("l"),
             F.count(F.lit(1)).alias("sz")))
    return (classes.groupBy("l")
            .agg(F.count(F.lit(1)).alias("n_classes"),
                 F.sum("sz").cast("bigint").alias("n_docs"),
                 F.min("sz").cast("bigint").alias("min_sz"),
                 F.max("sz").cast("bigint").alias("max_sz")))


_B = 32           # bootstrap resamples
_RING = 1_000_000  # hash ring size (operators/sample.N_BUCKETS)

# Poisson(1) CDF thresholds on the hash ring, as exact integer
# literals shared by BOTH engines (computed once here; embedding the
# same constants in the Spark plan and the SQL string is what makes
# the "random" weights engine-identical).  Tail truncated at w=5:
# P(W>5) ≈ 5.9e-4 of the ring.
_POISSON_CDF = []
_acc = 0.0
for _w in range(5):
    _acc += math.exp(-1.0) / math.factorial(_w)
    _POISSON_CDF.append(round(_acc * _RING))


def _poisson_weight(bucket):
    """Weight column from a ring bucket via the literal CDF."""
    w = F.lit(5)
    for i in range(len(_POISSON_CDF) - 1, -1, -1):
        w = F.when(bucket < _POISSON_CDF[i], F.lit(i)).otherwise(w)
    return w.cast("bigint")


def _poisson_weight_sql(bucket_sql: str) -> str:
    cases = " ".join(
        f"WHEN {bucket_sql} < {t} THEN {i}"
        for i, t in enumerate(_POISSON_CDF))
    return f"CAST(CASE {cases} ELSE 5 END AS BIGINT)"


# --------------------------------------------------------------------------
# Poisson bootstrap CI of total order revenue
# --------------------------------------------------------------------------

_BUCKET_SQL = ("CAST(concat('0x', substr(md5(concat('boot:', "
               "CAST(o_orderkey AS VARCHAR), chr(31), "
               "CAST(b.b AS VARCHAR))), 1, 15)) AS BIGINT) "
               f"% {_RING}")

_BOOT_SQL = f"""
WITH r AS (
    SELECT CAST(b.b AS BIGINT) AS resample_id,
           CAST(round(o_totalprice * 100) AS BIGINT) AS m,
           {_poisson_weight_sql(_BUCKET_SQL)} AS w
    FROM orders, generate_series(0, {_B - 1}) b(b)
)
SELECT resample_id,
       CAST(SUM(w) AS BIGINT) AS n_eff,
       CAST(SUM(w * m) AS BIGINT) AS total_cents
FROM r GROUP BY 1
"""


@register("bootstrap_poisson_revenue", sql=_BOOT_SQL)
def _q_bootstrap_poisson_revenue(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """32 deterministic Poisson-bootstrap resamples of total order
    revenue.  The classical bootstrap's global n-draw multinomial
    cannot be expressed as a per-row map; the Poisson(1) approximation
    can (independent per-row weights, the standard large-scale
    substitution), and drawing the weight from the md5 hash ring
    against literal CDF thresholds makes every engine reproduce the
    identical resamples — no rand(), retry-stable, oracle-checkable.
    One scan, ×32 in-row fanout, map-side partial aggregation onto 32
    cells; revenue accumulates in exact integer cents."""
    o = load_table(spark, sf_dir, "orders", fan_out=True)
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    r = (o.select(F.col("o_orderkey"), cents.alias("m"))
         .withColumn("b", F.explode(F.sequence(F.lit(0),
                                               F.lit(_B - 1)))))
    digest = F.md5(F.concat(
        F.lit("boot:"), F.col("o_orderkey").cast("string"),
        F.lit("\x1f"), F.col("b").cast("string")))
    bucket = (F.conv(F.substring(digest, 1, 15), 16, 10)
              .cast("bigint") % _RING)
    w = _poisson_weight(bucket)
    return (r.select(F.col("b").cast("bigint").alias("resample_id"),
                     (w * F.col("m")).alias("wm"), w.alias("w"))
            .groupBy("resample_id")
            .agg(F.sum("w").cast("bigint").alias("n_eff"),
                 F.sum("wm").cast("bigint").alias("total_cents")))


# --------------------------------------------------------------------------
# QI generalization ladder
# --------------------------------------------------------------------------

# A true coarsening chain: each level's partition refines the next's
# (bucket widths NESTED — 500 = 5·100, 1000 = 2·500 — and attributes
# only ever dropped), so every level-(L+1) class is a union of
# level-L classes and the monotonicity laws (n_classes and
# docs-below-k non-increasing, min_k non-decreasing) hold by
# construction.  Width 250 would NOT refine 100 (floor(n/250) splits
# floor(n/100) classes) — the law test pins the nesting.
_LADDER = (
    # (level, lang in QI?, length-bucket width)
    (0, True, 100),
    (1, True, 500),
    (2, False, 500),
    (3, False, 1000),
)


def _ladder_leg(lvl: int, use_lang: bool, width: int) -> str:
    lang = "CAST(lang AS VARCHAR), " if use_lang else ""
    return (f"SELECT CAST({lvl} AS BIGINT) AS level, "
            f"concat_ws(chr(31), {lang}CAST(source AS VARCHAR), "
            f"CAST(n_chars // {width} AS VARCHAR)) AS qi "
            "FROM documents")


_LADDER_SQL = ("WITH keys AS ("
               + " UNION ALL ".join(_ladder_leg(*row) for row in _LADDER)
               + """
), classes AS (
    SELECT level, qi, COUNT(*) AS sz FROM keys GROUP BY 1, 2
)
SELECT level, CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(MIN(sz) AS BIGINT) AS min_k,
       CAST(SUM(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT)
           AS classes_below_5,
       CAST(SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT)
           AS docs_below_5
FROM classes GROUP BY 1
""")


@register("qi_generalization_ladder", sql=_LADDER_SQL)
def _q_qi_generalization_ladder(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """k-anonymity at four successive quasi-identifier
    generalizations: the census that says WHICH generalization level
    first clears k >= 5 for every class (and what each level costs in
    identifiability).  One scan, ×4 in-row fanout to (level, QI-key)
    rows, two aggregations — grids only."""
    docs = load_table(spark, sf_dir, "documents")
    keys = F.array(*[
        F.struct(
            F.lit(lvl).cast("bigint").alias("level"),
            F.concat_ws(
                "\x1f",
                *([F.col("lang")] if use_lang else []),
                F.col("source"),
                F.floor(F.col("n_chars") / F.lit(width))
                 .cast("string")).alias("qi"))
        for lvl, use_lang, width in _LADDER])
    classes = (docs.select(F.explode(keys).alias("x"))
               .groupBy("x.level", "x.qi")
               .agg(F.count(F.lit(1)).alias("sz")))
    return (classes.groupBy("level")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_classes"),
                 F.min("sz").cast("bigint").alias("min_k"),
                 F.sum(F.when(F.col("sz") < 5, 1).otherwise(0))
                  .cast("bigint").alias("classes_below_5"),
                 F.sum(F.when(F.col("sz") < 5, F.col("sz"))
                       .otherwise(0)).cast("bigint")
                  .alias("docs_below_5")))

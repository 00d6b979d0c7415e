"""Core ETL queries (SURVEY.md §2): aggregation surface, joins, repair,
projection, window and set operations, sampling and the CAGED pipeline.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.aggregate import (
    cube_agg, davg, distinct_keys, dsum, grouping_sets_agg, rollup_agg,
)
from ..operators.joins import (
    anti_join_dedup, enrich_left_join, fuzzy_join_deletes, semi_join,
)
from ..operators.project import (
    allowlist_select, drop_if_present, melt, rename_first_match, rename_map,
    with_literal_time_columns,
)
from ..operators.repair import fill_nulls, try_cast_columns
from ..operators.sample import N_BUCKETS, hash_bucket_sql, hash_sample
from ..operators.topk import top_k_global, top_k_per_group
from ..plans.caged_pipeline import incremental_enrichment
from ..registry import register
from ._shared import _t


# --------------------------------------------------------------------------
# A-series: aggregation surface (SURVEY §2.7 A1-A4)
# --------------------------------------------------------------------------

@register("pricing_summary", sql="""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(32,6))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(32,6))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(32,6))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(32,6))) AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(32,6))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(32,6))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
       CAST(SUM(CAST(l_discount AS DECIMAL(32,6))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""")
def q_pricing_summary(spark, sf_dir):
    """Flagship groupBy-agg (TPC-H Q1 shape): partial (map-side)
    aggregation then a keys-only shuffle — the canonical scalable agg."""
    li = _t(spark, sf_dir, "lineitem", fan_out=True).filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity").alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_base_price"),
        dsum(disc_price).alias("sum_disc_price"),
        dsum(charge).alias("sum_charge"),
        davg("l_quantity").alias("avg_qty"),
        davg("l_extendedprice").alias("avg_price"),
        davg("l_discount").alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register("distinct_keys", sql="""
SELECT DISTINCT l_returnflag, l_linestatus,
       CAST(year(l_shipdate) AS BIGINT) AS ship_year
FROM lineitem
""")
def q_distinct_keys(spark, sf_dir):
    """A1 — multi-column DISTINCT (the warehouse-snapshot shape)."""
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "ship_year", F.year("l_shipdate").cast("bigint"))
    return distinct_keys(li, ["l_returnflag", "l_linestatus", "ship_year"])


@register("count_report", sql="""
SELECT o_orderstatus, COUNT(*) AS n_orders,
       COUNT(DISTINCT o_custkey) AS n_customers
FROM orders GROUP BY o_orderstatus
""")
def q_count_report(spark, sf_dir):
    """A2 — row-count report per group + distinct count."""
    return _t(spark, sf_dir, "orders").groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
    )


@register("rollup_hierarchy", sql="""
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS grp_level,
       CAST(SUM(CAST(l_quantity AS DECIMAL(32,6))) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
""")
def q_rollup_hierarchy(spark, sf_dir):
    """A4 — ROLLUP with NULL-marked subtotal levels, the reference's
    golden-dataset shape (SURVEY §1.4); grp_level tags the level."""
    return rollup_agg(
        _t(spark, sf_dir, "lineitem", fan_out=True),
        ["l_returnflag", "l_linestatus"],
        [dsum("l_quantity").alias("sum_qty"),
         F.count(F.lit(1)).alias("n_rows")],
    )


@register("cube_hierarchy", sql="""
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS grp_level,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(32,6))) AS DOUBLE) AS sum_price,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY CUBE(l_returnflag, l_linestatus)
""")
def q_cube_hierarchy(spark, sf_dir):
    """CUBE variant of A4."""
    return cube_agg(
        _t(spark, sf_dir, "lineitem", fan_out=True),
        ["l_returnflag", "l_linestatus"],
        [dsum("l_extendedprice").alias("sum_price"),
         F.count(F.lit(1)).alias("n_rows")],
    )


@register("grouping_sets_levels", sql="""
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT)
           AS grp_level,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(32,6))) AS DOUBLE) AS sum_price,
       COUNT(*) AS n_rows
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                        (o_orderstatus), ())
""")
def q_grouping_sets_levels(spark, sf_dir):
    """GROUPING SETS — the general rollup/cube form: compute exactly
    the requested aggregation levels, no more."""
    return grouping_sets_agg(
        _t(spark, sf_dir, "orders"),
        [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
        ["o_orderstatus", "o_orderpriority"],
        [dsum("o_totalprice").alias("sum_price"),
         F.count(F.lit(1)).alias("n_rows")],
    )


# --------------------------------------------------------------------------
# J-series: joins (SURVEY §2.3)
# --------------------------------------------------------------------------

@register("enrich_broadcast_join", sql="""
WITH fact AS (
    SELECT c_custkey, c_acctbal,
           upper(concat('  ', n_name, ' ')) AS municipio_raw
    FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
), dim AS (
    SELECT lower(trim(n_name)) AS jk, min(n_regionkey) AS codigo_regiao
    FROM nation GROUP BY 1
)
SELECT c_custkey, c_acctbal, municipio_raw,
       COALESCE(codigo_regiao, 0) AS codigo_regiao
FROM fact LEFT JOIN dim ON lower(trim(municipio_raw)) = jk
""")
def q_enrich_broadcast_join(spark, sf_dir):
    """J1 — broadcast left enrichment join with lower/trim-normalized
    string keys and a miss default (reference pipeline.py:96-108)."""
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    fact = (
        customer.join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            customer.c_nationkey == nation.n_nationkey, "left")
        .select(
            "c_custkey", "c_acctbal",
            F.upper(F.concat(F.lit("  "), F.col("n_name"), F.lit(" "))
                    ).alias("municipio_raw"))
    )
    dim = nation.select("n_name", "n_regionkey")
    return enrich_left_join(fact, dim, "municipio_raw", "n_name",
                            "n_regionkey", "codigo_regiao",
                            normalize=True, default=0)


@register("anti_join_dedup", sql="""
SELECT c_custkey, c_name, c_acctbal
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND year(o_orderdate) = 1997)
""")
def q_anti_join_dedup(spark, sf_dir):
    """J2 — left_anti incremental dedup: customers with no order in the
    1997 "already loaded" window (non-empty on both sides)."""
    customer = _t(spark, sf_dir, "customer")
    seen = (_t(spark, sf_dir, "orders")
            .filter(F.year("o_orderdate") == 1997)
            .select(F.col("o_custkey").alias("c_custkey")))
    return anti_join_dedup(customer, seen, ["c_custkey"]).select(
        "c_custkey", "c_name", "c_acctbal")


@register("semi_join", sql="""
SELECT c_custkey, c_name
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
""")
def q_semi_join(spark, sf_dir):
    """left_semi — complement of J2."""
    customer = _t(spark, sf_dir, "customer")
    f_orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("c_custkey"))
    return semi_join(customer, f_orders, ["c_custkey"]).select(
        "c_custkey", "c_name")


@register("multi_join_revenue", sql="""
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(32,6))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name IN ('ASIA', 'EUROPE')
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
""")
def q_multi_join_revenue(spark, sf_dir):
    """Star join (TPC-H Q5 shape): fact-fact shuffle join on keys +
    broadcast dims; filters push into the parquet scans."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")) &
        (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")))
    lineitem = _t(spark, sf_dir, "lineitem")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(
        F.col("r_name").isin("ASIA", "EUROPE"))
    return (
        lineitem
        .join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation),
              customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region),
              nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))
                 ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# --------------------------------------------------------------------------
# P/T-series: projections + repair (SURVEY §2.2, §2.4)
# --------------------------------------------------------------------------

@register("rename_allowlist", sql="""
SELECT l_orderkey AS pedido, l_linenumber AS linha,
       l_quantity AS quantidade, l_returnflag AS situacao
FROM lineitem
""")
def q_rename_allowlist(spark, sf_dir):
    """P1-P4 — drop-if-present, first-match rename, bulk rename map
    intersected with existing columns, allowlist projection."""
    df = _t(spark, sf_dir, "lineitem")
    df = drop_if_present(df, "l_tax", "no_such_column")
    df = rename_first_match(df, ["Não Existe", "l_linenumber"], "linha")
    df = rename_map(df, {
        "l_orderkey": "pedido",
        "l_quantity": "quantidade",
        "l_returnflag": "situacao",
        "Coluna Ausente": "ignorada",
    })
    return allowlist_select(df, ["pedido", "linha", "quantidade",
                                 "situacao", "inexistente"])


@register("literal_time_columns", sql="""
SELECT n_nationkey, n_name,
       CAST(2025 AS BIGINT) AS ano_ref, CAST(10 AS BIGINT) AS mes_ref,
       DATE '2025-10-01' AS data_competencia
FROM nation
""")
def q_literal_time_columns(spark, sf_dir):
    """P5/D1-D2 — typed reference-period literals, parameterized for
    determinism (reference pipeline.py:114-122)."""
    df = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return with_literal_time_columns(df, 2025, 10)


@register("try_cast_repair", sql="""
WITH dirty AS (
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_linenumber % 7 = 0 THEN 'INF'
                WHEN l_linenumber % 5 = 0 THEN ''
                WHEN l_linenumber % 3 = 0 THEN 'NaN'
                ELSE CAST(l_suppkey AS VARCHAR) END AS raw_val,
           CASE WHEN l_linenumber % 4 = 0 THEN NULL
                ELSE l_returnflag END AS raw_cat
    FROM lineitem
)
SELECT l_orderkey, l_linenumber,
       COALESCE(TRY_CAST(CASE WHEN trim(raw_val) IN ('INF', '-INF', 'NaN', '')
                              THEN NULL ELSE raw_val END AS BIGINT),
                0) AS raw_val,
       COALESCE(raw_cat, 'Indefinido') AS raw_cat
FROM dirty
""")
def q_try_cast_repair(spark, sf_dir):
    """T1-T3/F3 — dirty-token sanitize, non-strict cast (bad -> null),
    then null defaults — the reference's repair chain
    (pipeline.py:126-141) on synthesized dirty strings."""
    li = _t(spark, sf_dir, "lineitem")
    ln = F.col("l_linenumber")
    dirty = li.select(
        "l_orderkey", "l_linenumber",
        F.when(ln % 7 == 0, F.lit("INF"))
         .when(ln % 5 == 0, F.lit(""))
         .when(ln % 3 == 0, F.lit("NaN"))
         .otherwise(F.col("l_suppkey").cast("string")).alias("raw_val"),
        F.when(ln % 4 == 0, F.lit(None).cast("string"))
         .otherwise(F.col("l_returnflag")).alias("raw_cat"),
    )
    rep = try_cast_columns(dirty, {"raw_val": "bigint"})
    return fill_nulls(rep, {"raw_val": 0, "raw_cat": "Indefinido"})


@register("string_functions", sql="""
SELECT c_custkey,
       lower(c_name) AS nome_lower,
       trim(concat('  ', c_name, ' ')) AS nome_trim,
       CAST(length(c_name) AS BIGINT) AS nome_len,
       substr(c_name, 1, 9) AS nome_prefix,
       replace(c_name, 'Customer', 'Cliente') AS nome_replace,
       regexp_replace(c_name, '[0-9]', '', 'g') AS nome_nodigits,
       concat(c_mktsegment, '/', c_name) AS nome_tag
FROM customer
""")
def q_string_functions(spark, sf_dir):
    """F1-F3 — the scalar string surface (lower/trim/replace/regexp)."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.lower("c_name").alias("nome_lower"),
        F.trim(F.concat(F.lit("  "), F.col("c_name"), F.lit(" "))
               ).alias("nome_trim"),
        F.length("c_name").cast("bigint").alias("nome_len"),
        F.substring("c_name", 1, 9).alias("nome_prefix"),
        F.replace(F.col("c_name"), F.lit("Customer"), F.lit("Cliente")
                  ).alias("nome_replace"),
        F.regexp_replace("c_name", "[0-9]", "").alias("nome_nodigits"),
        F.concat(F.col("c_mktsegment"), F.lit("/"), F.col("c_name")
                 ).alias("nome_tag"),
    )


@register("date_functions", sql="""
SELECT o_orderkey,
       CAST(year(o_orderdate) AS BIGINT) AS ano,
       CAST(month(o_orderdate) AS BIGINT) AS mes,
       CAST(quarter(o_orderdate) AS BIGINT) AS trimestre,
       CAST(day(o_orderdate) AS BIGINT) AS dia,
       CAST(date_trunc('month', o_orderdate) AS DATE) AS mes_inicio,
       last_day(o_orderdate) AS mes_fim
FROM orders
""")
def q_date_functions(spark, sf_dir):
    """D1-D3 — date/time scalar surface over the order dates."""
    o = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).cast("bigint").alias("ano"),
        F.month(d).cast("bigint").alias("mes"),
        F.quarter(d).cast("bigint").alias("trimestre"),
        F.dayofmonth(d).cast("bigint").alias("dia"),
        F.date_trunc("month", d).cast("date").alias("mes_inicio"),
        F.last_day(d).alias("mes_fim"),
    )


@register("json_extract", sql="""
SELECT event_id, event_type,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
FROM events
""")
def q_json_extract(spark, sf_dir):
    """S1/U1 shape — semi-structured field extraction from a JSON
    string column, JVM-side (get_json_object)."""
    e = _t(spark, sf_dir, "events", fan_out=True)
    return e.select(
        "event_id", "event_type",
        F.get_json_object("props", "$.k").cast("bigint").alias("prop_k"),
    )


@register("sanitized_json_scan", sql="""
WITH raw AS (
    SELECT concat('{"dados": [{"okey": ', CAST(l_orderkey AS VARCHAR),
                  ', "qty": ',
                  CASE WHEN l_quantity > 45 THEN '"NaN"'
                       WHEN l_quantity < 5 THEN '"-INF"'
                       ELSE CAST(CAST(l_quantity AS DOUBLE) AS VARCHAR)
                  END, '}]}') AS body
    FROM lineitem
), clean AS (
    SELECT replace(replace(replace(body, '"INF"', 'null'),
                   '"-INF"', 'null'), '"NaN"', 'null') AS body
    FROM raw
)
SELECT CAST(json_extract(body, '$.dados[0].okey') AS BIGINT) AS okey,
       CAST(json_extract(body, '$.dados[0].qty') AS DOUBLE) AS qty
FROM clean
""")
def q_sanitized_json_scan(spark, sf_dir):
    """S1+S2+F3 — the tolerant-JSON ingest chain as an oracle query:
    dirty envelope documents (INF/-INF/NaN tokens, one-key record-list
    wrapper) synthesized row-per-row from lineitem, then sanitize →
    from_json → envelope unwrap.  The file-based reader
    (sources/json_source.read_sanitized_json) runs the identical
    expressions over spark.read.text; tests/test_sources.py covers the
    file path."""
    from ..sources.json_source import sanitize_json_text, unwrap_envelope

    li = _t(spark, sf_dir, "lineitem", fan_out=True)
    qty_str = (
        F.when(F.col("l_quantity") > 45, F.lit('"NaN"'))
        .when(F.col("l_quantity") < 5, F.lit('"-INF"'))
        .otherwise(F.col("l_quantity").cast("double").cast("string")))
    body = F.concat(
        F.lit('{"dados": [{"okey": '), F.col("l_orderkey").cast("string"),
        F.lit(', "qty": '), qty_str, F.lit('}]}'))
    clean = li.select(sanitize_json_text(body).alias("body"))
    parsed = clean.select(F.from_json(
        "body",
        "struct<dados: array<struct<okey: bigint, qty: double>>>",
    ).alias("doc"))
    return unwrap_envelope(parsed)


@register("range_join_banded", sql="""
WITH bands(lo, hi, label) AS (
    VALUES (0, 5, 'tiny'), (5, 15, 'small'), (15, 30, 'mid'),
           (30, 60, 'large')
)
SELECT label, COUNT(*) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(32,6))) AS DOUBLE) AS sum_qty
FROM lineitem l
JOIN bands b ON l.l_quantity >= b.lo AND l.l_quantity < b.hi
GROUP BY label
""")
def q_range_join_banded(spark, sf_dir):
    """Range join (lo <= v < hi) via uniform-grid banding: the range
    predicate becomes an equi-join on the grid cell (broadcast, no
    cross product), exact predicate re-checked after.  Oracle is the
    naive range join, feasible at sf scale only."""
    from ..operators.joins import banded_range_join

    bands = spark.createDataFrame(
        [(0.0, 5.0, "tiny"), (5.0, 15.0, "small"),
         (15.0, 30.0, "mid"), (30.0, 60.0, "large")],
        ["lo", "hi", "label"])
    li = _t(spark, sf_dir, "lineitem").select("l_quantity")
    joined = banded_range_join(li, bands, "l_quantity", "lo", "hi",
                               band_width=10)
    return joined.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("l_quantity").alias("sum_qty"))


@register("pivot_status_by_priority", sql="""
SELECT o_orderpriority,
       CAST(SUM(CASE WHEN o_orderstatus = 'F'
                THEN CAST(o_totalprice AS DECIMAL(32,6)) END) AS DOUBLE)
           AS total_f,
       CAST(SUM(CASE WHEN o_orderstatus = 'O'
                THEN CAST(o_totalprice AS DECIMAL(32,6)) END) AS DOUBLE)
           AS total_o,
       CAST(SUM(CASE WHEN o_orderstatus = 'P'
                THEN CAST(o_totalprice AS DECIMAL(32,6)) END) AS DOUBLE)
           AS total_p
FROM orders GROUP BY o_orderpriority
""")
def q_pivot_status_by_priority(spark, sf_dir):
    """Pivot (long→wide): total price per priority × status.  Explicit
    pivot values keep the plan single-pass (no extra distinct scan to
    discover columns — the at-scale rule for pivot)."""
    from pyspark.sql.types import DecimalType

    o = _t(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast(DecimalType(32, 6))
    piv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.sum(dec))
    )
    return piv.select(
        "o_orderpriority",
        F.col("F").cast("double").alias("total_f"),
        F.col("O").cast("double").alias("total_o"),
        F.col("P").cast("double").alias("total_p"))


@register("window_rank_functions", sql="""
SELECT o_custkey, o_orderkey,
       CAST(RANK() OVER w AS BIGINT) AS rnk,
       CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk,
       round(PERCENT_RANK() OVER w, 6) AS prnk,
       CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
       LAG(o_orderkey) OVER w AS prev_order,
       LEAD(o_orderkey) OVER w AS next_order
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
""")
def q_window_rank_functions(spark, sf_dir):
    """The ranking-window surface in one pass: rank / dense_rank /
    percent_rank / ntile / lag / lead share a single window spec, so
    Catalyst evaluates them in ONE shuffle + sort."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice",
                                                "o_orderkey")
    return o.select(
        "o_custkey", "o_orderkey",
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("drnk"),
        F.round(F.percent_rank().over(w), 6).alias("prnk"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.lag("o_orderkey").over(w).alias("prev_order"),
        F.lead("o_orderkey").over(w).alias("next_order"))


# --------------------------------------------------------------------------
# K-series: sorts / top-k / windows / set ops / restatement
# --------------------------------------------------------------------------

@register("topk_per_group", sql="""
SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
    SELECT o_custkey, o_orderkey, o_totalprice,
           CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
    FROM orders
) WHERE rn <= 3
""")
def q_topk_per_group(spark, sf_dir):
    """K5 generalized — top-3 orders per customer via row_number, ties
    broken by the unique key."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice")
    out = top_k_per_group(o, ["o_custkey"],
                          [F.desc("o_totalprice"), F.asc("o_orderkey")], 3)
    return out.withColumn("rn", F.col("rn").cast("bigint"))


@register("topk_global", sql="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
""")
def q_topk_global(spark, sf_dir):
    """Global top-k: TakeOrdered (per-partition heaps + driver merge),
    not a full sort."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice")
    return top_k_global(o, [F.desc("o_totalprice"), F.asc("o_orderkey")], 10)


@register("window_running_sum", sql="""
SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(32,6))) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS running_spend
FROM orders
""")
def q_window_running_sum(spark, sf_dir):
    """Window frame — running per-customer spend, decimal-accumulated
    so the result is partitioning-independent."""
    from pyspark.sql.types import DecimalType
    o = _t(spark, sf_dir, "orders")
    w = (Window.partitionBy("o_custkey")
         .orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return o.select(
        "o_custkey", "o_orderkey", "o_orderdate",
        F.sum(F.col("o_totalprice").cast(DecimalType(32, 6))).over(w)
         .cast("double").alias("running_spend"),
    )


@register("set_operations", sql="""
WITH a AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'),
     b AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O')
SELECT 'intersect' AS op, o_custkey FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
UNION ALL
SELECT 'except' AS op, o_custkey FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
UNION ALL
SELECT 'union' AS op, o_custkey FROM (SELECT * FROM a UNION SELECT * FROM b)
""")
def q_set_operations(spark, sf_dir):
    """union / intersect / except (distinct semantics on both sides)."""
    o = _t(spark, sf_dir, "orders", fan_out=False)
    a = o.filter(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    b = o.filter(F.col("o_orderstatus") == "O").select("o_custkey").distinct()
    tag = lambda df, t: df.select(F.lit(t).alias("op"), "o_custkey")  # noqa: E731
    return (
        tag(a.intersect(b), "intersect")
        .unionAll(tag(a.subtract(b), "except"))
        .unionAll(tag(a.union(b).distinct(), "union"))
    )


@register("restatement_delete_insert", sql="""
WITH restated AS (
    SELECT o_orderkey, o_totalprice, o_orderdate FROM orders
    WHERE NOT (year(o_orderdate) = 1997 AND month(o_orderdate) = 3)
    UNION ALL
    SELECT o_orderkey, o_totalprice * 2 AS o_totalprice, o_orderdate
    FROM orders
    WHERE year(o_orderdate) = 1997 AND month(o_orderdate) = 3
)
SELECT CAST(year(o_orderdate) AS BIGINT) AS ano,
       CAST(month(o_orderdate) AS BIGINT) AS mes,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(32,6))) AS DOUBLE) AS total
FROM restated GROUP BY 1, 2
""")
def q_restatement_delete_insert(spark, sf_dir):
    """K3 semantics as algebra — replace exactly one (ano, mes)
    partition with a corrected batch, leave every other period
    untouched (the delete&insert / dynamic-partition-overwrite law).
    The physical sink versions live in sinks/ (parquet restate_partition
    and jdbc delete_and_insert) and are covered by unit tests."""
    o = _t(spark, sf_dir, "orders")
    in_month = (F.year("o_orderdate") == 1997) & (F.month("o_orderdate") == 3)
    keep = o.filter(~in_month).select("o_orderkey", "o_totalprice",
                                      "o_orderdate")
    batch = o.filter(in_month).select(
        "o_orderkey",
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
        "o_orderdate")
    restated = keep.unionAll(batch)
    return restated.groupBy(
        F.year("o_orderdate").cast("bigint").alias("ano"),
        F.month("o_orderdate").cast("bigint").alias("mes"),
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("total"),
    )


# --------------------------------------------------------------------------
# Flagship: the production DAG restated (SURVEY §3.1)
# --------------------------------------------------------------------------

@register("incremental_enrichment", sql="""
WITH incoming AS (
    SELECT o.*, CAST(year(o_orderdate) AS BIGINT) AS ano_ref,
           CAST(month(o_orderdate) AS BIGINT) AS mes_ref
    FROM orders o WHERE o_orderdate >= TIMESTAMP '1997-01-01'
), wh AS (
    SELECT DISTINCT o_custkey, CAST(year(o_orderdate) AS BIGINT) AS ano_ref,
           CAST(month(o_orderdate) AS BIGINT) AS mes_ref
    FROM orders WHERE o_orderdate < TIMESTAMP '1997-07-01'
), delta AS (
    SELECT i.* FROM incoming i
    WHERE NOT EXISTS (SELECT 1 FROM wh
                      WHERE wh.o_custkey = i.o_custkey
                        AND wh.ano_ref = i.ano_ref
                        AND wh.mes_ref = i.mes_ref)
)
SELECT d.o_orderkey,
       COALESCE(lower(trim(c_name)), 'indefinido') AS municipio,
       COALESCE(CAST(n_nationkey AS BIGINT), 0) AS codigo_ibge,
       COALESCE(lower(trim(n_name)), 'indefinido') AS regiao,
       d.ano_ref, d.mes_ref,
       COALESCE(TRY_CAST(o_totalprice AS DOUBLE), 0.0) AS valor
FROM delta d
LEFT JOIN customer ON d.o_custkey = c_custkey
LEFT JOIN nation   ON c_nationkey = n_nationkey
""")
def q_incremental_enrichment(spark, sf_dir):
    """The reference's production DAG end-to-end (SURVEY §3.1): extract
    → anti-join dedup → broadcast enrichment → repair → allowlist."""
    return incremental_enrichment(spark, sf_dir)


# --------------------------------------------------------------------------
# Sampling / reshaping / statistics (100-TB extension surface)
# --------------------------------------------------------------------------

@register("deterministic_sample", sql=f"""
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM lineitem
WHERE {hash_bucket_sql(['l_orderkey', 'l_linenumber'])}
      < {int(0.1 * N_BUCKETS)}
""")
def q_deterministic_sample(spark, sf_dir):
    """10% content-hash sample of lineitem: reproducible across
    retries/engines/partitionings (no rand()), evaluated as a plain
    filter inside the scan — the only sampling that survives
    exactly-once semantics at 100 TB."""
    li = _t(spark, sf_dir, "lineitem")
    return hash_sample(li, ["l_orderkey", "l_linenumber"], 0.1) \
        .select("l_orderkey", "l_linenumber", "l_extendedprice")


@register("unpivot_measures", sql="""
SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
       l_quantity AS value FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
""")
def q_unpivot_measures(spark, sf_dir):
    """Wide->long reshape via native unpivot: one generator pass (4
    rows out per row in), vs the oracle's 4-scan UNION ALL — at 100 TB
    that is 1 read instead of 4."""
    li = _t(spark, sf_dir, "lineitem")
    return melt(li, ["l_orderkey", "l_linenumber"],
                ["l_quantity", "l_extendedprice", "l_discount", "l_tax"])


@register("fuzzy_join_names", sql="""
SELECT a.s_name AS name_a, b.s_name AS name_b,
       CAST(levenshtein(a.s_name, b.s_name) AS BIGINT) AS distance
FROM supplier a
JOIN supplier b ON a.s_name < b.s_name
WHERE levenshtein(a.s_name, b.s_name) <= 1
""")
def q_fuzzy_join_names(spark, sf_dir):
    """Edit-distance entity matching (the reference's municipality-name
    normalization problem, generalized): deletion-neighborhood blocking
    (FastSS) turns the cross product into a near-singleton-bucket
    equi-join with an exact levenshtein re-check JVM-side — immune to
    the length-skew worst case that degrades length-cell blocking
    (supplier names are all the same length).  Oracle is DuckDB's
    quadratic join — same pairs."""
    sup = _t(spark, sf_dir, "supplier")
    a = sup.select(F.col("s_name").alias("name_a"))
    b = sup.select(F.col("s_name").alias("name_b"))
    # a/b are narrow projections of the memoized dim frame: pass it as
    # the fan-out probe proxy so no per-invocation planning pass runs.
    return fuzzy_join_deletes(a, b, "name_a", "name_b",
                              left_source=sup, right_source=sup) \
        .filter(F.col("name_a") < F.col("name_b")) \
        .select("name_a", "name_b", "distance")


@register("fuzzy_join_names_k2", sql="""
WITH names AS (
    SELECT concat(substr(md5(CAST(c_custkey // 4 AS VARCHAR)), 1, 10),
                  '#', CAST(c_custkey % 4 AS VARCHAR)) AS nm
    FROM customer
)
SELECT a.nm AS name_a, b.nm AS name_b,
       CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS distance
FROM names a
JOIN names b ON a.nm < b.nm
WHERE levenshtein(a.nm, b.nm) <= 2
""")
def q_fuzzy_join_names_k2(spark, sf_dir):
    """Edit-distance <= 2 entity matching via k=2 deletion-
    neighborhood blocking (operators/joins.py:fuzzy_join_deletes,
    generalized to arbitrary k in round 10).

    Fixture: every group of 4 customer keys shares an md5-derived
    10-char base and differs only in a trailing digit, so true pairs
    are planted (linear in rows, ~6 per group) while ALL strings share
    one length — the exact skew that makes length-cell blocking
    per-cell quadratic.  DuckDB's quadratic join is the oracle.
    (Supplier/part names are unusable here: their templated keyspaces
    put ~30% of all pairs within distance 2, so any algorithm's output
    would itself be quadratic.)

    Algorithm history — a round-10 scale catch: through round 9 this
    query ran q-gram prefix blocking (fuzzy_join_qgrams, q=4 for the
    dense hex alphabet).  The r10 sf1→sf3 curve measured it at step
    exponent 1.77: these 12-char strings sit exactly at L = q·(k+1),
    where the Ed-Join count filter degenerates (the "prefix" is the
    whole gram set — and q cannot be raised, because the count bound
    needs k·q+1 <= L−q+1 grams), and once n·L outgrows the 16⁴ gram
    space the candidate join is quadratic in rows.  The <=2-deletion
    neighborhood (~79 in-row keys for L=12) keeps candidate volume
    LINEAR in rows with near-singleton buckets at any alphabet
    density; qgrams remains the right tool for strings long enough
    to leave slack between k·q+1 and their gram count (SCALE.md,
    round-10 section)."""
    cust = _t(spark, sf_dir, "customer")
    nm = F.concat(
        F.substring(
            F.md5(F.floor(F.col("c_custkey") / 4).cast("string")), 1, 10),
        F.lit("#"), (F.col("c_custkey") % 4).cast("string"))
    a = cust.select(nm.alias("name_a"))
    b = cust.select(nm.alias("name_b"))
    # Probe proxy: a/b are narrow projections of the memoized dim
    # frame (same partitioning), so the fan-out check reuses its
    # cached partition count instead of re-planning per invocation.
    return fuzzy_join_deletes(a, b, "name_a", "name_b", max_dist=2,
                              left_source=cust, right_source=cust) \
        .filter(F.col("name_a") < F.col("name_b")) \
        .select("name_a", "name_b", "distance")


@register("stats_moments", sql="""
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       round(var_samp(l_quantity), 6) AS var_qty,
       round(stddev_samp(l_quantity), 6) AS std_qty,
       round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
       round(covar_samp(l_quantity, l_discount), 6) AS cov_qty_disc
FROM lineitem
GROUP BY l_returnflag
""")
def q_stats_moments(spark, sf_dir):
    """Second-moment statistics (variance/stddev/correlation/
    covariance): single-pass partial aggregation — Spark's moment
    aggregates merge per-partition (count, mean, M2) states, so the
    shuffle carries one small state per group, not the data."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.var_samp("l_quantity"), 6).alias("var_qty"),
        F.round(F.stddev_samp("l_quantity"), 6).alias("std_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6)
         .alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_discount"), 6)
         .alias("cov_qty_disc"),
    )

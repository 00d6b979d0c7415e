"""Lakehouse and I/O queries: format round trips, versioned-table MERGE,
incremental maintenance, layout and schema evolution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.aggregate import dsum
from ..registry import register
from ..sources.parquet_source import load_table
from ..workdirs import fresh_work_dir
from ._shared import _TOKS, _fresh_work_dir, _t


@register("orc_roundtrip", sql="""
SELECT CAST(month(l_shipdate) AS BIGINT) AS ship_month,
       CAST(SUM(CAST(l_quantity AS DECIMAL(32,6))) AS DOUBLE) AS sum_qty,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem WHERE year(l_shipdate) = 1997 GROUP BY 1
""")
def q_orc_roundtrip(spark, sf_dir):
    """ORC sink → ORC scan round-trip (sources/orc_source): the 1997
    lineitem slice is written to ORC and aggregated from the ORC copy;
    matching the parquet-side oracle proves the format path is
    lossless (types, timestamps, nulls) end to end."""
    from ..sources.orc_source import read_orc, write_orc
    li = (_t(spark, sf_dir, "lineitem")
          .filter(F.year("l_shipdate") == 1997)
          .select("l_orderkey", "l_quantity", "l_shipdate"))
    tmp = fresh_work_dir("orc_rt", sf_dir)
    write_orc(li, f"{tmp}/li")
    back = read_orc(spark, f"{tmp}/li")
    return (
        back.groupBy(F.month("l_shipdate").cast("bigint")
                     .alias("ship_month"))
        .agg(dsum("l_quantity").alias("sum_qty"),
             F.count(F.lit(1)).alias("n_items"))
    )


@register("merge_upsert", sql="""
WITH delta AS (
    SELECT user_id * 11 + 100 AS key,
           CAST(SUM(CAST(value AS DECIMAL(32,6))) AS DOUBLE) AS new_bal
    FROM events GROUP BY user_id
), snap AS (
    SELECT c_custkey AS key, c_acctbal AS bal FROM customer
)
SELECT coalesce(s.key, d.key) AS key,
       round(coalesce(d.new_bal, s.bal), 6) AS bal,
       CASE WHEN d.key IS NULL THEN 'unchanged'
            WHEN s.key IS NULL THEN 'inserted'
            ELSE 'updated' END AS merge_op
FROM snap s FULL OUTER JOIN delta d ON s.key = d.key
""")
def q_merge_upsert(spark, sf_dir):
    """MERGE INTO semantics without a table format: WHEN MATCHED
    UPDATE (change row replaces the snapshot value), WHEN NOT MATCHED
    INSERT, untouched snapshot rows pass through.  Executed as
    tag-union + one groupBy (max_by on the change priority) — the
    scale shape: a full-outer join would shuffle the whole snapshot
    against the whole delta as a JOIN; the union aggregates on the
    key ONCE and is map-side combinable.  The oracle IS the
    full-outer-join formulation, proving the two equivalent."""
    delta = (
        _t(spark, sf_dir, "events")
        .groupBy((F.col("user_id") * 11 + 100).alias("key"))
        .agg(dsum("value").alias("val"))
        .select("key", "val", F.lit(1).alias("pri"),
                F.lit(True).alias("from_delta")))
    snap = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"), F.col("c_acctbal").alias("val"),
        F.lit(0).alias("pri"), F.lit(False).alias("from_delta"))
    merged = (
        snap.unionByName(delta)
        .groupBy("key")
        .agg(F.max_by("val", "pri").alias("bal"),
             F.max("pri").alias("has_delta"),
             F.count(F.lit(1)).alias("n_src"))
    )
    return merged.select(
        "key", F.round("bal", 6).alias("bal"),
        F.when(F.col("has_delta") == 0, "unchanged")
         .when(F.col("n_src") == 1, "inserted")
         .otherwise("updated").alias("merge_op"))


@register("jsonl_roundtrip", sql="""
SELECT doc_id, lang, source, md5(text) AS text_md5 FROM documents
""")
def q_jsonl_roundtrip(spark, sf_dir):
    """JSON-lines sink → scan round-trip: the documents table is
    written as JSONL (the lingua franca of training-data interchange)
    and read back with an explicit schema; md5 of the recovered text
    against the parquet-side oracle proves the encode/decode is
    lossless (quoting, unicode, nulls)."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source")
    tmp = fresh_work_dir("jsonl_rt", sf_dir)
    docs.write.mode("overwrite").json(f"{tmp}/docs")
    back = spark.read.schema(docs.schema).json(f"{tmp}/docs")
    return back.select("doc_id", "lang", "source",
                       F.md5("text").alias("text_md5"))


@register("text_source_roundtrip", sql=f"""
SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tok FROM documents
""")
def q_text_source_roundtrip(spark, sf_dir):
    """Raw-text sink → `spark.read.text` scan round-trip: documents
    serialized as tab-separated lines, re-parsed with JVM regex
    extraction (id + body), token counts matched against the parquet
    side.  The line-oriented text source is how raw corpora actually
    arrive; at 100 TB the directory is the unit of parallelism."""
    from ..operators.text import token_count
    docs = _t(spark, sf_dir, "documents")
    tmp = fresh_work_dir("text_rt", sf_dir)
    docs.select(F.concat_ws("\t", F.col("doc_id"), F.col("text"))
                .alias("value")).write.mode("overwrite").text(f"{tmp}/docs")
    back = spark.read.text(f"{tmp}/docs")
    return back.select(
        F.regexp_extract("value", r"^(\d+)\t", 1).cast("bigint")
         .alias("doc_id"),
        token_count(F.regexp_replace("value", r"^\d+\t", ""))
         .alias("n_tok"))


# --------------------------------------------------------------------------
# Z-order clustering key (multi-dimensional data skipping)
# --------------------------------------------------------------------------

def _zorder_oracle() -> str:
    from ..operators.layout import zorder_key_sql
    return zorder_key_sql("orders", ["o_custkey", "o_totalprice"],
                          id_col="o_orderkey")


@register("zorder_key_orders", sql=_zorder_oracle())
def _q_zorder_key_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) clustering key over (o_custkey, o_totalprice)
    — the sort key that makes every output file's min/max stats tight
    on BOTH columns at once (operators/layout).  Pure JVM shift/or
    arithmetic after one tiny min/max aggregate; the oracle renders
    the identical affine-quantize + interleave in SQL, so the key is
    bit-reproducible across engines."""
    from ..operators.layout import zorder_key
    o = load_table(spark, sf_dir, "orders") \
        .select("o_orderkey", "o_custkey", "o_totalprice")
    return zorder_key(o, ["o_custkey", "o_totalprice"]) \
        .select("o_orderkey", "zkey")


# --------------------------------------------------------------------------
# Schema-evolution scan (mergeSchema over heterogeneous fragments)
# --------------------------------------------------------------------------

_SCHEMA_EVO_SQL = """
SELECT doc_id, lang,
       CASE WHEN doc_id % 2 = 1 THEN source END AS source,
       CASE WHEN doc_id % 2 = 1 THEN n_chars END AS n_chars
FROM documents
"""


@register("schema_evolution_scan", sql=_SCHEMA_EVO_SQL)
def _q_schema_evolution_scan(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Schema evolution, the lake reality after any column addition:
    an EARLY parquet fragment written before the ``source``/``n_chars``
    columns existed and a LATER fragment with them, read back in one
    ``mergeSchema`` scan.  Missing columns surface as nulls exactly
    where the fragment lacked them; the oracle reproduces the same
    union from the base table.  At 100 TB this is how every long-lived
    table actually looks — per-file schemas differ and the reader owns
    reconciliation; the footer merge is metadata-only (no data
    rewrite)."""
    import hashlib
    import os
    import tempfile

    docs = load_table(spark, sf_dir, "documents")
    # Deterministic per-sf staging dir + overwrite mode: repeated
    # invocations (bench warm+timed, driver rounds) rewrite ONE copy
    # instead of leaking a fresh mkdtemp each call.  The dir can't be
    # deleted before the driver consumes the lazy result, so bounding
    # it is the honest fix.
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    tmp = os.path.join(tempfile.gettempdir(), f"schema_evo_{tag}")
    docs.filter(F.col("doc_id") % 2 == 0) \
        .select("doc_id", "lang") \
        .write.mode("overwrite").parquet(f"{tmp}/old")
    docs.filter(F.col("doc_id") % 2 == 1) \
        .select("doc_id", "lang", "source", "n_chars") \
        .write.mode("overwrite").parquet(f"{tmp}/new")
    back = spark.read.option("mergeSchema", "true") \
        .parquet(f"{tmp}/old", f"{tmp}/new")
    return back.select("doc_id", "lang", "source",
                       F.col("n_chars").cast("bigint").alias("n_chars"))


# --------------------------------------------------------------------------
# Incremental aggregate maintenance (partial-state merge)
# --------------------------------------------------------------------------

_INCR_AGG_SQL = """
WITH c AS (SELECT o_custkey,
                  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders)
SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(SUM(cents) AS BIGINT) AS total,
       CAST(MIN(cents) AS BIGINT) AS v_min,
       CAST(MAX(cents) AS BIGINT) AS v_max,
       round(CAST(SUM(cents) AS DOUBLE) / count(*), 6) AS v_avg
FROM c GROUP BY o_custkey
"""


@register("incremental_agg_maintenance", sql=_INCR_AGG_SQL)
def _q_incremental_agg_maintenance(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (operators/incremental): the
    per-customer order aggregate is built as TWO partial states — the
    'historical' snapshot (orders before 1998) and the 'delta' (1998
    onward) — then merged and finalized WITHOUT rescanning history.
    The oracle is the full GROUP BY over all orders: merge(partial(A),
    partial(B)) must equal recompute(A ∪ B) exactly, which is the
    entire contract of incremental ETL."""
    from ..operators.incremental import (finalize, merge_states,
                                        partial_aggregate)
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate",
        F.floor(F.col("o_totalprice") * 100).cast("bigint")
         .alias("cents"))
    cut = F.lit("1998-01-01").cast("timestamp_ntz")
    # NULL order dates route into the historical side: both < and >=
    # evaluate to NULL for them, so without the isNull() arm the two
    # partials would NOT partition the table and merge != recompute.
    hist = partial_aggregate(
        o.filter(F.col("o_orderdate").isNull()
                 | (F.col("o_orderdate") < cut)),
        ["o_custkey"], "cents")
    delta = partial_aggregate(o.filter(F.col("o_orderdate") >= cut),
                              ["o_custkey"], "cents")
    return finalize(merge_states(hist, delta))


@register("stream_incremental_agg", sql=_INCR_AGG_SQL)
def _q_stream_incremental_agg(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Streaming twin of incremental_agg_maintenance
    (streaming/windowed.stream_incremental_agg): four genuine
    micro-batches (maxFilesPerTrigger=1 over four staged fragments),
    each foreachBatch merging its partial state with the previous
    version — history never rescanned.  Shares the batch query's
    full-GROUP-BY oracle because partial-state merge is associative
    over any split."""
    from ..streaming.windowed import stream_incremental_agg
    return stream_incremental_agg(spark, sf_dir)


# --------------------------------------------------------------------------
# The lakehouse loop and the native streaming sink, end to end
# --------------------------------------------------------------------------

_LOOP_SQL = """
WITH w AS (
    SELECT user_id, event_type, event_id,
           row_number() OVER (PARTITION BY user_id
               ORDER BY event_id % 3 DESC, epoch_us(ts) DESC,
                        event_id DESC) AS rn
    FROM events)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(event_id) AS BIGINT) AS sum_event_id
FROM w WHERE rn = 1
GROUP BY event_type
"""


@register("lakehouse_incremental_loop", sql=_LOOP_SQL)
def _q_lakehouse_incremental_loop(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """The full lakehouse loop as one checked query (plans/
    lakehouse_loop): events arrive at a versioned raw table in three
    batches (b = event_id % 3), an exactly-once vtable stream consumes
    them across two availableNow runs, each micro-batch MERGEs
    latest-per-user into a keyed state table, each merge's
    table_changes CDC delta maintains a per-event_type aggregate —
    and the oracle is the BATCH RESTATEMENT of that aggregate, so the
    driver's hash check IS the delta-view-maintenance identity."""
    from ..plans.lakehouse_loop import incremental_loop
    ev = load_table(spark, sf_dir, "events") \
        .select("event_id", "user_id", "event_type", "ts")
    # Deterministic per-sf work dir, CLEARED on entry (the tables and
    # stream checkpoint must start fresh each run — resuming an old
    # checkpoint would change the arrival plan): repeated invocations
    # rewrite ONE tree instead of leaking a mkdtemp per call.  Safe to
    # return: the result is a local relation over the collected CDC
    # deltas, independent of the work dir.
    return incremental_loop(spark, ev, _fresh_work_dir("lh_loop", sf_dir))


_VSINK_SQL = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(sum(event_id) AS BIGINT) AS sum_event_id,
       CAST(sum(epoch_us(ts)) AS BIGINT) AS sum_ts_us
FROM events GROUP BY event_type
"""


@register("vtable_sink_roundtrip", sql=_VSINK_SQL)
def _q_vtable_sink_roundtrip(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Native lakehouse streaming I/O end to end, hash-checked: the
    events table becomes a versioned raw table, a `format("vtable")`
    source → `format("vtable")` SINK stream copies it table-to-table
    (executor-side reads, staged-parquet exactly-once writes, txn
    ledger), and the aggregate over the COPY must equal the oracle's
    aggregate over the original — any duplicated, dropped, or
    corrupted row changes the hash."""
    import os

    from ..sinks.versioned import read_version, write_version
    from ..sources.vtable_stream_source import register_vtable

    register_vtable(spark)
    # Deterministic per-sf work dir, cleared on entry (fresh tables +
    # checkpoint each run; one bounded tree across bench/driver runs).
    # The dir must outlive this call — the returned aggregate lazily
    # reads the copied table — so the NEXT invocation clears it.
    work = _fresh_work_dir("vsink_rt", sf_dir)
    src, dst = os.path.join(work, "src"), os.path.join(work, "dst")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type",
        F.unix_micros(F.col("ts")).alias("ts_us"))
    write_version(ev, src)
    q = (spark.readStream.format("vtable").option("path", src).load()
         .writeStream.format("vtable").option("path", dst)
         .option("checkpointLocation", os.path.join(work, "ckpt"))
         .trigger(availableNow=True)
         .start())
    try:
        assert q.awaitTermination(300), "vtable roundtrip stream hung"
    finally:
        if q.isActive:
            q.stop()
    return (read_version(spark, dst)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"),
                 F.countDistinct("user_id").cast("bigint")
                 .alias("n_users"),
                 F.sum("event_id").cast("bigint").alias("sum_event_id"),
                 F.sum("ts_us").cast("bigint").alias("sum_ts_us")))


# --------------------------------------------------------------------------
# Ordered string aggregation (LISTAGG parity)
# --------------------------------------------------------------------------

_LISTAGG_SQL = """
WITH r AS (
  SELECT n.n_name, c.c_name, c.c_acctbal,
         row_number() OVER (PARTITION BY c.c_nationkey
                            ORDER BY c.c_acctbal DESC, c.c_name) AS rn
  FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey)
SELECT n_name,
       string_agg(c_name, ',' ORDER BY rn) AS top_names,
       CAST(floor(SUM(CAST(c_acctbal AS DECIMAL(18,2))) * 100)
            AS BIGINT) AS top_bal_cents,
       CAST(count(*) AS BIGINT) AS n_top
FROM r WHERE rn <= 5 GROUP BY n_name
"""


@register("nation_top_customer_csv", sql=_LISTAGG_SQL)
def _q_nation_top_customer_csv(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Ordered string aggregation (ANSI LISTAGG / string_agg WITHIN
    GROUP): each nation's top-5 customers by account balance as one
    ordered CSV cell.  Spark has no ordered string_agg, so the
    portable exact form is collect_list of (rank, name) structs +
    in-row `array_sort` + `transform` + `array_join` — the in-row
    sort makes the result independent of collect_list's arrival
    order, i.e. partition-count invariant.  Ranks come from one top-k
    window (ties broken by name); only rank<=5 rows ever reach the
    aggregation, so the shuffle carries 5 short rows per nation."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("c_nationkey") \
        .orderBy(F.col("c_acctbal").desc(), "c_name")
    top = (c.withColumn("rn", F.row_number().over(w))
           .filter(F.col("rn") <= 5)
           .join(F.broadcast(n),
                 c.c_nationkey == n.n_nationkey))
    names = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("rn", "c_name"))),
            lambda x: x["c_name"]), ",")
    return (top.groupBy("n_name")
            .agg(names.alias("top_names"),
                 F.floor(F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
                         * 100).cast("long").alias("top_bal_cents"),
                 F.count(F.lit(1)).alias("n_top")))

"""Event and streaming queries: sessionization, funnels, retention, CDC,
windowed and rolling statistics, and the structured-streaming shapes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.aggregate import dsum
from ..operators.joins import salted_join
from ..registry import register
from ..sources.parquet_source import load_table
from ..workdirs import fresh_work_dir
from ._shared import _TOKS, _t, _view


# --------------------------------------------------------------------------
# Events: sessionization + windowed aggregation (+ streaming parity)
# --------------------------------------------------------------------------

@register("event_sessionize", sql="""
WITH x AS (
    SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
    FROM events
), y AS (
    SELECT user_id, event_id, us,
           CASE WHEN lag(us) OVER w IS NULL
                  OR us - lag(us) OVER w > 1800000000
                THEN 1 ELSE 0 END AS new_sess
    FROM x
    WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
)
SELECT user_id, event_id,
       CAST(SUM(new_sess) OVER (
            PARTITION BY user_id ORDER BY us, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_id
FROM y
""")
def q_event_sessionize(spark, sf_dir):
    """Sessionization: 30-min-gap session ids via lag + running sum —
    one shuffle on user_id, then narrow window arithmetic."""
    e = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    new_sess = F.when(
        F.lag(us).over(w).isNull() |
        ((us - F.lag(us).over(w)) > 30 * 60 * 1_000_000),
        F.lit(1)).otherwise(F.lit(0))
    return (
        e.select("user_id", "event_id", "ts",
                 new_sess.alias("new_sess"))
        .withColumn("session_id",
                    F.sum("new_sess").over(wsum).cast("bigint"))
        .select("user_id", "event_id", "session_id")
    )


@register("asof_join_events", sql="""
WITH clicks AS (
    SELECT user_id, ts, max(value) AS click_value
    FROM events WHERE event_type = 'click' GROUP BY 1, 2
), purchases AS (
    SELECT user_id, event_id, ts, value FROM events
    WHERE event_type = 'purchase'
)
SELECT p.user_id, p.event_id, p.value,
       epoch_us(CAST(c.ts AS TIMESTAMP)) AS matched_us,
       c.click_value
FROM purchases p
ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND p.ts > c.ts
""")
def q_asof_join_events(spark, sf_dir):
    """As-of join (operator Spark lacks; composed union+window, one
    shuffle): each purchase gets the user's most recent strictly
    earlier click value.  Oracle is DuckDB's native ASOF LEFT JOIN."""
    from ..operators.joins import asof_join

    e = _t(spark, sf_dir, "events")
    clicks = (e.filter(F.col("event_type") == "click")
              .groupBy("user_id", "ts")
              .agg(F.max("value").alias("click_value")))
    purchases = (e.filter(F.col("event_type") == "purchase")
                 .select("user_id", "event_id", "ts", "value"))
    out = asof_join(purchases, clicks, ["user_id"],
                    right_vals=["click_value"], strict=True)
    return out.select(
        "user_id", "event_id", "value",
        F.unix_micros(F.col("matched_ts")).alias("matched_us"),
        "click_value")


_WINDOWED_AGG_SQL = """
SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(32,6))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2
"""


@register("windowed_event_agg", sql=_WINDOWED_AGG_SQL)
def q_windowed_event_agg(spark, sf_dir):
    """Tumbling 1-hour window aggregation (batch form)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             dsum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n_events", "total_value")
    )


@register("stream_windowed_agg", sql=_WINDOWED_AGG_SQL)
def q_stream_windowed_agg(spark, sf_dir):
    """Structured Streaming parity: the same tumbling-window agg run as
    an availableNow stream (watermark + complete output) must equal
    the batch answer — checked against the same oracle."""
    from ..streaming.windowed import stream_windowed_event_agg
    return stream_windowed_event_agg(spark, sf_dir)


@register("stream_enrich_events", sql="""
SELECT e.event_id, e.event_type, c.c_name, c.c_mktsegment, e.value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
""")
def q_stream_enrich_events(spark, sf_dir):
    """Stream-static broadcast enrichment run availableNow: stateless
    per-micro-batch dim join, no stream-side shuffle; final table
    equals the batch join (the oracle)."""
    from ..streaming.windowed import stream_static_enrich
    return stream_static_enrich(spark, sf_dir)


@register("scd2_event_history", sql="""
WITH x AS (
    SELECT user_id, event_type,
           epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id
    FROM events
), y AS (
    SELECT user_id, event_type, us, event_id,
           CASE WHEN lag(event_type) OVER w IS NULL
                  OR lag(event_type) OVER w <> event_type
                THEN 1 ELSE 0 END AS new_run
    FROM x WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
), z AS (
    SELECT user_id, event_type, us,
           SUM(new_run) OVER (PARTITION BY user_id ORDER BY us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
    FROM y
), r AS (
    SELECT user_id, min(event_type) AS event_type, run,
           min(us) AS valid_from_us,
           count(*) AS n_changes
    FROM z GROUP BY user_id, run
)
SELECT user_id, event_type, valid_from_us,
       lead(valid_from_us) OVER w2 AS valid_to_us,
       lead(valid_from_us) OVER w2 IS NULL AS is_current,
       n_changes
FROM r WINDOW w2 AS (PARTITION BY user_id ORDER BY run)
""")
def q_scd2_event_history(spark, sf_dir):
    """SCD Type 2 dimension history from the event feed: consecutive
    equal event_type runs per user collapse to validity intervals.
    One shuffle on the key, then narrow window arithmetic."""
    from ..operators.history import scd2_intervals
    e = _t(spark, sf_dir, "events")
    out = scd2_intervals(e, "user_id", "event_type", "ts", "event_id")
    return out.select(
        "user_id", "event_type",
        F.unix_micros(F.col("valid_from")).alias("valid_from_us"),
        F.unix_micros(F.col("valid_to")).alias("valid_to_us"),
        "is_current", "n_changes")


@register("stream_interval_join", sql="""
SELECT p.user_id, p.event_id AS purchase_id,
       epoch_us(CAST(c.ts AS TIMESTAMP)) AS click_us,
       c.value AS click_value
FROM events p JOIN events c
  ON p.user_id = c.user_id
 AND p.event_type = 'purchase' AND c.event_type = 'click'
 AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 6 HOUR
""")
def q_stream_interval_join(spark, sf_dir):
    """Stream-stream interval join (watermarked both sides, bounded
    state): purchases x clicks by the same user within the prior 6 h,
    run availableNow; equals the batch interval join (the oracle)."""
    from ..streaming.windowed import stream_stream_interval_join
    return stream_stream_interval_join(spark, sf_dir)


@register("stream_sessionize", sql="""
WITH x AS (
    SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
    FROM events
), flags AS (
    SELECT user_id, event_id, us,
           CASE WHEN lag(us) OVER w IS NULL
                     OR us - lag(us) OVER w > 1800000000
                THEN 1 ELSE 0 END AS new_sess
    FROM x WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
), runs AS (
    SELECT user_id, us,
           SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
    FROM flags
), sess AS (
    SELECT user_id, MIN(us) AS start_us, MAX(us) AS end_us,
           CAST(count(*) AS BIGINT) AS n_events
    FROM runs GROUP BY user_id, sid
)
SELECT user_id, start_us, end_us, n_events
FROM sess
WHERE end_us + 1800000000 < (SELECT max(end_us) FROM sess)
""")
def q_stream_sessionize(spark, sf_dir):
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user 30-min-gap sessionization with event-time timeouts.

    The oracle is exact, not approximate: the operator's emit rule is
    deterministic — a session is emitted iff it is CLOSED by the final
    watermark (= the global max event time).  Sessions closed in-batch
    always satisfy ``end + gap < max(us)`` (their same-user successor
    event proves it); sessions closed by event-time timeout satisfy it
    by watermark semantics; the still-open tail sessions are withheld,
    which the oracle's WHERE reproduces.  The same law is pinned
    batch-vs-stream in tests/test_nested_and_streaming.py."""
    from ..streaming.windowed import stream_sessionize
    return stream_sessionize(spark, sf_dir)


@register("events_funnel", sql="""
WITH u AS (
    SELECT user_id,
           min(CASE WHEN event_type = 'view' THEN ts END) AS tv,
           min(CASE WHEN event_type = 'click' THEN ts END) AS tc,
           min(CASE WHEN event_type = 'purchase' THEN ts END) AS tp
    FROM events GROUP BY user_id
)
SELECT CAST(count(tv) AS BIGINT) AS n_view,
       CAST(count(CASE WHEN tc > tv THEN 1 END) AS BIGINT) AS n_view_click,
       CAST(count(CASE WHEN tc > tv AND tp > tc THEN 1 END) AS BIGINT)
           AS n_view_click_purchase
FROM u
""")
def q_events_funnel(spark, sf_dir):
    """Ordered funnel (view → click → purchase by first-occurrence
    time): one shuffle on user_id with map-side partial min()s, then a
    single global reduce — the canonical scalable funnel shape (no
    self-joins, no per-user sorting)."""
    e = _t(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts")))
         .alias("tv"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts")))
         .alias("tc"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
         .alias("tp"))
    return u.agg(
        F.count("tv").cast("bigint").alias("n_view"),
        F.count(F.when(F.col("tc") > F.col("tv"), 1))
         .cast("bigint").alias("n_view_click"),
        F.count(F.when((F.col("tc") > F.col("tv"))
                       & (F.col("tp") > F.col("tc")), 1))
         .cast("bigint").alias("n_view_click_purchase"))


@register("user_retention", sql="""
WITH f AS (
    SELECT user_id, min(CAST(ts AS DATE)) AS d0
    FROM events GROUP BY user_id
), a AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
)
SELECT f.d0 AS cohort_day,
       CAST((a.d - f.d0) // 7 AS BIGINT) AS week_offset,
       CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
FROM a JOIN f USING (user_id)
GROUP BY 1, 2
""")
def q_user_retention(spark, sf_dir):
    """Cohort retention: users bucketed by first-seen day, counted per
    week offset they return in.  Both aggregations and the join key on
    user_id — the first groupBy's hash partitioning is reused by the
    join (one logical shuffle family), then a small (cohort, offset)
    reduce."""
    e = _t(spark, sf_dir, "events")
    f = e.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("d0"))
    a = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    return (a.join(f, "user_id")
            .groupBy(F.col("d0").alias("cohort_day"),
                     F.floor(F.datediff(F.col("d"), F.col("d0")) / 7)
                      .cast("bigint").alias("week_offset"))
            .agg(F.countDistinct("user_id").cast("bigint")
                  .alias("n_users")))


@register("cdc_latest_state", sql="""
WITH r AS (
    SELECT user_id, event_type, value, ts,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
)
SELECT user_id, event_type AS last_op, value AS last_value,
       epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
FROM r WHERE rn = 1 AND event_type <> 'error'
""")
def q_cdc_latest_state(spark, sf_dir):
    """CDC merge to current state (lakehouse MERGE INTO semantics):
    last write per key wins, keys whose final op is a delete marker
    ('error' stands in) vanish.  Single (key)-window shuffle; the
    snapshot would union in as older feed rows at scale — no
    full-outer join."""
    from ..operators.history import cdc_latest_state
    e = _t(spark, sf_dir, "events")
    out = cdc_latest_state(e, "user_id", "ts", "event_id",
                           F.col("event_type") == "error")
    return out.select(
        "user_id",
        F.col("event_type").alias("last_op"),
        F.col("value").alias("last_value"),
        F.unix_micros(F.col("ts")).alias("ts_us"))


@register("salted_join_events", sql="""
SELECT e.event_id, e.user_id, c.c_mktsegment, e.value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
""")
def q_salted_join_events(spark, sf_dir):
    """Skew-salted equi-join (operators/joins.salted_join): the big
    side salts on a hash of its payload, the medium side replicates
    across the salt domain, and the result is row-identical to the
    plain join — the oracle IS the plain join."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    dim = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment")
    return salted_join(ev, dim, ["user_id"], "inner", n_salts=8) \
        .select("event_id", "user_id", "c_mktsegment", "value")


@register("session_window_agg", sql="""
WITH x AS (
    SELECT user_id, event_id,
           epoch_us(CAST(ts AS TIMESTAMP)) AS us
    FROM events
), flags AS (
    SELECT user_id, event_id, us,
           CASE WHEN lag(us) OVER w IS NULL
                     OR us - lag(us) OVER w >= 1800000000
                THEN 1 ELSE 0 END AS new_run
    FROM x WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
), runs AS (
    SELECT user_id, us,
           SUM(new_run) OVER (PARTITION BY user_id ORDER BY us, event_id
                              ROWS UNBOUNDED PRECEDING) AS run
    FROM flags
)
SELECT user_id, MIN(us) AS start_us,
       MAX(us) + 1800000000 AS end_us,
       CAST(count(*) AS BIGINT) AS n_events
FROM runs GROUP BY user_id, run
""")
def q_session_window_agg(spark, sf_dir):
    """Native `session_window` gap-session aggregation — the built-in
    Catalyst form of event_sessionize (which pins the same semantics
    via lag+running-sum): one shuffle on (user_id, session), session
    end = last event + gap, end-exclusive.  Works identically under
    Structured Streaming with a watermark — the operator you'd
    actually deploy for 100-TB session rollups."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("sw"),
                  "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id",
                F.unix_micros(F.col("sw.start")).alias("start_us"),
                F.unix_micros(F.col("sw.end")).alias("end_us"),
                "n_events")
    )


def _stream_curate_sql() -> str:
    from ._shared import _QUALITY_SQL
    return f"""
SELECT doc_id, lang, {_QUALITY_SQL} AS quality,
       CAST(len({_TOKS}) AS BIGINT) AS n_tok
FROM documents WHERE {_QUALITY_SQL} >= 0.45
"""


@register("stream_curate_pipeline", sql=_stream_curate_sql())
def q_stream_curate_pipeline(spark, sf_dir):
    """The curation front half run as a STREAM: documents land as
    JSONL (the real ingest format), a file-source stream applies the
    quality gate and token accounting per micro-batch — stateless, so
    no watermark, no state store; the availableNow output hash-matches
    the batch oracle over the same corpus."""
    import uuid as _uuid

    from ..operators import text as T2
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    tmp = fresh_work_dir("stream_cur", sf_dir)
    docs.write.mode("overwrite").json(f"{tmp}/in")
    stream = spark.readStream.schema(docs.schema).json(f"{tmp}/in")
    out = (
        stream
        .withColumn("quality",
                    T2.quality_score(F.col("text"), F.length("text")))
        .filter(F.col("quality") >= 0.45)
        .select("doc_id", "lang", "quality",
                T2.token_count(F.col("text")).alias("n_tok")))
    qname = f"stream_cur_{_uuid.uuid4().hex[:8]}"
    query = (out.writeStream.format("memory").queryName(qname)
             .outputMode("append").trigger(availableNow=True).start())
    try:
        if not query.awaitTermination(300):
            raise TimeoutError(
                "availableNow stream did not finish within 300 s — "
                "refusing to return a partially-populated sink")
    finally:
        if query.isActive:
            query.stop()
    return spark.table(qname)


_RESAMPLE_STEP = 21_600_000_000  # 6 h in microseconds


@register("events_resample_locf", sql=f"""
WITH ev AS (
    SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
           value, event_id
    FROM events
), evu AS (
    SELECT user_id, us, arg_max(value, event_id) AS value
    FROM ev GROUP BY user_id, us
), spans AS (
    SELECT user_id,
           (min(us) + {_RESAMPLE_STEP} - 1) // {_RESAMPLE_STEP} AS g0,
           max(us) // {_RESAMPLE_STEP} AS g1
    FROM ev GROUP BY user_id
), grid AS (
    SELECT user_id,
           unnest(generate_series(g0, g1)) * {_RESAMPLE_STEP} AS grid_us
    FROM spans WHERE g1 >= g0
)
SELECT g.user_id, g.grid_us, e.us AS matched_ts, e.value
FROM grid g
ASOF JOIN evu e ON g.user_id = e.user_id AND g.grid_us >= e.us
""")
def q_events_resample_locf(spark, sf_dir):
    """Time-series resampling to a regular 6-hour grid with
    last-observation-carried-forward fill — the gap-filling operator
    behind dashboards and feature snapshots, composed from the
    engine's own as-of join: per-key span aggregate -> in-row grid
    explode (integer step arithmetic, aligned to step multiples) ->
    non-strict asof against the (key, ts)-deduplicated feed.  One
    shuffle for the span, one for the asof — grid points never touch
    the raw feed except through the asof window.  DuckDB's native
    ASOF JOIN is the oracle."""
    from ..operators.joins import asof_join
    step = _RESAMPLE_STEP
    e = _t(spark, sf_dir, "events")
    ev = e.select("user_id", F.unix_micros("ts").alias("us"),
                  "value", "event_id")
    evu = ev.groupBy("user_id", "us").agg(
        F.max_by("value", "event_id").alias("value"))
    spans = ev.groupBy("user_id").agg(
        F.expr(f"(min(us) + {step} - 1) div {step}").alias("g0"),
        F.expr(f"max(us) div {step}").alias("g1"))
    grid = (spans.filter(F.col("g1") >= F.col("g0"))
            .select("user_id",
                    F.explode(F.sequence("g0", "g1")).alias("__g"))
            .select("user_id", (F.col("__g") * step).alias("grid_us")))
    return asof_join(grid, evu, ["user_id"], left_ts="grid_us",
                     right_ts="us", right_vals=["value"], strict=False)


@register("stream_dedup_watermark", sql="""
SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
FROM events
""")
def q_stream_dedup_watermark(spark, sf_dir):
    """Watermarked streaming dedup (dropDuplicatesWithinWatermark) run
    availableNow: with a unique-keyed source the output equals the
    input — the batch-parity oracle; duplicate-arrival behavior is
    pinned by test_streaming_dedup_drops_duplicates."""
    from ..streaming.windowed import streaming_dedup
    out = streaming_dedup(spark, sf_dir)
    return out.select("event_id", "user_id", "event_type",
                      F.unix_micros("ts").alias("ts_us"))


_STREAKS_SQL = """
WITH d AS (
    SELECT DISTINCT user_id,
           CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 86400000000.0)
                AS BIGINT) AS day
    FROM events
), g AS (
    SELECT user_id, day,
           day - row_number() OVER (PARTITION BY user_id ORDER BY day)
               AS grp
    FROM d
), s AS (
    SELECT user_id, CAST(count(*) AS BIGINT) AS streak_days,
           MIN(day) AS start_day
    FROM g GROUP BY user_id, grp
)
SELECT user_id, streak_days, start_day
FROM (SELECT *, row_number() OVER (PARTITION BY user_id
          ORDER BY streak_days DESC, start_day) AS rn FROM s)
WHERE rn = 1
"""


@register("event_day_streaks", sql=_STREAKS_SQL)
def _q_event_day_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: each user's LONGEST run of consecutive active
    days (day - row_number is constant within an island — the classic
    formulation).  One shuffle on user_id serves both windows; islands
    never materialize more than (user, day) rows."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    day = F.floor(F.unix_micros(F.col("ts")) / F.lit(86400000000.0)) \
        .cast("bigint")
    d = e.select("user_id", day.alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    g = d.withColumn("grp", F.col("day") - F.row_number().over(w))
    s = (g.groupBy("user_id", "grp")
         .agg(F.count(F.lit(1)).alias("streak_days"),
              F.min("day").alias("start_day")))
    pick = Window.partitionBy("user_id") \
        .orderBy(F.desc("streak_days"), F.asc("start_day"))
    return (s.withColumn("rn", F.row_number().over(pick))
            .filter(F.col("rn") == 1)
            .select("user_id", F.col("streak_days").cast("bigint")
                    .alias("streak_days"), "start_day"))


# --------------------------------------------------------------------------
# Exact-integer rolling anomaly detection (trailing-window z-score)
# --------------------------------------------------------------------------

_ANOMALY_SQL = """
WITH q AS (SELECT event_id, user_id,
                  CAST(floor(value * 1000000) AS BIGINT) AS value_micros,
                  ts
           FROM events),
w AS (SELECT event_id, user_id, value_micros,
             count(*) OVER win AS n_window,
             SUM(CAST(value_micros AS HUGEINT)) OVER win AS s,
             SUM(CAST(value_micros AS HUGEINT)
                 * CAST(value_micros AS HUGEINT)) OVER win AS ss
      FROM q
      WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
SELECT event_id, user_id, value_micros,
       CAST(n_window AS BIGINT) AS n_window
FROM w
WHERE n_window >= 8
  AND (CAST(n_window AS HUGEINT) * value_micros - s)
      * (CAST(n_window AS HUGEINT) * value_micros - s)
      * (n_window - 1)
      > 4 * CAST(n_window AS HUGEINT)
          * (CAST(n_window AS HUGEINT) * ss - s * s)
"""


@register("events_rolling_anomaly", sql=_ANOMALY_SQL)
def _q_events_rolling_anomaly(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Trailing-window z-score anomaly detection with EXACT integer
    arithmetic: an event is anomalous when (x - mean)^2 > 4 * var_samp
    over the user's previous <=20 events (>=8 required) — cleared of
    denominators, (n*x - s)^2 * (n-1) > 4n * (n*ss - s^2), evaluated
    in DECIMAL(38) on Spark and HUGEINT in DuckDB so the decision
    boundary is bit-identical across engines (no float z-score to
    drift).  One shuffle on user_id serves all three frame aggregates;
    the frame is ROWS-bounded so state is O(20) per user regardless of
    history length."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    x = F.floor(F.col("value") * 1000000).cast("bigint")
    q = e.select("event_id", "user_id", x.alias("value_micros"), "ts")
    win = (Window.partitionBy("user_id").orderBy("ts", "event_id")
           .rowsBetween(-20, -1))
    xd = F.col("value_micros").cast("decimal(38,0)")
    w = q.select(
        "event_id", "user_id", "value_micros",
        F.count(F.lit(1)).over(win).alias("n_window"),
        F.sum(xd).over(win).alias("__s"),
        F.sum(xd * xd).over(win).alias("__ss"))
    n = F.col("n_window").cast("decimal(38,0)")
    s, ss = F.col("__s"), F.col("__ss")
    dev = n * xd - s
    return (w.filter((F.col("n_window") >= 8)
                     & (dev * dev * (n - 1) > 4 * n * (n * ss - s * s)))
            .select("event_id", "user_id", "value_micros",
                    F.col("n_window").cast("bigint").alias("n_window")))


@register("stream_rolling_anomaly", sql=_ANOMALY_SQL)
def _q_stream_rolling_anomaly(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Streaming restatement of events_rolling_anomaly
    (streaming/windowed.stream_rolling_anomaly): per-user trailing
    z-score via applyInPandasWithState with O(frame) state, verified
    against the SAME exact-integer SQL oracle as the batch form —
    Python's arbitrary-precision ints reproduce the DECIMAL/HUGEINT
    arithmetic bit-for-bit."""
    from ..streaming.windowed import stream_rolling_anomaly
    return stream_rolling_anomaly(spark, sf_dir)


# --------------------------------------------------------------------------
# Sliding-window DISTINCT (7-day active users) + day-of-week profile
# --------------------------------------------------------------------------

_ACTIVE7_SQL = """
WITH d AS (SELECT DISTINCT user_id,
                  CAST(floor(epoch_us(CAST(ts AS TIMESTAMP))
                             / 86400000000.0) AS BIGINT) AS day
           FROM events),
g AS (SELECT DISTINCT day FROM d)
SELECT g.day, CAST(count(DISTINCT d.user_id) AS BIGINT) AS active_7d
FROM g JOIN d ON d.day BETWEEN g.day - 6 AND g.day
GROUP BY g.day
"""


@register("active_users_7d", sql=_ACTIVE7_SQL)
def _q_active_users_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day DISTINCT active users per day — the sliding
    DISTINCT no window frame can express (COUNT(DISTINCT) OVER RANGE
    is unsupported in every engine).  The scale shape: dedupe to
    (user, day) once, explode each row to the <=7 window-days it
    contributes to (in-row sequence — x7 fan-out of the already-tiny
    distinct set, NOT of the raw events), keep real days via a
    broadcast semi-join, and one distinct-count per window-day.  The
    oracle is the quadratic-ish range self-join definition."""
    e = load_table(spark, sf_dir, "events")
    day = F.floor(F.unix_micros(F.col("ts")) / F.lit(86400000000.0)) \
        .cast("bigint")
    d = e.select("user_id", day.alias("day")).distinct()
    days = d.select("day").distinct()
    expanded = d.select(
        "user_id",
        F.explode(F.sequence(F.col("day"),
                             F.col("day") + F.lit(6))).alias("day"))
    return (expanded.join(F.broadcast(days), "day", "left_semi")
            .groupBy("day")
            .agg(F.countDistinct("user_id").cast("bigint")
                 .alias("active_7d")))


_DOW_SQL = """
SELECT CAST(isodow(CAST(ts AS TIMESTAMP)) AS BIGINT) AS dow,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(CAST(SUM(CAST(value AS DECIMAL(32,6))) AS DOUBLE), 2)
           AS total_value
FROM events GROUP BY 1, 2
"""


@register("events_dow_profile", sql=_DOW_SQL)
def _q_events_dow_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile per event type.  ISO weekday
    (Mon=1..Sun=7) on both engines — Spark's ``weekday`` (Mon=0) + 1
    vs DuckDB's ``isodow`` — because the engines' default ``dayofweek``
    numberings disagree; DECIMAL-accumulated totals as everywhere."""
    e = load_table(spark, sf_dir, "events")
    return (e.groupBy((F.weekday("ts") + F.lit(1)).cast("bigint")
                      .alias("dow"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum(F.col("value").cast("decimal(32,6)"))
                         .cast("double"), 2).alias("total_value")))


# --------------------------------------------------------------------------
# JSON property extraction
# --------------------------------------------------------------------------

_PROPS_SQL = """
SELECT event_type,
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
         AS sum_k,
       CAST(count(DISTINCT CAST(json_extract(props, '$.k') AS BIGINT))
            AS BIGINT) AS n_distinct_k,
       CAST(count(*) AS BIGINT) AS n_events
FROM events GROUP BY event_type
"""


@register("event_props_json", sql=_PROPS_SQL)
def _q_event_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate over a JSON property column: `get_json_object` stays
    in the JVM (codegen'd Jayway path evaluation — never a Python
    UDF), and the extracted integers aggregate exactly.  At scale,
    extract-then-aggregate beats parse-whole-document `from_json`
    when only one key is needed — the path evaluator short-circuits."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (e.select("event_type", k.alias("k"))
            .groupBy("event_type")
            .agg(F.sum("k").alias("sum_k"),
                 F.count_distinct("k").alias("n_distinct_k"),
                 F.count(F.lit(1)).alias("n_events")))


# --------------------------------------------------------------------------
# groupBy().pivot() wide daily counts
# --------------------------------------------------------------------------

_EVENT_TYPES = ("view", "click", "signup", "purchase", "error")

_PIVOT_SQL = """
SELECT CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 86400000000.0)
            AS BIGINT) AS day,
       CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT)
         AS view,
       CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT)
         AS click,
       CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT)
         AS signup,
       CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
         AS purchase,
       CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT)
         AS error
FROM events GROUP BY 1
"""


@register("pivot_event_counts", sql=_PIVOT_SQL)
def _q_pivot_event_counts(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """Long->wide reshaping with `groupBy().pivot()`: one day row,
    one column per event type.  The pivot value list is EXPLICIT —
    with it, Spark skips the extra distinct-values job AND the output
    schema is stable (exactly what a 100-TB pipeline needs; an
    inferred pivot is a full scan plus a nondeterministic column
    set).  The pivot itself is a single map-combinable aggregation —
    same shuffle as the oracle's conditional-count formulation."""
    e = load_table(spark, sf_dir, "events")
    day = F.floor(F.unix_micros(F.col("ts").cast("timestamp"))
                  / F.lit(86400000000.0)).cast("long")
    wide = (e.select(day.alias("day"), "event_type")
            .groupBy("day")
            .pivot("event_type", list(_EVENT_TYPES))
            .agg(F.count(F.lit(1)))
            .na.fill(0, list(_EVENT_TYPES)))
    return wide.select("day", *[F.col(c).cast("long").alias(c)
                                for c in _EVENT_TYPES])


# --------------------------------------------------------------------------
# Per-user modal event type
# --------------------------------------------------------------------------

_MODE_SQL = """
WITH cnt AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY user_id, event_type),
r AS (
  SELECT *, row_number() OVER
       (PARTITION BY user_id ORDER BY n DESC, event_type) AS rn
  FROM cnt)
SELECT user_id, event_type AS top_event, n AS n_events
FROM r WHERE rn = 1
"""


@register("mode_event_per_user", sql=_MODE_SQL)
def _q_mode_event_per_user(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Statistical mode per group with a DETERMINISTIC tie-break
    (count desc, then type asc) — engines' built-in mode() functions
    disagree on ties, so the portable formulation is count + window.
    Both the count groupBy and the rank window hash on user_id: AQE
    coalesces them into one exchange."""
    e = load_table(spark, sf_dir, "events")
    cnt = (e.groupBy("user_id", "event_type")
           .agg(F.count(F.lit(1)).alias("n")))
    w = Window.partitionBy("user_id") \
        .orderBy(F.col("n").desc(), "event_type")
    return (cnt.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", F.col("event_type").alias("top_event"),
                    F.col("n").alias("n_events")))


# --------------------------------------------------------------------------
# Exact integer decayed sum (EWMA with alpha = 1/2)
# --------------------------------------------------------------------------

_DECAY_SQL = """
WITH v AS (
  SELECT user_id, event_id,
         CAST(floor(value * 10000) AS BIGINT) AS s,
         row_number() OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events)
SELECT a.user_id, a.event_id,
       CAST(SUM(b.s * CAST(pow(2, b.rn - greatest(1, a.rn - 7))
                           AS BIGINT)) AS BIGINT) AS decay_sum
FROM v a JOIN v b
  ON a.user_id = b.user_id AND b.rn BETWEEN a.rn - 7 AND a.rn
GROUP BY a.user_id, a.event_id
"""


DECAY_FRAME = 8


def decay_sum_frame(e: DataFrame) -> DataFrame:
    """Core of events_decay_sum over any (user_id, ts, event_id,
    value) frame — shared by the batch query, the streaming twin
    (streaming/windowed.stream_decay_sum) and the brute-force
    property test."""
    # NULL values contribute 0, exactly like the oracle: its SUM skips
    # the NULL term while the row still occupies its rn position.
    # Without the coalesce, collect_list would DROP the null (shifting
    # every weight in the frame) and the fold would go NULL-absorbing.
    s = F.coalesce(F.floor(F.col("value") * 10000).cast("long"),
                   F.lit(0).cast("long"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id") \
        .rowsBetween(-(DECAY_FRAME - 1), 0)
    lst = F.collect_list(s).over(w)
    decay = F.aggregate(F.reverse(lst), F.lit(0).cast("long"),
                        lambda acc, x: acc * 2 + x)
    return e.select("user_id", "event_id", decay.alias("decay_sum"))


@register("events_decay_sum", sql=_DECAY_SQL)
def _q_events_decay_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted activity (EWMA, alpha=1/2) over each user's
    trailing 8 events, EXACTLY: values floor-scale to integers and the
    power-of-two weights make the weighted sum pure integer arithmetic
    — no float accumulation order to disagree on.  Spark computes it
    as a Horner fold over a frame-ordered collect_list window (ONE
    shuffle on user_id, newest-first: acc*2 + x); the oracle has to
    say the same thing with a quadratic-ish self-join — the window
    fold is the scale path, the join is the spec."""
    return decay_sum_frame(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# EXCEPT-based churn set
# --------------------------------------------------------------------------

_EXCEPT_SQL = """
SELECT o_custkey AS c_custkey
FROM {orders} WHERE o_orderdate < TIMESTAMP '1997-01-01'
EXCEPT
SELECT o_custkey FROM {orders}
WHERE o_orderdate >= TIMESTAMP '2000-01-01'
"""


@register("set_except_churned", sql=_EXCEPT_SQL.format(orders="orders"))
def _q_set_except_churned(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """Churned customers as set algebra: ordered before 1997, never
    ordered from 2000 on.  EXCEPT [DISTINCT] plans as aggregate +
    left-anti join — both sides prune to the single o_custkey column
    at the scan (ReadSchema: one field), so the shuffle carries keys
    only."""
    o = _view(spark, sf_dir, "orders", "exc")
    return spark.sql(_EXCEPT_SQL.format(orders=o))


# --------------------------------------------------------------------------
# OHLC time bars (min_by / max_by selection aggregates)
# --------------------------------------------------------------------------

_OHLC_SQL = """
WITH t AS (
  SELECT event_type,
         CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 3600000000.0)
              AS BIGINT) AS bar,
         value, ts, event_id FROM events),
r AS (
  SELECT *,
    row_number() OVER (PARTITION BY event_type, bar
                       ORDER BY ts, event_id) AS rna,
    row_number() OVER (PARTITION BY event_type, bar
                       ORDER BY ts DESC, event_id DESC) AS rnd
  FROM t)
SELECT event_type, bar,
  CAST(floor(MAX(CASE WHEN rna=1 THEN value END)*10000) AS BIGINT)
    AS open_e4,
  CAST(floor(MAX(value)*10000) AS BIGINT) AS high_e4,
  CAST(floor(MIN(value)*10000) AS BIGINT) AS low_e4,
  CAST(floor(MAX(CASE WHEN rnd=1 THEN value END)*10000) AS BIGINT)
    AS close_e4,
  CAST(count(*) AS BIGINT) AS n_events
FROM r GROUP BY event_type, bar
"""


@register("events_ohlc_bars", sql=_OHLC_SQL)
def _q_events_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars per event type — the canonical time-series
    downsample.  Spark uses `min_by`/`max_by` keyed on the unique
    (ts, event_id) struct: ONE map-combinable aggregation (selection
    partials merge like any min/max), no window sort anywhere — at
    100 TB that is a single keys+4-doubles shuffle.  The oracle needs
    two row_number windows to say the same thing; (ts, event_id)
    uniqueness makes both formulations pick identical rows, and
    open/high/low/close are pure SELECTION (no arithmetic), so the
    floor-scaled outputs are bit-exact."""
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    ordk = F.struct(us.alias("us"), F.col("event_id"))
    t = e.select(
        "event_type",
        F.floor(us / F.lit(3600000000.0)).cast("long").alias("bar"),
        "value", ordk.alias("k"))
    g = (t.groupBy("event_type", "bar")
         .agg(F.min_by("value", F.col("k")).alias("o"),
              F.max("value").alias("h"),
              F.min("value").alias("lo"),
              F.max_by("value", F.col("k")).alias("c"),
              F.count(F.lit(1)).alias("n_events")))
    e4 = (lambda c, n: F.floor(F.col(c) * 10000).cast("long").alias(n))
    return g.select("event_type", "bar", e4("o", "open_e4"),
                    e4("h", "high_e4"), e4("lo", "low_e4"),
                    e4("c", "close_e4"), "n_events")


# --------------------------------------------------------------------------
# Event-sequence transition counts (Markov bigrams)
# --------------------------------------------------------------------------

_TRANSITIONS_SQL = """
WITH seq AS (
    SELECT user_id, event_type,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS next_type
    FROM events)
SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n_transitions
FROM seq
WHERE next_type IS NOT NULL
GROUP BY 1, 2
"""


@register("event_transition_counts", sql=_TRANSITIONS_SQL)
def _q_event_transition_counts(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Per-user consecutive event-type bigram counts — the Markov
    transition matrix behavioral modeling and sequence-data prep both
    start from.  ONE shuffle on user_id for the lead() window (ordered
    by the unique (ts, event_id) key), then a map-combinable groupBy
    whose output is at most |types|² rows — the second exchange is
    negligible at any scale.  NULL next_type (each user's last event)
    is dropped identically on both engines."""
    ev = load_table(spark, sf_dir, "events", fan_out=False)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (ev.select("event_type",
                      F.lead("event_type").over(w).alias("next_type"))
            .filter(F.col("next_type").isNotNull())
            .groupBy("event_type", "next_type")
            .agg(F.count(F.lit(1)).alias("n_transitions")))


# --------------------------------------------------------------------------
# Sweep-line: per-day maximum session concurrency
# --------------------------------------------------------------------------

_DAY_US = 86_400_000_000

_CONCUR_SQL = f"""
WITH ev AS (
    SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
), iv AS (
    SELECT user_id, us // {_DAY_US} AS day,
           min(us) AS s, max(us) AS e
    FROM ev GROUP BY user_id, us // {_DAY_US}
), pts AS (
    SELECT day, s AS t, 1 AS delta, user_id FROM iv
    UNION ALL
    SELECT day, e AS t, -1 AS delta, user_id FROM iv
), sw AS (
    SELECT day, delta,
           sum(delta) OVER (PARTITION BY day
                            ORDER BY t, delta DESC, user_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS conc
    FROM pts
)
SELECT CAST(day AS BIGINT) AS day,
       CAST(max(conc) AS BIGINT) AS max_concurrent,
       CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_sessions
FROM sw GROUP BY day
"""


@register("max_concurrent_sessions", sql=_CONCUR_SQL)
def _q_max_concurrent_sessions(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Maximum simultaneous active user-sessions per day, by the
    sweep line: each user-day span [first event, last event] becomes
    a +1 start point and a −1 end point; a running sum ordered by
    (time, starts-before-ends, user) is the concurrency curve and its
    max the answer.  All integers — parity is exact.  Scale: the
    sweep window is PARTITIONED BY day, so each day's sweep is an
    independent partition (no global single-partition sort); interval
    extraction is one map-side-combinable groupBy.  The tie order is
    total (user_id is unique within a day-side), so the running sum
    is deterministic; equal-delta swaps cannot change prefix values
    anyway."""
    e = load_table(spark, sf_dir, "events")
    ev = e.select("user_id", F.unix_micros("ts").alias("us"))
    iv = (ev.withColumn("day", F.expr(f"us div {_DAY_US}"))
          .groupBy("user_id", "day")
          .agg(F.min("us").alias("s"), F.max("us").alias("e")))
    pts = (iv.select("day", F.col("s").alias("t"),
                     F.lit(1).alias("delta"), "user_id")
           .unionByName(
               iv.select("day", F.col("e").alias("t"),
                         F.lit(-1).alias("delta"), "user_id")))
    w = (Window.partitionBy("day")
         .orderBy(F.col("t").asc(), F.col("delta").desc(),
                  F.col("user_id").asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    sw = pts.withColumn("conc", F.sum("delta").over(w))
    return (sw.groupBy(F.col("day").cast("bigint").alias("day"))
            .agg(F.max("conc").cast("bigint").alias("max_concurrent"),
                 F.sum(F.when(F.col("delta") == 1, 1).otherwise(0))
                 .cast("bigint").alias("n_sessions")))


# --------------------------------------------------------------------------
# Chi-square contingency cells: event type x ISO weekday
# --------------------------------------------------------------------------

_CHISQ_SQL = """
WITH cell AS (
    SELECT event_type,
           CAST(isodow(CAST(ts AS TIMESTAMP)) AS BIGINT) AS dow,
           count(*) AS o
    FROM events GROUP BY event_type, CAST(isodow(CAST(ts AS TIMESTAMP)) AS BIGINT)
), m AS (
    SELECT event_type, dow, o,
           sum(o) OVER (PARTITION BY event_type) AS r,
           sum(o) OVER (PARTITION BY dow) AS c,
           sum(o) OVER () AS g
    FROM cell
)
SELECT event_type, dow,
       CAST(o AS BIGINT) AS observed,
       round(CAST(r * c AS DOUBLE) / CAST(g AS DOUBLE), 6) AS expected,
       round((CAST(o AS DOUBLE) - CAST(r * c AS DOUBLE) / CAST(g AS DOUBLE))
             / sqrt(CAST(r * c AS DOUBLE) / CAST(g AS DOUBLE)), 6)
           AS residual
FROM m
"""


@register("event_chisq_cells", sql=_CHISQ_SQL)
def _q_event_chisq_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Independence screen for event-type × ISO-weekday: per-cell
    expected count under independence (row·col/grand) and the
    standardized residual (o−e)/√e — the per-cell evidence a χ²
    test sums.  Emitted per cell rather than as the χ² scalar so
    every number is an IEEE-exact op chain (integer marginal
    products, one division, correctly-rounded sqrt, one more
    division) — an unordered float SUM across cells would not be
    bit-reproducible, per-cell values are.  Scale: ONE map-side
    combinable groupBy onto |types|·7 cells; the marginal windows run
    over that tiny aggregated frame, not the fact table.  ISO weekday
    = Spark ``weekday()+1`` ≡ DuckDB ``isodow`` (the engines' default
    dayofweek numberings disagree — established idiom from
    events_dow_profile)."""
    e = load_table(spark, sf_dir, "events")
    cell = (e.groupBy("event_type",
                      (F.weekday("ts") + F.lit(1)).cast("bigint")
                      .alias("dow"))
            .agg(F.count(F.lit(1)).alias("o")))
    m = cell.select(
        "event_type", "dow", "o",
        F.sum("o").over(Window.partitionBy("event_type")).alias("r"),
        F.sum("o").over(Window.partitionBy("dow")).alias("c"),
        F.sum("o").over(Window.partitionBy()).alias("g"))
    e_exp = (F.col("r") * F.col("c")).cast("double") \
        / F.col("g").cast("double")
    return m.select(
        "event_type", "dow",
        F.col("o").cast("bigint").alias("observed"),
        F.round(e_exp, 6).alias("expected"),
        F.round((F.col("o").cast("double") - e_exp) / F.sqrt(e_exp), 6)
         .alias("residual"))


# --------------------------------------------------------------------------
# Linear-interpolation resampling onto a 3-hour grid
# --------------------------------------------------------------------------

_INTERP_STEP = 10_800_000_000  # 3 h in microseconds

_INTERP_SQL = f"""
WITH ev AS (
    SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
           value, event_id
    FROM events
), evu AS (
    SELECT user_id, us, arg_max(value, event_id) AS v
    FROM ev GROUP BY user_id, us
), seg AS (
    SELECT user_id, us, v,
           lead(us) OVER (PARTITION BY user_id ORDER BY us) AS next_us,
           lead(v) OVER (PARTITION BY user_id ORDER BY us) AS next_v
    FROM evu
), spans AS (
    SELECT user_id,
           (min(us) + {_INTERP_STEP} - 1) // {_INTERP_STEP} AS g0,
           max(us) // {_INTERP_STEP} AS g1
    FROM evu GROUP BY user_id
), grid AS (
    SELECT user_id,
           unnest(generate_series(g0, g1)) * {_INTERP_STEP} AS grid_us
    FROM spans WHERE g1 >= g0
)
SELECT g.user_id, g.grid_us,
       s.us AS prev_us, s.next_us,
       round(s.v + (s.next_v - s.v)
             * (CAST(g.grid_us - s.us AS DOUBLE)
                / CAST(s.next_us - s.us AS DOUBLE)), 6) AS value_interp
FROM grid g
JOIN seg s ON g.user_id = s.user_id
          AND g.grid_us >= s.us AND g.grid_us < s.next_us
"""


@register("events_interpolate_linear", sql=_INTERP_SQL)
def _q_events_interpolate_linear(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Time-series resampling with LINEAR interpolation onto a
    3-hour grid — ``events_resample_locf``'s missing twin: each grid
    point inside a known segment [pᵢ, pᵢ₊₁) gets
    vᵢ + (vᵢ₊₁−vᵢ)·(t−tᵢ)/(tᵢ₊₁−tᵢ).  Spark composes it from the
    as-of join: a lead() window turns the deduplicated feed into
    segments carrying their own next-point, the backward non-strict
    asof lands every grid point on its segment start, and the
    ``grid < next_us`` filter closes the half-open interval — one
    shuffle for the segments, one inside the asof, NO range join (a
    range join on Spark degenerates to broadcast-nested-loop; the
    oracle states the range-join semantics and equality proves the
    asof rewrite).  Timestamp deltas fit doubles exactly (< 2⁵³ µs),
    so the interpolation is the same single-rounding op chain on
    both engines."""
    from ..operators.joins import asof_join

    step = _INTERP_STEP
    e = load_table(spark, sf_dir, "events")
    ev = e.select("user_id", F.unix_micros("ts").alias("us"),
                  "value", "event_id")
    evu = ev.groupBy("user_id", "us").agg(
        F.max_by("value", "event_id").alias("v"))
    wl = Window.partitionBy("user_id").orderBy("us")
    seg = evu.select("user_id", "us", "v",
                     F.lead("us").over(wl).alias("next_us"),
                     F.lead("v").over(wl).alias("next_v"))
    spans = evu.groupBy("user_id").agg(
        F.expr(f"(min(us) + {step} - 1) div {step}").alias("g0"),
        F.expr(f"max(us) div {step}").alias("g1"))
    grid = (spans.filter(F.col("g1") >= F.col("g0"))
            .select("user_id",
                    F.explode(F.sequence("g0", "g1")).alias("__g"))
            .select("user_id", (F.col("__g") * step).alias("grid_us")))
    out = asof_join(grid, seg, ["user_id"], left_ts="grid_us",
                    right_ts="us", right_vals=["v", "next_us", "next_v"],
                    strict=False)
    frac = (F.col("grid_us") - F.col("matched_ts")).cast("double") \
        / (F.col("next_us") - F.col("matched_ts")).cast("double")
    return (out.filter(F.col("grid_us") < F.col("next_us"))
            .select("user_id", "grid_us",
                    F.col("matched_ts").alias("prev_us"), "next_us",
                    F.round(F.col("v")
                            + (F.col("next_v") - F.col("v")) * frac, 6)
                    .alias("value_interp")))


# --------------------------------------------------------------------------
# Rolling 7-day Pearson correlation of daily click vs purchase volume
# --------------------------------------------------------------------------

_CORR_WIN = 6  # RANGE 6 preceding + current day = 7-day trailing window

_ROLLCORR_SQL = f"""
WITH daily AS (
    SELECT epoch_us(CAST(ts AS TIMESTAMP)) // {_DAY_US} AS day,
           sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
           sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
    FROM events
    WHERE event_type IN ('click', 'purchase')
    GROUP BY epoch_us(CAST(ts AS TIMESTAMP)) // {_DAY_US}
), m AS (
    SELECT day, x, y,
           count(*) OVER w AS n,
           sum(x) OVER w AS sx,   sum(y) OVER w AS sy,
           sum(x * x) OVER w AS sxx, sum(y * y) OVER w AS syy,
           sum(x * y) OVER w AS sxy
    FROM daily
    WINDOW w AS (ORDER BY day
                 RANGE BETWEEN {_CORR_WIN} PRECEDING AND CURRENT ROW)
)
SELECT CAST(day AS BIGINT) AS day,
       CAST(x AS BIGINT) AS n_clicks,
       CAST(y AS BIGINT) AS n_purchases,
       CAST(n AS BIGINT) AS n_days,
       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
            THEN round(CAST(n * sxy - sx * sy AS DOUBLE)
                       / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                          * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
            END AS corr_7d
FROM m
"""


@register("rolling_corr_counts_7d", sql=_ROLLCORR_SQL)
def _q_rolling_corr_counts_7d(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Trailing 7-day Pearson correlation between daily click volume
    and daily purchase volume — the co-movement monitor behind
    "are purchases tracking traffic this week?".  Formulated on
    integer daily COUNTS so every moment (Σx, Σx², Σxy over the
    frame) is exact bigint arithmetic; only the final
    (nΣxy−ΣxΣy)/(√(nΣxx−Σx²)·√(nΣyy−Σy²)) chain touches floats —
    integer casts, two correctly-rounded sqrts, one multiply, one
    divide, identical textual order on both engines.  Zero-variance
    frames yield NULL via an INTEGER guard (never a float compare).
    The frame is RANGE over the integer day index, so calendar gaps
    shorten the window instead of silently stretching it.  Scale:
    one map-side combinable groupBy collapses the fact table to
    |days| rows; the window runs over that tiny frame (partition by
    coarser calendar units — month — if |days| ever mattered)."""
    e = load_table(spark, sf_dir, "events") \
        .filter(F.col("event_type").isin("click", "purchase"))
    daily = (e.select(F.expr(f"unix_micros(ts) div {_DAY_US}")
                      .alias("day"), "event_type")
             .groupBy("day")
             .agg(F.sum(F.when(F.col("event_type") == "click", 1)
                        .otherwise(0)).alias("x"),
                  F.sum(F.when(F.col("event_type") == "purchase", 1)
                        .otherwise(0)).alias("y")))
    w = (Window.orderBy("day")
         .rangeBetween(-_CORR_WIN, Window.currentRow))
    m = daily.select(
        "day", "x", "y",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"))
    cov_n = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    varx_n = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary_n = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return m.select(
        F.col("day").cast("bigint").alias("day"),
        F.col("x").cast("bigint").alias("n_clicks"),
        F.col("y").cast("bigint").alias("n_purchases"),
        F.col("n").cast("bigint").alias("n_days"),
        F.when((varx_n > 0) & (vary_n > 0),
               F.round(cov_n.cast("double")
                       / (F.sqrt(varx_n.cast("double"))
                          * F.sqrt(vary_n.cast("double"))), 6))
        .alias("corr_7d"))


# --------------------------------------------------------------------------
# Gini impurity of per-user event-type mixes
# --------------------------------------------------------------------------

_GINI_IMP_SQL = """
WITH c AS (
    SELECT user_id, event_type, COUNT(*) AS cnt
    FROM events GROUP BY 1, 2
), m AS (
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(cnt) AS BIGINT) AS n_events,
           CAST(SUM(cnt * cnt) AS BIGINT) AS sumsq
    FROM c GROUP BY 1
)
SELECT user_id, n_types, n_events,
       round(1.0 - sumsq * 1.0 / (n_events * n_events), 6) AS gini_impurity
FROM m
"""


@register("event_type_gini", sql=_GINI_IMP_SQL)
def _q_event_type_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini impurity (1 − Σp_i²) of each user's event-type mix — the
    'how specialized is this user' score, and deliberately the
    ENTROPY-free diversity measure: it reduces to integer moments
    (Σc_i², N) plus one division, so parity is arithmetic identity
    rather than cross-engine ln() luck.  Two map-side-combinable
    groupBys, the second over ≤|users|·|types| rows; no window, no
    self-join.  At 100 TB both aggregations partial-combine and the
    final state is one small row per user."""
    e = load_table(spark, sf_dir, "events")
    c = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt"))
    m = c.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum("cnt").cast("bigint").alias("n_events"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("bigint").alias("sumsq"))
    gini = F.round(
        F.lit(1.0) - F.col("sumsq") * 1.0
        / (F.col("n_events") * F.col("n_events")), 6)
    return m.select("user_id", "n_types", "n_events",
                    gini.alias("gini_impurity"))


# --------------------------------------------------------------------------
# CUSUM changepoint scan over daily event counts
# --------------------------------------------------------------------------

_CUSUM_SQL = f"""
WITH d AS (
    SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // {_DAY_US} AS day,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events GROUP BY 1, 2
), s AS (
    SELECT event_type, day, cnt,
           CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
               AS n_days,
           CAST(SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS t,
           CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY day
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS BIGINT)
               AS cum,
           CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
                AS BIGINT) AS k
    FROM d
), dev AS (
    SELECT event_type, day, n_days, t,
           abs(n_days * cum - k * t) AS d_scaled,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY abs(n_days * cum - k * t) DESC,
                                       day ASC) AS r
    FROM s
)
SELECT event_type, CAST(day AS BIGINT) AS cp_day,
       CAST(d_scaled AS BIGINT) AS max_dev_scaled,
       n_days, t AS total_events
FROM dev WHERE r = 1
"""


@register("cusum_changepoint", sql=_CUSUM_SQL)
def _q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint scan per event type: the day k maximizing
    |Σ_{i≤k}c_i − k·mean| over the ordered daily counts — the
    level-shift detector.  The deviation is kept integer by scaling
    with n_days (s_k = n·cum_k − k·T), so the argmax and the reported
    maximum are exact; mean-relative CUSUM in float would make parity
    depend on division order.  Ties break to the earliest day.

    Scale: daily pre-aggregation is map-side combinable (the shuffle
    carries (type, day) cells, not events); every window partitions
    by event_type over the TINY aggregated frame (≤ types × days
    rows).  The same two-window cascade (running stats, then rank on
    the statistic) is the general changepoint-scan shape."""
    e = load_table(spark, sf_dir, "events")
    d = (e.select("event_type",
                  F.expr(f"unix_micros(ts) div {_DAY_US}").alias("day"))
         .groupBy("event_type", "day")
         .agg(F.count(F.lit(1)).cast("bigint").alias("cnt")))
    wp = Window.partitionBy("event_type")
    wc = wp.orderBy("day").rowsBetween(Window.unboundedPreceding,
                                       Window.currentRow)
    s = (d.withColumn("n_days", F.count(F.lit(1)).over(wp).cast("bigint"))
         .withColumn("t", F.sum("cnt").over(wp).cast("bigint"))
         .withColumn("cum", F.sum("cnt").over(wc).cast("bigint"))
         .withColumn("k", F.row_number().over(wp.orderBy("day"))
                     .cast("bigint")))
    dev = F.abs(F.col("n_days") * F.col("cum") - F.col("k") * F.col("t"))
    ranked = s.withColumn("d_scaled", dev).withColumn(
        "r", F.row_number().over(
            wp.orderBy(F.desc("d_scaled"), F.asc("day"))))
    return (ranked.filter(F.col("r") == 1)
            .select("event_type", F.col("day").cast("bigint")
                    .alias("cp_day"),
                    F.col("d_scaled").cast("bigint")
                    .alias("max_dev_scaled"),
                    "n_days", F.col("t").alias("total_events")))


# --------------------------------------------------------------------------
# Top user journeys: first-5 event-type paths
# --------------------------------------------------------------------------

_PATH_STEPS = 5
_PATH_K = 10

_PATH_SQL = f"""
WITH r AS (
    SELECT user_id, event_type,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS rn
    FROM events
), p AS (
    SELECT user_id,
           string_agg(event_type, '>' ORDER BY rn) AS path
    FROM r WHERE rn <= {_PATH_STEPS} GROUP BY user_id
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
FROM p GROUP BY path
ORDER BY n_users DESC, path ASC
LIMIT {_PATH_K}
"""


@register("event_path_topk", sql=_PATH_SQL)
def _q_event_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user journeys: each user's first {steps} event types in
    (ts, event_id) order joined into a path string, counted, top-k by
    (count desc, path asc).  The product-analytics 'common flows'
    report.

    Scale: ONE shuffle by user (the row_number window); the path
    build is an in-row sort of ≤{steps} structs (collect_list of the
    already-filtered prefix — state is bounded by the rank filter,
    never the user's full history); the path groupBy is map-side
    combinable and TakeOrdered replaces a global sort for the
    top-k."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    r = (e.select("user_id", "event_type", "ts", "event_id")
         .withColumn("rn", F.row_number().over(w))
         .filter(F.col("rn") <= _PATH_STEPS))
    p = (r.groupBy("user_id")
         .agg(F.array_join(
             F.transform(
                 F.array_sort(F.collect_list(
                     F.struct(F.col("rn"), F.col("event_type")))),
                 lambda x: x["event_type"]),
             ">").alias("path")))
    return (p.groupBy("path")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
            .orderBy(F.desc("n_users"), F.asc("path"))
            .limit(_PATH_K))


# --------------------------------------------------------------------------
# Time-bounded conversion funnel: view -> purchase within 7 days
# --------------------------------------------------------------------------

_CONV_SQL = f"""
WITH v AS (
    SELECT user_id, min(ts) AS vt
    FROM events WHERE event_type = 'view' GROUP BY user_id
), u AS (
    SELECT v.user_id,
           epoch_us(CAST(v.vt AS TIMESTAMP)) // {_DAY_US} AS cohort_day,
           max(CASE WHEN p.ts IS NOT NULL THEN 1 ELSE 0 END) AS conv
    FROM v LEFT JOIN events p
      ON p.user_id = v.user_id AND p.event_type = 'purchase'
     AND p.ts > v.vt AND p.ts <= v.vt + INTERVAL 7 DAY
    GROUP BY 1, 2
)
SELECT CAST(cohort_day AS BIGINT) AS cohort_day,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(conv) AS BIGINT) AS n_converted,
       round(SUM(conv) * 1.0 / COUNT(*), 6) AS conversion
FROM u GROUP BY 1
"""


@register("conversion_within_7d", sql=_CONV_SQL)
def _q_conversion_within_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deadline funnel: of users whose first 'view' fell on day D, how
    many made a 'purchase' within 7 days of it — conversion with a
    time budget, which the plain ordered-EXISTS funnel cannot express.
    Cohorted by first-view day.

    Scale: first-view is a map-side-combinable min; the deadline
    check is a user-keyed join against ONLY the purchase slice
    (filter pushed to the scan), re-aggregated per user before the
    tiny cohort rollup, so purchase multiplicity never reaches the
    output.  The user-keyed shuffle is the one real exchange; both
    sides arrive partitioned by the same key."""
    e = load_table(spark, sf_dir, "events")
    v = (e.filter(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("ts").alias("vt")))
    p = (e.filter(F.col("event_type") == "purchase")
         .select(F.col("user_id").alias("p_user"), F.col("ts")
                 .alias("pt")))
    j = v.join(
        p, (F.col("p_user") == F.col("user_id"))
        & (F.col("pt") > F.col("vt"))
        & (F.col("pt") <= F.col("vt") + F.expr("INTERVAL 7 DAYS")),
        "left")
    u = (j.groupBy("user_id",
                   F.expr(f"unix_micros(vt) div {_DAY_US}")
                   .alias("cohort_day"))
         .agg(F.max(F.when(F.col("pt").isNotNull(), 1).otherwise(0))
              .alias("conv")))
    return (u.groupBy(F.col("cohort_day").cast("bigint")
                      .alias("cohort_day"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"),
                 F.sum("conv").cast("bigint").alias("n_converted"),
                 F.round(F.sum("conv") * 1.0 / F.count(F.lit(1)), 6)
                 .alias("conversion")))


# --------------------------------------------------------------------------
# Exact discrete gap quantiles per event type
# --------------------------------------------------------------------------

_GAP_SQL = """
WITH o AS (
    SELECT event_type, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
           lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts, event_id) AS prev
    FROM events
), r AS (
    SELECT event_type, gap,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY gap, user_id, us) AS rn,
           CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
    FROM (SELECT event_type, user_id, us, us - prev AS gap
          FROM o WHERE prev IS NOT NULL) t
)
SELECT event_type, CAST(max(n) AS BIGINT) AS n_gaps,
       CAST(min(gap) AS BIGINT) AS min_gap_us,
       CAST(max(CASE WHEN rn = (n + 1) // 2 THEN gap END) AS BIGINT)
           AS median_gap_us,
       CAST(max(CASE WHEN rn = (9 * n + 9) // 10 THEN gap END) AS BIGINT)
           AS p90_gap_us,
       CAST(max(gap) AS BIGINT) AS max_gap_us
FROM r GROUP BY event_type
"""


@register("session_gap_stats", sql=_GAP_SQL)
def _q_session_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap distribution per event type: min, LOW-median,
    discrete p90, and max of the microsecond gaps between consecutive
    same-user same-type events.  Quantiles are DISCRETE order
    statistics selected by row_number against the partition count
    ((n+1)//2 and ceil(0.9n) = (9n+9)//10), so every reported value
    is an actual gap — integer parity, no interpolation ambiguity.

    Scale: the lag window shuffles by (user, type) — fine-grained
    keys; the rank window re-shuffles by type only over the already-
    reduced gap rows.  A 5-type partition count is the honest skew
    caveat: at 100 TB the per-type rank would use the two-pass
    histogram quantile (value_percentiles' approach) instead of a
    5-partition sort; the windows here pin the exact semantics that
    approximation must converge to."""
    e = load_table(spark, sf_dir, "events")
    # us = unix_micros(ts) is order-isomorphic to ts, so ordering the
    # lag by (us, event_id) matches the oracle's (ts, event_id).
    o = (e.select("event_type", "user_id", "event_id",
                  F.unix_micros("ts").alias("us"))
         .withColumn("prev", F.lag("us").over(
             Window.partitionBy("user_id", "event_type")
             .orderBy("us", "event_id"))))
    g = (o.filter(F.col("prev").isNotNull())
         .select("event_type", "user_id", "us",
                 (F.col("us") - F.col("prev")).alias("gap")))
    wr = Window.partitionBy("event_type").orderBy("gap", "user_id", "us")
    wp = Window.partitionBy("event_type")
    r = (g.withColumn("rn", F.row_number().over(wr))
         .withColumn("n", F.count(F.lit(1)).over(wp).cast("bigint")))
    return r.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n_gaps"),
        F.min("gap").cast("bigint").alias("min_gap_us"),
        F.max(F.when(F.col("rn") == F.expr("(n + 1) div 2"),
                     F.col("gap"))).cast("bigint")
         .alias("median_gap_us"),
        F.max(F.when(F.col("rn") == F.expr("(9 * n + 9) div 10"),
                     F.col("gap"))).cast("bigint")
         .alias("p90_gap_us"),
        F.max("gap").cast("bigint").alias("max_gap_us"))


# --------------------------------------------------------------------------
# Streaming windowed top-k event types
# --------------------------------------------------------------------------

_STREAM_TOPK_SQL = """
WITH c AS (
    SELECT time_bucket(INTERVAL 6 HOURS, CAST(ts AS TIMESTAMP))
               AS window_start,
           event_type, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1, 2
), r AS (
    SELECT window_start, event_type, n_events,
           CAST(row_number() OVER (PARTITION BY window_start
                              ORDER BY n_events DESC, event_type ASC)
                AS BIGINT) AS rnk
    FROM c
)
SELECT window_start, event_type, n_events, rnk
FROM r WHERE rnk <= 3
"""


@register("stream_windowed_topk", sql=_STREAM_TOPK_SQL)
def _q_stream_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming leaderboard (streaming/windowed.stream_windowed_topk):
    tumbling 6-hour windows over the event stream, watermark-bounded
    count state (one row per window × type — never raw events), run
    to completion with availableNow; rank-at-read gives the top-3 per
    window with a deterministic tie-break, hash-equal to the batch
    oracle."""
    from ..streaming.windowed import stream_windowed_topk
    return stream_windowed_topk(spark, sf_dir, hours=6, k=3)


# --------------------------------------------------------------------------
# Marketing attribution: first- and last-touch credit per channel
# --------------------------------------------------------------------------

_ATTR_SQL = """
WITH t AS (
    SELECT user_id, ts, event_id, event_type,
           first_value(CASE WHEN event_type <> 'purchase'
                            THEN event_type END IGNORE NULLS)
               OVER w AS ft,
           last_value(CASE WHEN event_type <> 'purchase'
                           THEN event_type END IGNORE NULLS)
               OVER w AS lt
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), p AS (
    SELECT ft, lt FROM t
    WHERE event_type = 'purchase' AND ft IS NOT NULL
), f AS (SELECT ft AS touch_type, CAST(count(*) AS BIGINT) AS n_first
         FROM p GROUP BY ft),
l AS (SELECT lt AS touch_type, CAST(count(*) AS BIGINT) AS n_last
      FROM p GROUP BY lt),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM p)
SELECT COALESCE(f.touch_type, l.touch_type) AS touch_type,
       COALESCE(f.n_first, 0) AS n_first,
       COALESCE(l.n_last, 0) AS n_last,
       round(COALESCE(f.n_first, 0) * 1.0 / tot.n, 6) AS first_share,
       round(COALESCE(l.n_last, 0) * 1.0 / tot.n, 6) AS last_share
FROM f FULL OUTER JOIN l ON f.touch_type = l.touch_type, tot
"""


@register("attribution_touch_credit", sql=_ATTR_SQL)
def _q_attribution_touch_credit(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """First-touch and last-touch attribution: every purchase credits
    (a) the user's earliest and (b) most recent preceding non-purchase
    event type.  Purchases with no preceding touch (the user's first
    event is the purchase) earn no credit and are excluded from the
    denominator — both engines drop the identical rows via the same
    IS NOT NULL predicate on the windowed value.

    Scale: ONE shuffle on user_id serves both IGNORE-NULLS value
    windows (shared frame); credit tables are map-side-combinable
    groupBys onto |event_type| rows, and the full-outer fuse plus the
    1-row total are broadcast joins.  No self-join of the fact table —
    the window formulation replaces the purchases x touches join a
    naive attribution query would shuffle."""
    e = load_table(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    touch = F.when(F.col("event_type") != "purchase",
                   F.col("event_type"))
    p = (e.select(
            "event_type",
            F.first_value(touch, ignoreNulls=True).over(w).alias("ft"),
            F.last_value(touch, ignoreNulls=True).over(w).alias("lt"))
         .filter((F.col("event_type") == "purchase")
                 & F.col("ft").isNotNull()))
    f = (p.groupBy(F.col("ft").alias("touch_type"))
         .agg(F.count(F.lit(1)).cast("bigint").alias("n_first")))
    l = (p.groupBy(F.col("lt").alias("touch_type"))
         .agg(F.count(F.lit(1)).cast("bigint").alias("n_last")))
    tot = p.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    j = (f.join(l, "touch_type", "full")
         .crossJoin(F.broadcast(tot)))
    nf = F.coalesce(F.col("n_first"), F.lit(0).cast("bigint"))
    nl = F.coalesce(F.col("n_last"), F.lit(0).cast("bigint"))
    return j.select(
        "touch_type", nf.alias("n_first"), nl.alias("n_last"),
        F.round(nf * 1.0 / F.col("n"), 6).alias("first_share"),
        F.round(nl * 1.0 / F.col("n"), 6).alias("last_share"))


# --------------------------------------------------------------------------
# Seasonal-naive backtest: |count - count 7 days earlier|
# --------------------------------------------------------------------------

_SNAIVE_SQL = f"""
WITH d AS (
    SELECT event_type,
           epoch_us(CAST(ts AS TIMESTAMP)) // {_DAY_US} AS day,
           CAST(count(*) AS BIGINT) AS c
    FROM events GROUP BY 1, 2
)
SELECT cur.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(abs(cur.c - prev.c)) AS BIGINT) AS total_abs_err,
       CAST(SUM(cur.c - prev.c) AS BIGINT) AS bias,
       round(SUM(abs(cur.c - prev.c)) * 1.0 / COUNT(*), 6) AS mae
FROM d cur JOIN d prev
  ON prev.event_type = cur.event_type AND prev.day = cur.day - 7
GROUP BY 1
"""


@register("seasonal_naive_error", sql=_SNAIVE_SQL)
def _q_seasonal_naive_error(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Backtest of the seasonal-naive forecast (predict today's count
    with the same weekday last week) on daily per-type event counts:
    MAE, total absolute error, and signed bias per event type.  The
    floor every calendar-aware forecast must beat — and a pure-integer
    backtest, so cross-engine parity is arithmetic identity.  Days
    with no 7-days-earlier observation score nothing (inner join), on
    both engines.

    Scale: the daily rollup is one map-side-combinable groupBy onto
    |types| x |days| rows; the lag-7 match is a self-join of that tiny
    aggregate (broadcast at any realistic day count), never of the
    fact table; the final rollup is |types| rows."""
    e = load_table(spark, sf_dir, "events")
    d = (e.groupBy(
            "event_type",
            F.expr(f"unix_micros(cast(ts as timestamp)) div {_DAY_US}")
            .alias("day"))
         .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    cur = d.alias("cur")
    prev = d.select(F.col("event_type").alias("p_type"),
                    F.col("day").alias("p_day"),
                    F.col("c").alias("p_c"))
    j = cur.join(
        F.broadcast(prev),
        (F.col("p_type") == F.col("event_type"))
        & (F.col("p_day") == F.col("day") - 7))
    err = F.col("c") - F.col("p_c")
    return (j.groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_days"),
                 F.sum(F.abs(err)).cast("bigint").alias("total_abs_err"),
                 F.sum(err).cast("bigint").alias("bias"),
                 F.round(F.sum(F.abs(err)) * 1.0 / F.count(F.lit(1)), 6)
                 .alias("mae")))


# --------------------------------------------------------------------------
# Discrete survival table: first order -> second order, right-censored
# --------------------------------------------------------------------------

_BUCKET_DAYS = 90

_SURV_SQL = f"""
WITH r AS (
    SELECT o_custkey, o_orderdate,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey) AS rn
    FROM orders
), c AS (
    SELECT f.o_custkey, f.o_orderdate AS t1, s.o_orderdate AS t2
    FROM (SELECT * FROM r WHERE rn = 1) f
    LEFT JOIN (SELECT * FROM r WHERE rn = 2) s
      ON s.o_custkey = f.o_custkey
), h AS (SELECT max(o_orderdate) AS horizon FROM orders),
d AS (
    SELECT (epoch_us(CAST(COALESCE(t2, horizon) AS TIMESTAMP))
            - epoch_us(CAST(t1 AS TIMESTAMP)))
           // {_DAY_US * _BUCKET_DAYS} AS bucket,
           CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END AS ev
    FROM c, h
), b AS (
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(SUM(ev) AS BIGINT) AS d_k,
           CAST(SUM(1 - ev) AS BIGINT) AS c_k
    FROM d GROUP BY 1
)
SELECT bucket, d_k, c_k,
       CAST(SUM(d_k + c_k) OVER (ORDER BY bucket DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS n_risk,
       round(d_k * 1.0 / SUM(d_k + c_k) OVER (ORDER BY bucket DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
           AS hazard
FROM b
"""


@register("survival_second_order", sql=_SURV_SQL)
def _q_survival_second_order(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Discrete survival (life) table for time from a customer's FIRST
    order to their SECOND, right-censored at the dataset horizon
    (max order date): per 90-day bucket, conversion events d_k,
    censored exits c_k, the at-risk count n_k (everyone who reached
    the bucket), and the discrete hazard d_k/n_k.  This is the
    Kaplan-Meier estimator's input table kept in exact integers — the
    survival PRODUCT Π(1−h_k) is deliberately not emitted because
    exp/ln product chains are not bit-portable across engines, and
    any consumer can fold the (d_k, n_k) columns locally.

    Scale: ranking orders per customer is one shuffle on o_custkey
    (first/second order via row_number, tie-broken by o_orderkey);
    the horizon is a 1-row broadcast; everything after is a groupBy
    onto ≤ ceil(span/90d) buckets and a single-partition window over
    that tiny table (dozens of rows at any corpus scale)."""
    o = load_table(spark, sf_dir, "orders")
    rw = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey")
    r = o.select("o_custkey", "o_orderdate",
                 F.row_number().over(rw).alias("rn"))
    f = r.filter(F.col("rn") == 1).select(
        "o_custkey", F.col("o_orderdate").alias("t1"))
    s = r.filter(F.col("rn") == 2).select(
        F.col("o_custkey").alias("s_cust"),
        F.col("o_orderdate").alias("t2"))
    c = f.join(s, F.col("s_cust") == F.col("o_custkey"), "left")
    h = o.agg(F.max("o_orderdate").alias("horizon"))
    dur_us = (F.unix_micros(F.coalesce(F.col("t2"), F.col("horizon"))
                            .cast("timestamp"))
              - F.unix_micros(F.col("t1").cast("timestamp")))
    d = (c.crossJoin(F.broadcast(h))
         .select(dur_us.alias("dur_us"),
                 F.when(F.col("t2").isNotNull(), 1).otherwise(0)
                 .alias("ev"))
         .select(F.expr(f"dur_us div {_DAY_US * _BUCKET_DAYS}")
                 .alias("bucket"), "ev"))
    b = (d.groupBy(F.col("bucket").cast("bigint").alias("bucket"))
         .agg(F.sum("ev").cast("bigint").alias("d_k"),
              F.sum(1 - F.col("ev")).cast("bigint").alias("c_k")))
    wv = (Window.orderBy(F.col("bucket").desc())
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    n_risk = F.sum(F.col("d_k") + F.col("c_k")).over(wv).cast("bigint")
    return b.select(
        "bucket", "d_k", "c_k", n_risk.alias("n_risk"),
        F.round(F.col("d_k") * 1.0 / n_risk, 6).alias("hazard"))


# --------------------------------------------------------------------------
# Daily autocorrelation of event volume
# --------------------------------------------------------------------------

_AUTOCORR_SQL = f"""
WITH d AS (
    SELECT epoch_us(ts) // {_DAY_US} AS day,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM events GROUP BY 1
), stats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           SUM(CAST(c AS HUGEINT)) AS s,
           SUM(CAST(c AS HUGEINT) * c) AS qq
    FROM d
), per_k AS (
    SELECT k.k, CAST(COUNT(*) AS BIGINT) AS p,
           SUM(CAST(t1.c AS HUGEINT) * t2.c) AS pk,
           SUM(CAST(t1.c AS HUGEINT)) AS ak,
           SUM(CAST(t2.c AS HUGEINT)) AS bk
    FROM generate_series(1, 7) k(k)
    JOIN d t1 ON TRUE
    JOIN d t2 ON t2.day = t1.day + k.k
    GROUP BY 1
)
SELECT CAST(k AS BIGINT) AS k, n AS n_days, p AS n_pairs,
       round(CAST(CAST(n AS HUGEINT) * n * pk
                  - CAST(n AS HUGEINT) * s * (ak + bk)
                  + CAST(p AS HUGEINT) * s * s AS DOUBLE)
             / CAST(CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * qq - s * s)
                    AS DOUBLE), 6) AS autocorr
FROM per_k, stats
"""


@register("events_autocorr_daily", sql=_AUTOCORR_SQL)
def _q_events_autocorr_daily(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Lag-1..7 autocorrelation of daily event counts, exact until the
    final division: with S = Σc, Q = Σc², n days, and per lag k the
    joined-pair sums P_k = Σc_t·c_{t+k}, A_k = Σc_t, B_k = Σc_{t+k}
    over the p_k pairs both of whose days exist,
    r_k = [n²P_k − nS(A_k+B_k) + p_k·S²] / [n(nQ − S²)] — the
    mean-centered estimator with the 1/n divisions multiplied
    through, so both sides of the ratio are exact integers (DECIMAL
    at warehouse scale: day counts square).  Scale: the daily rollup
    is map-side combinable; everything after lives on ≤ 31 rows.
    The daily frame feeds THREE subtrees (global stats, both lag-join
    sides) that Catalyst cannot fuse, so it is persisted — without
    the cache the plan re-scans the fact table three times for a
    31-row aggregate (caught by this tranche's plan-shape law)."""
    from pyspark.storagelevel import StorageLevel

    e = load_table(spark, sf_dir, "events")
    d = (e.select(F.expr(f"unix_micros(ts) div {_DAY_US}").alias("day"))
         .groupBy("day").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
         .persist(StorageLevel.MEMORY_AND_DISK))
    stats = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("decimal(38,0)").alias("s"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("qq"))
    a = d.select(F.col("day"), F.col("c").alias("c1")).withColumn(
        "k", F.explode(F.sequence(F.lit(1), F.lit(7))))
    # Explicit broadcast: the lag side is the <=31-row daily frame —
    # pinning it keeps the plan shape independent of session-level
    # broadcast thresholds (a foreign session may set the auto
    # threshold to -1), which the plan-shape law relies on.
    j = a.join(F.broadcast(d.select(F.col("day").alias("day2"),
                                    F.col("c").alias("c2"))),
               F.col("day2") == F.col("day") + F.col("k"))
    per_k = j.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("p"),
        F.sum(F.col("c1").cast("decimal(38,0)") * F.col("c2"))
         .alias("pk"),
        F.sum("c1").cast("decimal(38,0)").alias("ak"),
        F.sum("c2").cast("decimal(38,0)").alias("bk"))
    n_d = F.col("n").cast("decimal(38,0)")
    num = (n_d * n_d * F.col("pk")
           - n_d * F.col("s") * (F.col("ak") + F.col("bk"))
           + F.col("p").cast("decimal(38,0)") * F.col("s") * F.col("s"))
    den = n_d * (n_d * F.col("qq") - F.col("s") * F.col("s"))
    return (per_k.crossJoin(F.broadcast(stats))
            .select(F.col("k").cast("bigint").alias("k"),
                    F.col("n").alias("n_days"),
                    F.col("p").alias("n_pairs"),
                    F.round(num.cast("double") / den.cast("double"), 6)
                     .alias("autocorr"))
            )

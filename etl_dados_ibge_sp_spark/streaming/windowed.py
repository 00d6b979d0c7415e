"""Structured Streaming restatement of the reference's incremental
batch pattern (SURVEY §2.11): the anti-join dedup + idempotent
restatement becomes watermarked streaming dedup + windowed aggregation.

The reference has no streaming; this is the §7 phase-9 extension.  The
batch/stream parity law: a stream over the same files with
``availableNow`` + complete output must produce exactly the batch
answer — which is how the oracle checks it.

Scale notes: watermarks bound the dedup/window state (the 100-TB
constraint — unbounded state is the failure mode); the windowed agg is
a keys-only shuffle with map-side partial aggregation, identical to
its batch plan.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

from ..sources.parquet_source import normalize_ts
from ..workdirs import fresh_work_dir


def _events_stream(spark: SparkSession, sf_dir: str,
                   label: str = "events") -> DataFrame:
    """File-source stream over the events table.  Schema comes from a
    driver-side batch peek (streaming sources require explicit
    schemas); the nanos ts column is restored to a proper timestamp.

    The file source needs a *directory*; the test tables are single
    parquet files, so we stage a symlink in a temp dir (at scale the
    landing zone is a directory of files anyway).  ``label`` keys the
    staging dir per CALL SITE: fresh_work_dir clears on entry, so two
    live streams sharing one (name, sf_dir) dir would have the second
    rmtree the first's symlink out from under its file listing — the
    interval join (two streams in one query) and any overlapping
    stream_* invocations need distinct labels.  Bounded: one dir per
    (call site, sf_dir), not per invocation."""
    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    # Deterministic per-(call site, sf) staging (workdirs contract):
    # every stream_* query stages this symlink dir, so a mkdtemp here
    # leaked one dir PER STREAMING-QUERY INVOCATION (1,035 orphans in
    # one measured session — the single biggest /tmp leak the round-7
    # audit found).
    stage = fresh_work_dir(f"events_stream_{label}", sf_dir)
    os.symlink(os.path.abspath(path), os.path.join(stage, "events.parquet"))
    stream = spark.readStream.schema(schema).parquet(stage)
    return normalize_ts(stream)


STATE_PARTITIONS = 8


def _run_to_completion(spark: SparkSession, writer,
                       state_partitions: int | None) -> None:
    """Start a stream and run its availableNow trigger to completion
    under a bounded STATE-PARTITION count.

    A stateful query's shuffle-partition count is a capacity
    parameter, not the batch shuffle default: Spark bakes it into the
    state checkpoint at first run, and every run instantiates one
    state store per partition per stateful operator (a stream-stream
    join holds four).  Sized to expected key cardinality/throughput it
    is pure win — measured at sf0.1, the interval join completes in
    6.4 s at 32 partitions and 2.4 s at 8 with identical results; the
    difference is store setup, not work.  At cluster scale pick
    hundreds; these bounded test streams default to
    ``STATE_PARTITIONS``.  The session conf is restored afterwards —
    for a real long-lived stream the checkpoint, not the session, owns
    the value."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(state_partitions))
    try:
        query = writer.start()
        try:
            if not query.awaitTermination(300):
                raise TimeoutError(
                    "availableNow stream did not finish within 300 s — "
                    "refusing to return a partially-populated sink")
        finally:
            if query.isActive:
                query.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def stream_windowed_event_agg(spark: SparkSession, sf_dir: str,
                              state_partitions: int = STATE_PARTITIONS
                              ) -> DataFrame:
    """Tumbling 1-hour window aggregation over the event stream,
    run to completion with availableNow; returns the final table
    (equals the batch windowed agg — the parity oracle)."""
    stream = _events_stream(spark, sf_dir, "windowed_agg")
    agg = (
        stream
        .withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DecimalType(32, 6))).cast("double")
             .alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n_events", "total_value")
    )
    qname = f"stream_agg_{uuid.uuid4().hex[:8]}"
    query = (
        agg.writeStream.format("memory").queryName(qname)
        .outputMode("complete")
        .trigger(availableNow=True)
    )
    _run_to_completion(spark, query, state_partitions)
    return spark.table(qname)


def stream_windowed_topk(spark: SparkSession, sf_dir: str,
                         hours: int = 6, k: int = 3,
                         state_partitions: int = STATE_PARTITIONS
                         ) -> DataFrame:
    """Streaming top-k event types per tumbling window: the stream
    maintains only the windowed COUNTS (watermark-bounded state, one
    row per (window, type) — never a heap of raw events); the rank is
    a batch window function over the completed sink, which is how a
    serving layer reads a leaderboard anyway (rank at read time, so
    late-arriving updates re-rank for free).  Deterministic tie-break
    (count desc, type asc) makes the result exactly comparable to the
    batch oracle.  Mirrors the reference's report-over-warehouse read
    pattern (reference dags/etl_municipios.py:200-215 reads the loaded
    table back for its summary)."""
    from pyspark.sql import Window

    stream = _events_stream(spark, sf_dir, "windowed_topk")
    agg = (
        stream
        .withWatermark("ts", "1 day")
        .groupBy(F.window("ts", f"{hours} hours").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n_events")
    )
    qname = f"stream_topk_{uuid.uuid4().hex[:8]}"
    query = (
        agg.writeStream.format("memory").queryName(qname)
        .outputMode("complete")
        .trigger(availableNow=True)
    )
    _run_to_completion(spark, query, state_partitions)
    w = Window.partitionBy("window_start").orderBy(
        F.desc("n_events"), F.asc("event_type"))
    return (spark.table(qname)
            .withColumn("rnk", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rnk") <= k))


def stream_windowed_distinct_approx(
        spark: SparkSession, sf_dir: str,
        state_partitions: int = STATE_PARTITIONS) -> DataFrame:
    """Distinct users per tumbling hour per event type with BOUNDED
    streaming state: ``approx_count_distinct`` (HLL++) keeps one
    fixed-size sketch per (window, type) group instead of the exact
    distinct's one state row per user — the only way a distinct-count
    survives an unbounded stream at 100 TB/day.  The sketch is a
    deterministic function of the value SET (register maxima), so
    availableNow over a finite source equals the batch aggregate
    exactly — the pytest parity law.

    ``update`` output mode, deliberately: complete mode RETAINS every
    group's state forever and re-emits the whole result per trigger
    (the watermark never evicts in complete mode), which would forfeit
    exactly the bounded-state property this operator exists for; in
    update mode the 1-day watermark purges each window's sketch once
    it can no longer change.  On the finite single-batch availableNow
    run, update emits each group exactly once, so the memory sink
    holds the final aggregate."""
    stream = _events_stream(spark, sf_dir, "windowed_distinct")
    agg = (
        stream
        .withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.approx_count_distinct("user_id", rsd=0.02)
             .alias("approx_users"))
        .select(F.unix_micros(F.col("w.start")).alias("window_start_us"),
                "event_type", "approx_users")
    )
    qname = f"stream_hll_{uuid.uuid4().hex[:8]}"
    query = (
        agg.writeStream.format("memory").queryName(qname)
        .outputMode("update")
        .trigger(availableNow=True)
    )
    _run_to_completion(spark, query, state_partitions)
    return spark.table(qname)


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment — the streaming form of the
    J1 dimension join (reference dags/etl_municipios.py's municipality
    enrichment, continuous): every micro-batch equi-joins the static
    dim snapshot, the dim broadcasts, so the stream side never
    shuffles and needs no watermark (static side is bounded, the join
    is stateless).  Run to completion with availableNow; the final
    table equals the batch join — the parity oracle.
    """
    stream = _events_stream(spark, sf_dir, "static_enrich")
    dim = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select(F.col("c_custkey").alias("user_id"),
                "c_name", "c_mktsegment")
    )
    enriched = stream.join(F.broadcast(dim), "user_id").select(
        "event_id", "event_type", "c_name", "c_mktsegment", "value")
    qname = f"stream_enrich_{uuid.uuid4().hex[:8]}"
    query = (
        enriched.writeStream.format("memory").queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
    )
    # state_partitions=None: stateless broadcast join, no state stores
    # to bound; keep the session's parallelism.
    _run_to_completion(spark, query, None)
    return spark.table(qname)


def stream_stream_interval_join(
        spark: SparkSession, sf_dir: str,
        state_partitions: int = STATE_PARTITIONS) -> DataFrame:
    """Stream-stream inner join with an event-time interval bound:
    each purchase joins every click by the same user in the 6 hours
    leading up to it.

    The canonical Structured Streaming two-stream join: BOTH sides are
    watermarked and the join condition carries a time range, so the
    state store can evict — a click older than the purchase-side
    watermark minus 6 h can never match again and is dropped.  Without
    the range the state is unbounded (the 100 TB failure mode).
    Run to completion with availableNow; the result equals the batch
    interval join — the parity oracle.
    """
    clicks = (
        _events_stream(spark, sf_dir, "ij_clicks")
        .filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"),
                F.col("ts").alias("c_ts"),
                F.col("value").alias("click_value"))
        .withWatermark("c_ts", "1 day")
    )
    purchases = (
        _events_stream(spark, sf_dir, "ij_purchases")
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"),
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 day")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user")) &
        (F.col("c_ts") <= F.col("p_ts")) &
        (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 6 HOURS")),
    ).select(
        F.col("p_user").alias("user_id"), "purchase_id",
        F.unix_micros(F.col("c_ts")).alias("click_us"),
        "click_value",
    )
    qname = f"stream_ssj_{uuid.uuid4().hex[:8]}"
    query = (
        joined.writeStream.format("memory").queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
    )
    _run_to_completion(spark, query, state_partitions)
    return spark.table(qname)


def streaming_incremental_load(spark: SparkSession, source_dir: str,
                               schema, warehouse_dir: str,
                               checkpoint_dir: str,
                               keys: list[str] | None = None,
                               ts_col: str = "ts") -> None:
    """The reference's incremental load (J2 anti-join + idempotent
    append, dags/etl_municipios.py:138-204) restated as a streaming
    ``foreachBatch`` upsert: every micro-batch anti-joins the
    warehouse's key snapshot and appends only genuinely new rows.

    Exactly-once across restarts comes from the checkpoint +
    the anti-join being a natural dedup (a replayed batch finds its
    keys already present).  At 100 TB the warehouse read prunes to the
    keys-only columns (columnar scan) and the anti-join broadcasts the
    snapshot when small; with a Delta/Iceberg sink the body of
    ``upsert`` becomes a single MERGE.
    """
    keys = keys or ["event_id"]

    def upsert(batch_df: DataFrame, _batch_id: int) -> None:
        sess = batch_df.sparkSession
        delta = batch_df.dropDuplicates(keys)
        try:
            existing = sess.read.parquet(warehouse_dir) \
                .select(*keys).distinct()
            delta = delta.join(existing, on=keys, how="left_anti")
        except AnalysisException:
            # First batch only: warehouse path doesn't exist yet.  Any
            # other failure (IO, corrupt footer, schema drift) must
            # propagate and fail the micro-batch — swallowing it would
            # skip the anti-join and append duplicates.
            pass
        delta.write.mode("append").parquet(warehouse_dir)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # one micro-batch per file
        .parquet(source_dir)
    )
    stream = normalize_ts(stream, ts_col)
    query = (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not query.awaitTermination(300):
            raise TimeoutError(
                "availableNow stream did not finish within 300 s — "
                "refusing to return a partially-populated sink")
    finally:
        if query.isActive:
            query.stop()


def streaming_versioned_load(spark: SparkSession, source_dir: str,
                             schema, table_dir: str,
                             checkpoint_dir: str,
                             writer_id: str = "default") -> None:
    """Stream micro-batches into a VERSIONED table: each batch becomes
    a new appended version (only the batch's files are written —
    O(batch) per commit at any table size), and the manifest's
    per-writer batch watermark, committed atomically with the data
    pointer, upgrades the checkpoint's at-least-once replay into
    exactly-once — the transaction-id pattern lakehouse sinks use.
    ``writer_id`` must be stable for this logical stream and unique
    among streams sharing the table; see
    ``sinks.versioned.foreach_batch_appender`` for the
    checkpoint-reset caveat.  Readers get snapshot isolation
    throughout: a query planned mid-commit sees the previous version,
    never a half-appended batch.  Compaction and vacuum then run as
    ordinary table maintenance, fully decoupled from the stream."""
    from ..sinks.versioned import foreach_batch_appender

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # one micro-batch per file
        .parquet(source_dir)
    )
    query = (
        stream.writeStream
        .foreachBatch(foreach_batch_appender(table_dir, writer_id))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not query.awaitTermination(300):
            raise TimeoutError(
                "availableNow stream did not finish within 300 s — "
                "refusing to return a partially-populated sink")
    finally:
        if query.isActive:
            query.stop()


def streaming_neardup_load(spark: SparkSession, source_dir: str,
                           schema, warehouse_dir: str, sig_dir: str,
                           checkpoint_dir: str,
                           id_col: str = "doc_id",
                           text_col: str = "text",
                           threshold: float = 0.8,
                           max_bucket: int | None = 500) -> None:
    """The NEAR-DUP arrival path as a stream: each micro-batch of new
    documents is judged by ``dedup.incremental_neardup_verdict``
    against the warehouse (using its MATERIALIZED signature table —
    the corpus is never re-shingled), and only survivors append, to
    BOTH the document warehouse and the signature table.

    This is ``streaming_incremental_load``'s semantics with the J2
    anti-join upgraded from exact keys to near-duplicate content: the
    exact-id anti-join still runs first (replay safety — a restarted
    batch finds its ids already present and appends nothing), then the
    LSH verdict drops content near-dups of the existing corpus.

    Scale: per micro-batch the work is O(batch) — batch shingling,
    band join pruned to the batch's own buckets of the partitioned
    signature table, candidate-only exact recheck.  Appending
    signatures keeps the warehouse invariant (every stored doc has a
    stored signature) without any corpus rescan.  Intra-batch dups are
    left to the downstream canonicalizer by design: cross-batch state
    is what streaming must get right.
    """
    from ..operators.dedup import (char_shingles,
                                   incremental_neardup_verdict,
                                   minhash_signature)

    def load(batch_df: DataFrame, _batch_id: int) -> None:
        sess = batch_df.sparkSession
        batch = batch_df.dropDuplicates([id_col])
        try:
            wh_docs = sess.read.parquet(warehouse_dir)
        except AnalysisException:
            # First batch only: empty warehouse, everything loads.  Any
            # other failure must fail the micro-batch — swallowing it
            # would skip the dedup gate and load duplicates.
            wh_docs = None
        if wh_docs is None:
            to_load = batch
            heal = batch.limit(0)
        else:
            try:
                wh_sigs = sess.read.parquet(sig_dir)
                sig_ids = wh_sigs.select(id_col).distinct()
            except AnalysisException:
                # Docs landed but no signature table yet: the replay
                # of a first batch that crashed between its two
                # appends.  Derive signatures from the docs this once.
                wh_sigs = None
                sig_ids = batch.select(id_col).limit(0)
            existing_ids = wh_docs.select(id_col).distinct()
            new_rows = batch.join(existing_ids, id_col, "left_anti")
            verdict = incremental_neardup_verdict(
                new_rows, wh_docs, id_col=id_col, text_col=text_col,
                threshold=threshold, max_bucket=max_bucket,
                wh_sigs=wh_sigs)
            keep = verdict.filter(F.col("loaded") == 1).select(id_col)
            to_load = new_rows.join(keep, id_col, "left_semi")
            # Replay healing: a crash BETWEEN the two appends below
            # leaves docs in the warehouse with no signature.  On the
            # checkpointed replay those ids fail the exact-id
            # anti-join (so no duplicate doc rows), and this picks
            # their signatures back up — restoring the every-doc-has-
            # a-signature invariant instead of silently dropping it.
            heal = (batch.join(existing_ids, id_col, "left_semi")
                    .join(sig_ids, id_col, "left_anti"))
        sig_source = to_load.unionByName(heal)
        sigs = minhash_signature(
            char_shingles(sig_source, id_col, text_col, n=4), id_col,
            n_hashes=8)
        to_load.write.mode("append").parquet(warehouse_dir)
        sigs.write.mode("append").parquet(sig_dir)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # one micro-batch per file
        .parquet(source_dir)
    )
    query = (
        stream.writeStream.foreachBatch(load)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not query.awaitTermination(300):
            raise TimeoutError(
                "availableNow stream did not finish within 300 s — "
                "refusing to return a partially-populated sink")
    finally:
        if query.isActive:
            query.stop()


SESSION_GAP_US = 30 * 60 * 1_000_000  # 30-min inactivity gap


def stream_sessionize(spark: SparkSession, sf_dir: str,
                      watermark: str = "0 seconds",
                      state_partitions: int = STATE_PARTITIONS
                      ) -> DataFrame:
    """Custom stateful streaming operator: per-user sessionization via
    ``applyInPandasWithState`` (Arrow-batched, event-time timeouts).

    State per user = the open session (start_us, end_us, n_events).
    Each micro-batch folds its events into the open session, emits
    every session closed by a 30-min gap, and arms an event-time
    timeout at session_end + gap so sessions with no successor close
    when the watermark passes — bounded state, the 100-TB constraint.

    End-of-stream semantics are true streaming semantics: a session
    still open when the watermark stops advancing is NOT emitted (no
    future batch can prove it closed).  The parity law tested in
    tests/: emitted == batch sessions that the final watermark closes.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = (
        _events_stream(spark, sf_dir, "sessionize")
        .withWatermark("ts", watermark)
        .select("user_id", "ts", F.unix_micros(F.col("ts")).alias("us"))
    )

    gap_us = SESSION_GAP_US

    def sessionize(key, pdfs, state: "GroupState"):
        # Self-contained (imports inside): cloudpickle ships it by
        # value, workers never import this package.
        import pandas as _pd

        if state.hasTimedOut:
            s, e, n = state.get
            state.remove()
            yield _pd.DataFrame({"user_id": [key[0]], "start_us": [s],
                                 "end_us": [e], "n_events": [n]})
            return
        us = sorted(t for p in pdfs for t in p["us"].tolist())
        cur = state.get if state.exists else None
        closed = []
        for t in us:
            if cur is None:
                cur = (t, t, 1)
            elif t - cur[1] > gap_us:
                closed.append(cur)
                cur = (t, t, 1)
            else:
                cur = (cur[0], t, cur[2] + 1)
        state.update(cur)
        # Close the open session once the watermark passes its gap.
        state.setTimeoutTimestamp(cur[1] // 1000 + gap_us // 1000)
        if closed:
            yield _pd.DataFrame(
                [{"user_id": key[0], "start_us": s, "end_us": e,
                  "n_events": n} for s, e, n in closed])

    out = stream.groupBy("user_id").applyInPandasWithState(
        sessionize,
        outputStructType=("user_id bigint, start_us bigint, "
                          "end_us bigint, n_events bigint"),
        stateStructType="start_us bigint, end_us bigint, n_events bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    qname = f"stream_sess_{uuid.uuid4().hex[:8]}"
    query = (
        out.writeStream.format("memory").queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
    )
    _run_to_completion(spark, query, state_partitions)
    return spark.table(qname)


def streaming_dedup(spark: SparkSession, sf_dir: str,
                    keys: list[str] | None = None,
                    watermark: str = "1 day",
                    state_partitions: int = STATE_PARTITIONS
                    ) -> DataFrame:
    """Streaming restatement of J2: drop duplicate events by key with
    bounded state (dropDuplicatesWithinWatermark), run to completion;
    returns the deduplicated rows."""
    keys = keys or ["event_id"]
    stream = _events_stream(spark, sf_dir, "dedup")
    deduped = (
        stream
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(keys)
        .select("event_id", "user_id", "event_type", "ts")
    )
    qname = f"stream_dedup_{uuid.uuid4().hex[:8]}"
    query = (
        deduped.writeStream.format("memory").queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
    )
    _run_to_completion(spark, query, state_partitions)
    return spark.table(qname)


ANOMALY_FRAME = 20
ANOMALY_MIN_N = 8
ANOMALY_Z2 = 4  # z^2 for |z| > 2


def stream_rolling_anomaly(
        spark: SparkSession, sf_dir: str,
        state_partitions: int = STATE_PARTITIONS) -> DataFrame:
    """Streaming trailing-window z-score anomaly detection via
    ``applyInPandasWithState`` — the streaming restatement of the
    batch ``events_rolling_anomaly`` query, sharing its EXACT integer
    decision rule: flag event x when (n*x - s)^2 * (n-1) >
    4n * (n*ss - s^2) over the user's previous <=20 values (>=8
    required).  Python ints are arbitrary-precision, so the arithmetic
    is bit-identical to the batch DECIMAL(38)/HUGEINT formulation and
    the SAME SQL oracle verifies both.

    State per user is just the trailing value buffer — <=20 longs
    (~160 bytes), so total state is O(active users), independent of
    history length; no timeout is armed because a verdict depends only
    on PRECEDING events (each event's flag is emittable immediately,
    no watermark-closing semantics to wait for).  Exactness across
    micro-batches requires per-user event-time order between batches
    (rows are sorted within a batch); a file-source landing zone
    ingested in arrival order satisfies this, and the availableNow
    test path processes the table in one batch.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    frame, min_n, z2 = ANOMALY_FRAME, ANOMALY_MIN_N, ANOMALY_Z2
    stream = (
        _events_stream(spark, sf_dir, "rolling_anomaly")
        .select("event_id", "user_id",
                F.unix_micros(F.col("ts")).alias("us"),
                F.floor(F.col("value") * 1000000).cast("bigint")
                 .alias("x")))

    def detect(key, pdfs, state: "GroupState"):
        # Self-contained (imports inside): cloudpickle ships it by
        # value, workers never import this package.
        import pandas as _pd

        rows = []
        for p in pdfs:
            # NULL values arrive as NaN (pandas upcasts the bigint
            # column to float64); restore them to None so the buffer
            # mirrors the SQL semantics — COUNT(*) includes the row,
            # SUM skips it — instead of poisoning every later window
            # with NaN.  Non-null values round-trip exactly (micros
            # <= ~5e8 << 2^53).
            rows.extend(
                (us, eid, None if _pd.isna(x) else int(x))
                for us, eid, x in zip(p["us"].tolist(),
                                      p["event_id"].tolist(),
                                      p["x"].tolist()))
        rows.sort(key=lambda r: (r[0], r[1]))
        buf = list(state.get[0]) if state.exists else []
        out = []
        for _us, eid, x in rows:
            window = buf[-frame:]
            n = len(window)  # count(*): null rows occupy frame slots
            if n >= min_n and x is not None:
                s = sum(v for v in window if v is not None)
                ss = sum(v * v for v in window if v is not None)
                dev = n * x - s
                if dev * dev * (n - 1) > z2 * n * (n * ss - s * s):
                    out.append((eid, key[0], x, n))
            buf.append(x)
        state.update((buf[-frame:],))
        if out:
            yield _pd.DataFrame(out, columns=["event_id", "user_id",
                                              "value_micros", "n_window"])

    result = stream.groupBy("user_id").applyInPandasWithState(
        detect,
        outputStructType=("event_id bigint, user_id bigint, "
                          "value_micros bigint, n_window bigint"),
        stateStructType="xs array<bigint>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    qname = f"stream_anom_{uuid.uuid4().hex[:8]}"
    query = (
        result.writeStream.format("memory").queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
    )
    _run_to_completion(spark, query, state_partitions)
    return spark.table(qname)


def stream_incremental_agg(
        spark: SparkSession, sf_dir: str,
        state_partitions: int | None = None) -> DataFrame:
    """Streaming incremental aggregate maintenance: the per-customer
    order aggregate maintained across micro-batches by partial-state
    merge (operators/incremental), exactly the nightly-delta pattern
    run as a stream.

    ``state_partitions`` defaults to None (session value), unlike the
    stateful streams: this stream is STATELESS (foreachBatch) — its
    shuffles are batch jobs inside ``upsert`` where the session's full
    parallelism helps, and there are no per-partition state stores to
    amortize (measured: 8 partitions is ~20% slower here).

    The input is staged as FOUR parquet fragments and read with
    ``maxFilesPerTrigger=1``, so availableNow genuinely processes four
    micro-batches; each ``foreachBatch`` merges the batch's partial
    state with the previous state VERSION and writes a new one
    (versioned directories — the poor man's ACID table; a lakehouse
    format would make the swap atomic).  History is never rescanned:
    batch cost is O(batch + state).  The final state finalizes to
    EXACTLY the full GROUP BY (the batch query's oracle), because
    merge is associative over any split — the law
    tests/test_pending_r05.py pins."""
    import os
    import shutil
    import tempfile

    from ..operators.incremental import (finalize, merge_states,
                                         partial_aggregate)

    stage = tempfile.mkdtemp(prefix="incr_stream_")
    try:
        in_dir = os.path.join(stage, "in")
        orders = (
            spark.read.parquet(f"{sf_dir}/orders.parquet")
            .select("o_custkey",
                    F.floor(F.col("o_totalprice") * 100).cast("bigint")
                     .alias("cents")))
        orders.repartition(4).write.parquet(in_dir)
        # spread the part files into separate trigger units
        schema = spark.read.parquet(in_dir).schema
        versions: list[str] = []

        def upsert(batch_df, batch_id: int) -> None:
            new = partial_aggregate(batch_df, ["o_custkey"], "cents")
            if versions:
                prev = spark.read.parquet(versions[-1])
                new = merge_states(prev, new)
            path = os.path.join(stage, f"state_v{batch_id}")
            new.write.mode("overwrite").parquet(path)
            versions.append(path)

        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(in_dir))
        query = (stream.writeStream.foreachBatch(upsert)
                 .option("checkpointLocation",
                         os.path.join(stage, "ckpt"))
                 .trigger(availableNow=True))
        _run_to_completion(spark, query, state_partitions)
        if not versions:
            raise RuntimeError("stream produced no batches")
        final = finalize(spark.read.parquet(versions[-1]))
        # Materialize the small finalized aggregate before the staging
        # dir is reaped (the lazy plan would otherwise read deleted
        # files).
        return spark.createDataFrame(final.collect(), final.schema)
    finally:
        # Scratch space (input copy, checkpoints, every state version)
        # is removed on success AND on every failure path — no leak.
        shutil.rmtree(stage, ignore_errors=True)


def stream_decay_sum(
        spark: SparkSession, sf_dir: str,
        state_partitions: int = STATE_PARTITIONS) -> DataFrame:
    """Streaming restatement of the batch ``events_decay_sum`` query
    (queries/events.decay_sum_frame): per-user EWMA (alpha=1/2)
    over the trailing 8 events as an ``applyInPandasWithState``
    fold — state is the trailing <=8 scaled longs (~64 bytes/user,
    O(active users) total, independent of history length), and every
    event emits immediately (no watermark semantics to wait for,
    a verdict depends only on preceding events).

    Integer arithmetic end-to-end: the buffer holds
    coalesce(floor(value*10000), 0) longs and the fold is Horner
    newest-first (acc*2 + x) over the frame — Python ints reproduce
    the batch JVM fold bit-for-bit, so batch-parity is an exact frame
    equality (law: tests/test_pending2.py).  Same cross-batch
    ordering caveat as stream_rolling_anomaly: exactness requires
    per-user event-time order between micro-batches; the availableNow
    path processes the table in one batch."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    frame = 8  # queries/events.DECAY_FRAME (kept literal: this
    #            module must stay importable without the registry)
    stream = (
        _events_stream(spark, sf_dir, "decay_sum")
        .select("event_id", "user_id",
                F.unix_micros(F.col("ts")).alias("us"),
                F.floor(F.col("value") * 10000).cast("bigint")
                 .alias("x")))

    def fold(key, pdfs, state: "GroupState"):
        import pandas as _pd

        rows = []
        for p in pdfs:
            # NULLs arrive as NaN (pandas float upcast); the batch
            # semantics give them weight-slot occupancy with value 0.
            rows.extend(
                (us, eid, 0 if _pd.isna(x) else int(x))
                for us, eid, x in zip(p["us"].tolist(),
                                      p["event_id"].tolist(),
                                      p["x"].tolist()))
        rows.sort(key=lambda r: (r[0], r[1]))
        buf = list(state.get[0]) if state.exists else []
        out = []
        for _us, eid, x in rows:
            buf.append(x)
            acc = 0
            for v in reversed(buf[-frame:]):
                acc = acc * 2 + v
            out.append((eid, key[0], acc))
        state.update((buf[-frame:],))
        if out:
            yield _pd.DataFrame(
                out, columns=["event_id", "user_id", "decay_sum"])

    result = stream.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType=("event_id bigint, user_id bigint, "
                          "decay_sum bigint"),
        stateStructType="xs array<bigint>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    qname = f"stream_decay_{uuid.uuid4().hex[:8]}"
    query = (
        result.writeStream.format("memory").queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
    )
    _run_to_completion(spark, query, state_partitions)
    return spark.table(qname)


def stream_sessionize_tws(spark: SparkSession, sf_dir: str,
                          watermark: str = "0 seconds",
                          state_partitions: int = STATE_PARTITIONS
                          ) -> DataFrame:
    """The sessionizer on Spark 4's NEW arbitrary-state API
    (``transformWithStateInPandas`` — the successor the docs steer
    stateful pipelines toward): identical semantics to
    :func:`stream_sessionize`, restated as a ``StatefulProcessor``
    with a typed ValueState and an event-time TIMER per user instead
    of GroupState + setTimeoutTimestamp.  The parity law
    (tests/test_tws_sessionize.py) pins row-identical output against
    the applyInPandasWithState form, so either implementation can
    carry the pipeline — the migration path is proven, not assumed.

    Same scale shape: one shuffle on user_id, per-user state bounded
    to the single open session, timers close idle sessions when the
    watermark passes (state never grows with history).

    Environment gate: transformWithState's driver worker speaks a
    protobuf control protocol, so ``google.protobuf`` must be
    installed (it ships with any real Spark 4 distro's
    requirements).  Where it is absent the function raises
    ImportError up front with the dependency named, and the parity
    test skips — the implementation itself is complete."""
    try:
        import google.protobuf  # noqa: F401
    except ImportError as ex:
        raise ImportError(
            "transformWithStateInPandas requires the protobuf "
            "package (pip install protobuf) — its driver worker "
            "speaks a protobuf control protocol; use "
            "stream_sessionize (applyInPandasWithState) on "
            "environments without it") from ex
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor, StatefulProcessorHandle)

    gap_us = SESSION_GAP_US

    class SessionProcessor(StatefulProcessor):
        # Self-contained (imports inside methods): cloudpickle ships
        # the class by value to worker pythons.
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.handle = handle
            self.open = handle.getValueState(
                "open", "start_us bigint, end_us bigint, n bigint")

        def handleInputRows(self, key, rows, timer_values):
            import pandas as _pd

            us = sorted(t for p in rows for t in p["us"].tolist())
            cur = (tuple(self.open.get())
                   if self.open.exists() else None)
            closed = []
            for t in us:
                if cur is None:
                    cur = (t, t, 1)
                elif t - cur[1] > gap_us:
                    closed.append(cur)
                    cur = (t, t, 1)
                else:
                    cur = (cur[0], t, cur[2] + 1)
            self.open.update(cur)
            # One live timer per user at session_end + gap: replace
            # whatever was armed before.
            for t in self.handle.listTimers():
                self.handle.deleteTimer(t)
            self.handle.registerTimer(cur[1] // 1000 + gap_us // 1000)
            if closed:
                yield _pd.DataFrame(
                    [{"user_id": key[0], "start_us": s, "end_us": e,
                      "n_events": n} for s, e, n in closed])

        def handleExpiredTimer(self, key, timer_values,
                               expired_timer_info):
            import pandas as _pd

            if self.open.exists():
                s, e, n = self.open.get()
                self.open.clear()
                yield _pd.DataFrame(
                    {"user_id": [key[0]], "start_us": [s],
                     "end_us": [e], "n_events": [n]})

        def close(self) -> None:
            pass

    stream = (
        _events_stream(spark, sf_dir, "sessionize_tws")
        .withWatermark("ts", watermark)
        .select("user_id", "ts", F.unix_micros(F.col("ts")).alias("us"))
    )
    out = stream.groupBy("user_id").transformWithStateInPandas(
        SessionProcessor(),
        outputStructType=("user_id bigint, start_us bigint, "
                          "end_us bigint, n_events bigint"),
        outputMode="append",
        timeMode="eventTime",
    )
    qname = f"stream_sess_tws_{uuid.uuid4().hex[:8]}"
    query = (
        out.writeStream.format("memory").queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
    )
    _run_to_completion(spark, query, state_partitions)
    return spark.table(qname)

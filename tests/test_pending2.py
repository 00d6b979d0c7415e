"""Plan-shape and semantics laws for TPC-H, event and corpus query
shapes.  Oracle parity itself runs through the parametrized test in
test_oracle_parity.py — these tests pin the
100-TB-relevant PLAN properties the oracle cannot see: decorrelation
to semi/anti joins, CNF pushdown of disjunctive predicates, column
pruning through set ops, and the single-shuffle window fold."""

from __future__ import annotations

from etl_dados_ibge_sp_spark.queries import (
    corpus, dedup, embeddings, events, tpch)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    return df._jdf.queryExecution().explainString(mode)


def test_q4_exists_plans_semi_join(spark, sf_dir):
    plan = _plan(tpch._q_order_priority_exists(spark, sf_dir))
    assert "LeftSemi" in plan, f"EXISTS not decorrelated:\n{plan[:1500]}"
    assert "Subquery" not in plan


def test_q16_not_in_plans_anti_join(spark, sf_dir):
    plan = _plan(tpch._q_brand_supplier_counts(spark, sf_dir))
    assert "LeftAnti" in plan, f"NOT IN not an anti join:\n{plan[:1500]}"


def test_q19_disjunction_pushed_to_both_scans(spark, sf_dir):
    """The OR-of-ANDs must CNF-factor into per-table disjunctions that
    reach the parquet readers: the part scan gets the (brand AND size)
    OR (brand AND size) factor, the lineitem scan the quantity-range
    disjunction.  Without this, a 100-TB lineitem scan reads every
    row and the filter runs post-join."""
    fp = _formatted(tpch._q_disjunctive_filter_revenue(spark, sf_dir))
    pushed = [ln for ln in fp.splitlines() if "PushedFilters" in ln]
    assert any("p_brand" in ln and "Or(And(" in ln for ln in pushed), \
        f"no disjunctive part filter pushed:\n{pushed}"
    assert any("l_quantity" in ln and "Or(And(" in ln for ln in pushed), \
        f"no disjunctive lineitem filter pushed:\n{pushed}"


def test_except_prunes_to_key_columns(spark, sf_dir):
    """EXCEPT must not block column pruning: both orders scans read
    exactly (o_custkey, o_orderdate) — an unpruned set-op scan is a
    5x read amplification at scale."""
    fp = _formatted(events._q_set_except_churned(spark, sf_dir))
    schemas = [ln for ln in fp.splitlines() if "ReadSchema" in ln]
    assert schemas, "no parquet scans found"
    for ln in schemas:
        assert "o_custkey" in ln and "o_totalprice" not in ln, ln
    plan = _plan(events._q_set_except_churned(spark, sf_dir))
    assert "LeftAnti" in plan, "EXCEPT should plan as anti join"


def test_decay_sum_single_hash_exchange(spark, sf_dir):
    """The Horner window fold costs exactly ONE hash shuffle (on
    user_id); the only other exchange is the documented fan-out
    round-robin from load_table.  The oracle's self-join formulation
    would cost two joins plus an aggregate — the fold IS the scale
    advantage, so pin it."""
    plan = _plan(events._q_events_decay_sum(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]


def test_pivot_schema_is_stable(spark, sf_dir):
    """Explicit pivot values => stable, ordered output schema with no
    inference job over the data."""
    df = events._q_pivot_event_counts(spark, sf_dir)
    assert df.columns == ["day", "view", "click", "signup",
                          "purchase", "error"]


def test_quantize_int8_saturates_exactly(spark, sf_dir):
    """Symmetric int8 law: every quantized vector uses the full range
    — the max-|x| element maps to exactly ±127, and no element
    escapes [-127, 127]."""
    rows = embeddings._q_embed_quantize_int8(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert -127 <= r["q_min"] and r["q_max"] <= 127
        assert max(r["q_max"], -r["q_min"]) == 127, r


def test_stream_decay_matches_batch_exactly(spark, sf_dir):
    """The stateful streaming EWMA (applyInPandasWithState, Python-int
    Horner fold) must equal the batch window fold row-for-row — the
    exact-integer arithmetic makes this a strict equality, not a
    tolerance check."""
    from etl_dados_ibge_sp_spark.streaming.windowed import \
        stream_decay_sum

    batch = {(r["user_id"], r["event_id"]): r["decay_sum"]
             for r in events._q_events_decay_sum(spark, sf_dir).collect()}
    stream = {(r["user_id"], r["event_id"]): r["decay_sum"]
              for r in stream_decay_sum(spark, sf_dir).collect()}
    assert batch == stream
    assert len(batch) > 0


def test_decay_fold_matches_bruteforce_with_nulls(spark):
    """Brute-force law on synthetic data INCLUDING NULL values: a
    NULL occupies its frame slot with contribution 0 (the oracle's
    SUM-skips-NULL semantics), and the Horner fold must agree with a
    direct python weighted sum for ragged user histories."""
    import math

    rows, expect = [], {}
    histories = {
        1: [1.5, None, 2.25, -3.0, 0.0, 7.125, None, 4.0, 5.5, -0.125],
        2: [10.0],
        3: [None, None, 3.5],
    }
    eid = 0
    for uid, vals in histories.items():
        buf = []
        for i, v in enumerate(vals):
            eid += 1
            rows.append((uid, eid, i * 1000, v))
            buf.append(0 if v is None else math.floor(v * 10000))
            win = buf[-events.DECAY_FRAME:]
            expect[(uid, eid)] = sum(
                x * 2 ** j for j, x in enumerate(win))
    df = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, us bigint, value double"
    ).selectExpr("user_id", "event_id",
                 "timestamp_micros(us) AS ts", "value")
    got = {(r["user_id"], r["event_id"]): r["decay_sum"]
           for r in events.decay_sum_frame(df).collect()}
    assert got == expect


def test_tfidf_topk_at_most_three_per_doc(spark, sf_dir):
    from pyspark.sql import functions as F

    df = corpus._q_text_tfidf_topk(spark, sf_dir)
    per_doc = df.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("rnk").alias("max_rnk"))
    bad = per_doc.filter((F.col("n") > 3)
                         | (F.col("max_rnk") > 3)).count()
    assert bad == 0


def test_ohlc_matches_bruteforce_with_ties(spark, sf_dir, tmp_path):
    """Selection-aggregate law on synthetic data with same-timestamp
    ties: open/close must follow the (ts, event_id) total order, not
    value order or arrival order."""
    import os

    rows = [
        # (event_id, us, type, value) — bar 0: ties on us=1000
        (1, 1000, "a", 5.0), (2, 1000, "a", 9.0), (3, 2000, "a", 1.0),
        (4, 3000, "a", 7.0),
        # bar boundary: 3600s * 1e6 us
        (5, 3_600_000_000 + 10, "a", 2.5),
        (6, 3_600_000_000 + 10, "a", -4.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, us bigint, event_type string, value double"
    ).selectExpr("event_id", "timestamp_micros(us) AS ts",
                 "event_type", "value")
    os.makedirs(tmp_path / "d", exist_ok=True)
    df.write.parquet(str(tmp_path / "d" / "events.parquet"))
    got = {(r["event_type"], r["bar"]):
           (r["open_e4"], r["high_e4"], r["low_e4"], r["close_e4"],
            r["n_events"])
           for r in events._q_events_ohlc_bars(spark,
                                           str(tmp_path / "d")).collect()}
    # bar 0: open = event 1 (5.0, lowest event_id at earliest ts),
    # close = event 4 (7.0); high 9.0, low 1.0.
    assert got[("a", 0)] == (50000, 90000, 10000, 70000, 4)
    # bar 1: open = event 5 (2.5), close = event 6 (-4.0).
    assert got[("a", 1)] == (25000, 25000, -40000, -40000, 2)


def test_dup_ngram_spans_matches_bruteforce(spark):
    """Third-implementation law (both engine formulations could share
    a bug): direct python n-gram counting on a corpus CONSTRUCTED to
    exercise the interesting cases — an exact duplicate pair, a
    shared-boilerplate span inside otherwise-distinct docs, a doc
    with internal repetition only (its gram repeats within ONE doc,
    which must NOT count as duplicated), and a doc shorter than the
    gram width (excluded entirely)."""
    docs = {
        1: "a b c d e f g h i j",                    # shares 8-gram w/ 2
        2: "a b c d e f g h x y",
        3: "p q r s t u v w",                        # exact dup of 4
        4: "p q r s t u v w",
        5: "m m m m m m m m m m m m",                # self-repeat only
        6: "too short",                              # < 8 tokens
    }
    grams = {}
    for did, text in docs.items():
        toks = text.split(" ")
        for i in range(len(toks) - 7):
            grams.setdefault(" ".join(toks[i:i + 8]), set()).add(did)
    expect = {}
    for did, text in docs.items():
        toks = text.split(" ")
        if len(toks) < 8:
            continue
        gs = [" ".join(toks[i:i + 8]) for i in range(len(toks) - 7)]
        expect[did] = (len(gs),
                       sum(1 for g in gs if len(grams[g]) >= 2))
    import os
    import tempfile

    from etl_dados_ibge_sp_spark.sources.parquet_source import load_table  # noqa: F401

    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            [(k, v) for k, v in docs.items()], "doc_id bigint, text string"
        ).write.parquet(os.path.join(td, "documents.parquet"))
        got = {r["doc_id"]: (r["n_grams"], r["n_dup_grams"])
               for r in dedup._q_text_dup_ngram_spans(spark, td).collect()}
    assert got == expect
    assert expect[5][1] == 0, "self-repetition must not count"
    assert 6 not in got

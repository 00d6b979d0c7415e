"""BM25 ranking and SCD2 interval-building unit tests (the oracle
parity tests cover end-to-end equality; these pin the operator
semantics on small hand-built inputs and the plan shape)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from etl_dados_ibge_sp_spark.operators.history import scd2_intervals
from etl_dados_ibge_sp_spark.operators.ranking import bm25_topk


def test_bm25_orders_by_relevance(spark):
    docs = spark.createDataFrame(
        [(1, "spark spark spark runs fast"),
         (2, "spark is here"),
         (3, "nothing relevant at all"),
         (4, "spark spark appears twice today ok")],
        ["doc_id", "text"])
    got = bm25_topk(docs, ["spark"], 4).collect()
    ids = [r["doc_id"] for r in got]
    # more occurrences → higher score; no-hit doc scores 0 and sorts last
    assert ids[0] == 1 and ids[1] == 4 and ids[2] == 2 and ids[3] == 3
    assert got[-1]["bm25"] == 0.0
    assert got[0]["bm25"] > got[1]["bm25"] > got[2]["bm25"]


def test_bm25_rare_term_outweighs_common(spark):
    rows = [(i, "common filler words") for i in range(20)]
    rows += [(100, "common rare"), (101, "common common common")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = bm25_topk(docs, ["common", "rare"], 3).collect()
    # the single doc holding the rare term beats any pile of 'common'
    assert got[0]["doc_id"] == 100


def test_bm25_plan_is_scan_shaped(spark):
    """No keyed shuffle: the only exchanges are the scalar aggregate's
    single-partition gather and the broadcast back — never a hash
    partitioning of the corpus."""
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "b c")], ["doc_id", "text"])
    plan = (bm25_topk(docs, ["b"], 2)
            ._jdf.queryExecution().executedPlan().toString())
    assert "hashpartitioning" not in plan.lower()
    assert "TakeOrderedAndProject" in plan


def test_ivf_ann_recall_beats_fraction_scanned(spark, sf_dir):
    """Learned-quantizer IVF scanning 2/8 lists must recover most of
    the exact top-10 (the point of clustering by data distribution),
    and the fit must be deterministic across reruns."""
    from etl_dados_ibge_sp_spark.operators.similarity import (
        ann_ivf_topk,
        cosine_topk,
        kmeans_fit,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") != 0)
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("query_vec"))

    cents = kmeans_fit(corpus, k=8, n_iter=3)
    again = kmeans_fit(corpus.repartition(7), k=8, n_iter=3)
    assert cents == again  # decimal-summed updates: partitioning-proof

    exact = {r["vec_id"] for r in cosine_topk(corpus, query, 10).collect()}
    ivf = {r["vec_id"]
           for r in ann_ivf_topk(corpus, query, 10, cents, 2).collect()}
    recall = len(exact & ivf) / 10
    assert recall >= 0.7, recall


def _ts(s):
    return datetime.datetime.fromisoformat(s)


def test_scd2_intervals_runs_and_edges(spark):
    feed = spark.createDataFrame(
        [(1, "bronze", _ts("2024-01-01T00:00:00"), 1),
         (1, "bronze", _ts("2024-01-02T00:00:00"), 2),
         (1, "silver", _ts("2024-01-03T00:00:00"), 3),
         (1, "bronze", _ts("2024-01-04T00:00:00"), 4),
         (2, "gold", _ts("2024-01-01T12:00:00"), 5)],
        ["k", "tier", "ts", "seq"])
    got = {(r["k"], str(r["valid_from"])): r
           for r in scd2_intervals(feed, "k", "tier", "ts", "seq").collect()}
    assert len(got) == 4  # bronze run collapses; re-entry opens a NEW row
    first = got[(1, "2024-01-01 00:00:00")]
    assert first["tier"] == "bronze" and first["n_changes"] == 2
    assert str(first["valid_to"]) == "2024-01-03 00:00:00"
    assert not first["is_current"]
    reentry = got[(1, "2024-01-04 00:00:00")]
    assert reentry["tier"] == "bronze" and reentry["is_current"]
    assert reentry["valid_to"] is None
    assert got[(2, "2024-01-01 12:00:00")]["is_current"]


def test_scd2_equal_ts_tiebreak_deterministic(spark):
    t = _ts("2024-01-01T00:00:00")
    feed = spark.createDataFrame(
        [(1, "a", t, 2), (1, "b", t, 1)], ["k", "tier", "ts", "seq"])
    rows = sorted(scd2_intervals(feed, "k", "tier", "ts", "seq").collect(),
                  key=lambda r: r["tier"])
    # seq orders b before a: b's interval closes, a stays current
    assert rows[0]["tier"] == "a" and rows[0]["is_current"]
    assert rows[1]["tier"] == "b" and not rows[1]["is_current"]


def test_scd2_single_shuffle(spark):
    feed = spark.createDataFrame(
        [(1, "a", _ts("2024-01-01T00:00:00"), 1)],
        ["k", "tier", "ts", "seq"])
    plan = (scd2_intervals(feed, "k", "tier", "ts", "seq")
            ._jdf.queryExecution().executedPlan().toString())
    # one hash partitioning on the key, reused by every window/agg
    assert plan.lower().count("hashpartitioning") <= 1


def test_batch_ann_agrees_with_single_query_path(spark, sf_dir):
    """The batch serving join must return, for any one query, exactly
    what the single-query IVF probe returns (same model, same planted
    fixture, same k) — the batch operator is a widening, not a
    different algorithm."""
    from pyspark.sql import functions as F

    from etl_dados_ibge_sp_spark.operators import similarity as S
    from etl_dados_ibge_sp_spark.queries._shared import (
        _ivf_model, planted_clusters)
    from etl_dados_ibge_sp_spark.sources.parquet_source import load_table

    corpus, cents = _ivf_model(spark, sf_dir)
    planted = planted_clusters(load_table(spark, sf_dir, "embeddings"))
    queries = planted.filter(F.col("vec_id") == 0).select(
        F.lit(0).alias("query_id"),
        F.col("embedding").alias("query_vec"))
    batch = {(r["vec_id"], r["cos_sim"])
             for r in S.ann_ivf_topk_batch(corpus, queries, k=5,
                                           centroids=cents,
                                           nprobe=2).collect()}
    single = {(r["vec_id"], r["cos_sim"])
              for r in S.ann_ivf_topk(
                  corpus,
                  planted.filter(F.col("vec_id") == 0)
                  .select(F.col("embedding").alias("query_vec")),
                  k=5, centroids=cents, nprobe=2)
              .select("vec_id", "cos_sim").collect()}
    assert batch == single and len(batch) == 5

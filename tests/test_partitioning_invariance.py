"""Partitioning-invariance law: every new round-3 operator must return
the IDENTICAL result at any parallelism — the property that makes the
DuckDB oracle meaningful and the 100-TB deployment reproducible."""

from __future__ import annotations

import pytest

from etl_dados_ibge_sp_spark.registry import all_queries

QUERIES = all_queries()

CHECKED = [
    "corpus_mix",
    "unigram_logprob",
    "docs_shuffle_shard",
    "pretrain_sequences",
    "nation_pagerank",
    "merge_upsert",
    "events_resample_locf",
    # round-4 deferred operators whose determinism is non-obvious:
    # sampling/top-k ties, iterative graph ops, partial-state merges,
    # batch-dependent heavy-hitter candidates.
    "weighted_sample_docs",
    "nation_trade_triangles",
    "nation_trade_bfs",
    "heavy_hitter_tokens",
    "incremental_agg_maintenance",
    "corpus_mix_temperature",
    "zorder_key_orders",
    # tranche-2 operators whose determinism is non-obvious: the
    # frame-ordered collect_list fold, rank ties in top-k, the
    # distinct-doc dup-gram count, and argmax-with-ties (Q15).
    "events_decay_sum",
    "text_tfidf_topk",
    "text_dup_ngram_spans",
    "top_revenue_supplier",
    "mode_event_per_user",
    # selection aggregates (min_by/max_by merge order) and the in-row
    # sorted collect_list concat.
    "events_ohlc_bars",
    "nation_top_customer_csv",
    # tranche-6 operators whose determinism is non-obvious: top-k /
    # argmax tie-breaks (paths, CUSUM), order-statistic selection by
    # rank (gap quantiles), the global cumulative windows (ABC, KS),
    # and the pair-generating shingle join.
    "event_path_topk",
    "cusum_changepoint",
    "session_gap_stats",
    "abc_classification",
    "ks_two_sample_sources",
    "dedup_containment",
]


def _canon(df):
    cols = sorted(df.columns)
    return sorted(tuple(str(r[c]) for c in cols) for r in df.collect())


@pytest.mark.parametrize("name", CHECKED)
def test_result_invariant_under_parallelism(name, spark, sf_dir):
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        a = _canon(QUERIES[name](spark, sf_dir))
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        b = _canon(QUERIES[name](spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
    assert a == b, f"{name} result depends on partitioning"

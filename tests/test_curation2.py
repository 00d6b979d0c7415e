"""Unit laws for the round-2 curation operators: PII redaction,
decontamination, repetition, chunking, packing, funnel.

These pin behavior on crafted fixtures; engine parity for the same
operators runs in test_oracle_parity.py against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_dados_ibge_sp_spark.operators import dedup as D
from etl_dados_ibge_sp_spark.operators import text as T
from etl_dados_ibge_sp_spark.registry import REGISTRY, all_queries

all_queries()  # registers every family


def test_redact_pii_all_categories(spark):
    df = spark.createDataFrame(
        [("mail a@b.com phone 555-123-4567 ssn 123-45-6789 "
          "ip 10.0.0.3 end",)], ["t"])
    out = df.select(T.redact_pii(F.col("t")).alias("r")).first().r
    assert out == "mail [EMAIL] phone [PHONE] ssn [SSN] ip [IP] end"


def test_redact_pii_leaves_clean_text_alone(spark):
    df = spark.createDataFrame([("plain words 12 and dots. end",)], ["t"])
    out = df.select(T.redact_pii(F.col("t")).alias("r")).first().r
    assert out == "plain words 12 and dots. end"


def test_pii_counts_independent(spark):
    df = spark.createDataFrame([("a@b.co and c@d.org 999-88-7777",)], ["t"])
    c = T.pii_counts(F.col("t"))
    row = df.select(c["[EMAIL]"].alias("e"), c["[SSN]"].alias("s"),
                    c["[PHONE]"].alias("p"), c["[IP]"].alias("i")).first()
    assert (row.e, row.s, row.p, row.i) == (2, 1, 0, 0)


def test_contamination_planted_duplicate(spark):
    train = spark.createDataFrame(
        [(1, "alpha beta gamma delta"),
         (2, "zeta eta theta iota")], ["doc_id", "text"])
    ev = spark.createDataFrame(
        [(100, "alpha beta gamma delta")], ["doc_id", "text"])
    out = {r.doc_id: r for r in
           D.contamination_stats(train, ev, "doc_id", "text", n=3)
           .collect()}
    assert out[1].contamination_ratio == 1.0 and out[1].contaminated
    assert out[2].n_contaminated == 0 and not out[2].contaminated


def test_contamination_short_doc_zero_grams(spark):
    train = spark.createDataFrame([(1, "one two")], ["doc_id", "text"])
    ev = spark.createDataFrame([(9, "a b c d")], ["doc_id", "text"])
    r = D.contamination_stats(train, ev, "doc_id", "text", n=3).first()
    assert r.n_grams == 0 and r.contamination_ratio == 0.0


def test_doc_chunk_covers_all_tokens(spark, sf_dir):
    """Chunks at stride 24 / width 32: starts are 1,25,49,…; adjacent
    chunks overlap by 8; the union of chunk tokens covers the doc."""
    out = REGISTRY["doc_chunk"].fn(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_tok = docs.select(
        F.sum(F.size(T.tokens(F.col("text")))).alias("s")).first().s
    # Sum of distinct (non-overlapped) contributions: every chunk but
    # the first contributes its stride-worth unless shorter.
    per_doc = (out.groupBy("doc_id")
               .agg(F.count("*").alias("n_chunks"),
                    F.max("chunk_id").alias("max_id"))
               .collect())
    for r in per_doc:
        assert r.n_chunks == r.max_id + 1
    # Last chunk of each doc is 1..32 tokens; others exactly 32.
    bad = out.filter((F.col("n_chunk_tokens") < 1) |
                     (F.col("n_chunk_tokens") > 32)).count()
    assert bad == 0
    assert n_tok > 0


def test_seq_pack_partitions_docs(spark, sf_dir):
    """Packing is a partition of docs: per-source doc counts and token
    totals are preserved, and bins are contiguous id ranges."""
    out = REGISTRY["seq_pack"].fn(spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    truth = {r.source: (r.n, r.tok) for r in
             docs.groupBy("source")
             .agg(F.count("*").alias("n"),
                  F.sum(F.size(T.tokens(F.col("text")))).alias("tok"))
             .collect()}
    by_src: dict[str, list] = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r)
    for src, bins in by_src.items():
        assert sum(b.n_docs for b in bins) == truth[src][0]
        assert sum(b.total_tokens for b in bins) == truth[src][1]
        bins.sort(key=lambda b: b.bin_id)
        for a, b in zip(bins, bins[1:]):
            assert a.last_doc < b.first_doc  # contiguous, non-overlapping


def test_funnel_monotone(spark, sf_dir):
    r = REGISTRY["events_funnel"].fn(spark, sf_dir).first()
    assert r.n_view >= r.n_view_click >= r.n_view_click_purchase >= 0


def test_retention_week0_is_cohort_size(spark, sf_dir):
    """Every user is active in their own first week, so week 0 counts
    across cohorts must sum to the number of distinct users."""
    out = REGISTRY["user_retention"].fn(spark, sf_dir)
    week0 = (out.filter(F.col("week_offset") == 0)
             .agg(F.sum("n_users").alias("s")).first().s)
    n_users = (spark.read.parquet(f"{sf_dir}/events.parquet")
               .select("user_id").distinct().count())
    assert week0 == n_users

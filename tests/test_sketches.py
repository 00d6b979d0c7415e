"""Laws for the mergeable sketches (operators/sketches) that the
oracle-parity rows cannot express: accuracy bounds, merge algebra,
the bounded-state prefilter's safety, Bloom's no-false-negative /
low-false-positive guarantees, and the Q21 decorrelation plan shape.
Value-level parity (hashes, order statistics, counters, estimates vs
DuckDB) runs in tests/test_oracle_parity.py like every query."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_dados_ibge_sp_spark.operators import sketches as SK
from etl_dados_ibge_sp_spark.sources.parquet_source import load_table


def _user_days(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    day = F.floor(F.unix_micros(F.col("ts")) / F.lit(86400000000)) \
        .cast("bigint")
    return ev.select(
        "event_type",
        F.concat_ws("|", F.col("user_id"), day).alias("uday"))


def test_kmv_estimate_within_error_bound(spark, sf_dir):
    """KMV relative error concentrates around 1/sqrt(k-1) (~12.6% at
    k=64); 3x that is a deterministic-pass bound on this data."""
    keyed = _user_days(spark, sf_dir)
    est = SK.kmv_estimate(SK.kmv_sketch(keyed, "event_type", "uday",
                                        k=64), k=64)
    exact = keyed.groupBy("event_type") \
        .agg(F.countDistinct("uday").alias("nd"))
    rows = est.join(exact, "event_type").collect()
    assert rows
    for r in rows:
        rel = abs(r["n_distinct_est"] - r["nd"]) / r["nd"]
        assert rel <= 0.38, \
            f"{r['event_type']}: est {r['n_distinct_est']} vs {r['nd']}"


def test_kmv_prefilter_matches_bruteforce_on_heavy_duplicates(spark):
    """The HLL-sized threshold prefilter must be correctness-neutral
    even when keys repeat heavily (few distinct among many rows — the
    regime where a row-count-based threshold would starve the sketch;
    the operator sizes it from approx_count_distinct instead).  The
    sketch must equal the brute-force k smallest distinct hashes."""
    n_distinct, k = 700, 64
    df = spark.range(0, n_distinct * 20).select(
        F.lit("g").alias("g"),
        (F.col("id") % n_distinct).cast("string").alias("key"))
    got = SK.kmv_sketch(df, "g", "key", k=k).collect()[0]["kmv"]
    brute = (df.select(SK.hash60(F.col("key"), "kmv").alias("h"))
             .distinct().orderBy("h").limit(k).collect())
    assert got == [r["h"] for r in brute]
    assert len(got) == k


def test_kmv_merge_equals_sketch_of_union(spark):
    """Sketches are partial aggregates: merging per-shard sketches
    must equal sketching the union (associative combine)."""
    k = 32
    full = spark.range(0, 3000).select(
        F.lit("g").alias("g"), F.col("id").cast("string").alias("key"))
    a = full.filter(F.col("id") % 2 == 0)
    b = full.filter(F.col("id") % 2 == 1)
    sk_a = SK.kmv_sketch(a, "g", "key", k=k) \
        .withColumnRenamed("kmv", "kmv_a")
    sk_b = SK.kmv_sketch(b, "g", "key", k=k) \
        .withColumnRenamed("kmv", "kmv_b")
    merged = (sk_a.join(sk_b, "g")
              .select(SK.kmv_merge(F.col("kmv_a"), F.col("kmv_b"), k)
                      .alias("kmv")).collect()[0]["kmv"])
    whole = SK.kmv_sketch(full, "g", "key", k=k).collect()[0]["kmv"]
    assert merged == whole


def test_kmv_intersection_estimate(spark):
    """KMV set algebra: the intersection estimate tracks the true
    overlap (planted: |A|=2000, |B|=2000, |A∩B|=1000) within the
    k=64 sampling error, and is EXACT when both sets fit their
    sketches."""
    k = 64
    a = spark.range(0, 2000).select(
        F.lit("g").alias("g"), F.col("id").cast("string").alias("key"))
    b = spark.range(1000, 3000).select(
        F.lit("g").alias("g"), F.col("id").cast("string").alias("key"))
    sk_a = SK.kmv_sketch(a, "g", "key", k=k) \
        .withColumnRenamed("kmv", "ka")
    sk_b = SK.kmv_sketch(b, "g", "key", k=k) \
        .withColumnRenamed("kmv", "kb")
    est = (sk_a.join(sk_b, "g")
           .select(SK.kmv_intersect_estimate(F.col("ka"), F.col("kb"), k)
                   .alias("i")).collect()[0]["i"])
    assert abs(est - 1000) / 1000 <= 0.5, est  # ~3x the k=64 std err

    # Small sets (|A∪B| = 50 < k): sketches hold everything, the
    # merged sketch IS the union -> estimate is exact.
    sa = spark.range(0, 30).select(
        F.lit("g").alias("g"), F.col("id").cast("string").alias("key"))
    sb = spark.range(20, 50).select(
        F.lit("g").alias("g"), F.col("id").cast("string").alias("key"))
    ska = SK.kmv_sketch(sa, "g", "key", k=k).withColumnRenamed("kmv", "ka")
    skb = SK.kmv_sketch(sb, "g", "key", k=k).withColumnRenamed("kmv", "kb")
    exact = (ska.join(skb, "g")
             .select(SK.kmv_intersect_estimate(F.col("ka"), F.col("kb"),
                                               k).alias("i"))
             .collect()[0]["i"])
    assert exact == 10.0


def test_countmin_never_undercounts_and_bounds_overcount(spark, sf_dir):
    """min-of-d counters >= true count always (each counter holds the
    key's own mass plus collisions); the overcount is the collision
    mass, deterministically small on this data (<= 4 * N/w)."""
    ev = load_table(spark, sf_dir, "events")
    counters = SK.countmin_counters(ev.select("user_id"), "user_id",
                                    depth=4, width=256)
    keys = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact"))
    lk = SK.countmin_lookup(counters, keys, "user_id",
                            depth=4, width=256)
    n_total = ev.count()
    rows = lk.collect()
    assert rows
    for r in rows:
        assert r["cm_est"] >= r["exact"], f"undercount for {r['user_id']}"
        assert r["cm_est"] - r["exact"] <= 4 * n_total / 256


def test_countmin_unseen_keys_report_zero(spark):
    """A key never inserted must estimate 0 when any of its cells is
    untouched, and must STILL APPEAR in the output — the left-join +
    coalesce contract (an inner join would drop empty cells from the
    min, or lose the key entirely)."""
    ins = spark.createDataFrame([(f"k{i}",) for i in range(10)],
                                "key string")
    counters = SK.countmin_counters(ins, "key", depth=4, width=256)
    probe = spark.createDataFrame([("k1",), ("never-seen-a",),
                                   ("never-seen-b",)], "key string")
    got = {r["key"]: r["cm_est"]
           for r in SK.countmin_lookup(counters, probe, "key",
                                       depth=4, width=256).collect()}
    assert set(got) == {"k1", "never-seen-a", "never-seen-b"}
    assert got["k1"] >= 1
    # 10 inserts x 4 cells in 1024 cells: the chance an unseen key's 4
    # cells are ALL occupied is ~(40/256)^4 — these fixed keys hit 0.
    assert got["never-seen-a"] == 0
    assert got["never-seen-b"] == 0


def test_countmin_counter_matrix_is_fixed_size(spark, sf_dir):
    """The summary must stay <= depth*width rows no matter the input —
    that fixed size IS the sketch's scale property."""
    ev = load_table(spark, sf_dir, "events")
    n = SK.countmin_counters(ev.select("user_id"), "user_id",
                             depth=4, width=256).count()
    assert n <= 4 * 256


def test_bloom_no_false_negatives_and_prunes(spark, sf_dir):
    """Every true match survives the prune (the pruned-join equals the
    plain join row-for-row) and the prune actually removes the bulk of
    the non-matching fact rows (urgent orders are ~20% of orders)."""
    orders = load_table(spark, sf_dir, "orders", fan_out=False)
    li = load_table(spark, sf_dir, "lineitem", fan_out=False)
    build = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    words = SK.bloom_build(build, "o_orderkey")
    pruned = SK.bloom_prune(li, "l_orderkey", words)
    exact = li.join(build, li.l_orderkey == build.o_orderkey).count()
    n_pruned, n_all = pruned.count(), li.count()
    matched = pruned.join(build, pruned.l_orderkey == build.o_orderkey) \
        .count()
    assert matched == exact          # conservative: no true match lost
    assert n_pruned >= exact         # survivors include all matches
    assert n_pruned < 0.5 * n_all    # and the filter genuinely prunes


def test_bloom_false_positive_rate_on_disjoint_keys(spark):
    """With build and probe keys fully disjoint, everything kept is a
    false positive; at n=5000 keys in m=2^20 bits / 3 hashes the
    expected fp rate is ~(1-e^(-3n/m))^3 ~ 2.7e-6 — assert a 100x
    slack bound, deterministic on these hashes."""
    build = spark.range(0, 5000).select(F.col("id").alias("k"))
    probe = spark.range(100000, 120000).select(F.col("id").alias("k"))
    words = SK.bloom_build(build, "k")
    kept = SK.bloom_prune(probe, "k", words).count()
    assert kept <= 20000 * 2.7e-6 * 100 + 1


def test_sole_returned_supplier_decorrelates(spark, sf_dir):
    """The Q21 shape's correlated EXISTS / NOT EXISTS must decorrelate
    to semi/anti self-joins — no per-row Subquery node survives in the
    physical plan."""
    from etl_dados_ibge_sp_spark.queries.tpch import _q_sole_returned_supplier
    plan = _q_sole_returned_supplier(spark, sf_dir) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Join" in plan
    assert "Subquery" not in plan, plan[:2000]
    assert "LeftSemi" in plan, plan[:2000]
    assert "LeftAnti" in plan, plan[:2000]


def test_radius_search_matches_bruteforce_filter(spark, sf_dir):
    """cosine_radius == the cosine_topk scoring projection filtered at
    the threshold (same rounded score, so identical row set)."""
    from etl_dados_ibge_sp_spark.operators import similarity as S
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("query_vec"))
    corpus = emb.filter(F.col("vec_id") != 0) \
        .select("vec_id", "embedding")
    got = {r["vec_id"]: r["cos_sim"]
           for r in S.cosine_radius(corpus, query, 0.15).collect()}
    big_k = corpus.count()
    brute = {r["vec_id"]: r["cos_sim"]
             for r in S.cosine_topk(corpus, query, k=big_k).collect()
             if r["cos_sim"] >= 0.15}
    assert got == brute
    assert got  # non-empty at every test scale factor


def test_bloom_decontaminate_equals_exact(spark, sf_dir):
    """The Bloom-prefiltered decontamination gate must be
    ROW-IDENTICAL to the exact contamination_stats (bloom keeps every
    true hit; false positives die at the exact semi-join; per-doc
    totals are captured before the prune)."""
    from etl_dados_ibge_sp_spark.operators.dedup import (
        bloom_decontaminate, contamination_stats)

    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 23 != 0)
    ev = docs.filter(F.col("doc_id") % 23 == 0)
    cols = ["doc_id", "n_grams", "n_contaminated",
            "contamination_ratio", "contaminated"]
    got = sorted(tuple(r[c] for c in cols)
                 for r in bloom_decontaminate(train, ev, "doc_id",
                                              "text").collect())
    want = sorted(tuple(r[c] for c in cols)
                  for r in contamination_stats(train, ev, "doc_id",
                                               "text").collect())
    assert got == want and got

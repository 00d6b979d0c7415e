"""Laws for SemDeDup (operators/similarity.semantic_dedup): planted
duplicate groups keep exactly their most-prototypical member, k=1
equals the brute-force global rule, the run is deterministic, and the
real embeddings table shrinks sanely."""

from __future__ import annotations

import math

from etl_dados_ibge_sp_spark.operators.similarity import semantic_dedup
from etl_dados_ibge_sp_spark.sources.parquet_source import load_table


def _unit(v):
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v]


def _planted(spark):
    """Two well-separated clusters; each contains a duplicate group
    (cosine ~1 within the group) plus a singleton."""
    rows = [
        # cluster around +x: dup group {1, 2, 3} + singleton 4
        (1, _unit([1.0, 0.01, 0.0])),
        (2, _unit([1.0, 0.011, 0.0])),
        (3, _unit([1.0, 0.009, 0.0])),
        (4, _unit([0.8, 0.6, 0.0])),        # same region, not a dup
        # cluster around +y: dup group {5, 6} + singleton 7
        (5, _unit([0.01, 1.0, 0.0])),
        (6, _unit([0.009, 1.0, 0.0])),
        (7, _unit([0.0, 0.75, 0.66])),
    ]
    return spark.createDataFrame(rows,
                                 "vec_id bigint, embedding array<double>")


def test_planted_groups_keep_one_prototype(spark):
    emb = _planted(spark)
    kept = semantic_dedup(emb, threshold=0.999, k=2, n_iter=4)
    ids = sorted(r.vec_id for r in kept.collect())
    # Exactly one survivor per dup group, singletons untouched.
    assert len({1, 2, 3} & set(ids)) == 1
    assert len({5, 6} & set(ids)) == 1
    assert {4, 7} <= set(ids)
    assert len(ids) == 4


def test_k1_equals_bruteforce_global_rule(spark):
    emb = _planted(spark)
    kept = sorted(r.vec_id for r in
                  semantic_dedup(emb, threshold=0.999, k=1)
                  .collect())
    # Brute force: priority = (cos to global centroid desc, id asc);
    # drop anything with a higher-priority mate at >= threshold.
    rows = {r.vec_id: r.embedding for r in emb.collect()}
    mean = [sum(v[d] for v in rows.values()) / len(rows)
            for d in range(3)]
    mean = _unit(mean)

    def cos(a, b):
        return round(sum(x * y for x, y in zip(a, b)), 6)

    pri = {i: (round(cos(v, mean), 6), -i) for i, v in rows.items()}
    want = sorted(
        i for i, v in rows.items()
        if not any(pri[j] > pri[i] and cos(v, w) >= 0.999
                   for j, w in rows.items() if j != i))
    assert kept == want


def test_deterministic_across_runs(spark):
    emb = _planted(spark)
    a = sorted(map(tuple, semantic_dedup(emb, 0.999, k=2).collect()))
    b = sorted(map(tuple, semantic_dedup(emb, 0.999, k=2).collect()))
    assert a == b


def test_real_embeddings_sane(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    kept = semantic_dedup(emb, threshold=0.99, k=4, n_iter=2)
    m = kept.count()
    assert 0 < m <= n
    # Survivors carry their cluster + prototypicality evidence.
    assert set(kept.columns) == {"vec_id", "cluster", "centroid_sim"}


def test_incremental_matches_warehouse_priority_restatement(spark):
    """Identity law for the arrival path: with the same FIXED
    centroids, semantic_dedup_incremental(W, B) keeps exactly the
    batch rows the batch policy over W ∪ B keeps when every warehouse
    row outranks every batch row — the warehouse-is-canonical
    semantics of the reference's anti-join incremental load."""
    import math

    from etl_dados_ibge_sp_spark.operators.similarity import (
        semantic_dedup_incremental)

    # Warehouse: the two planted cluster keepers + singletons (dup-free
    # at the threshold, as a real deduplicated warehouse is).
    wh_rows = [
        (1, _unit([1.0, 0.01, 0.0])),
        (4, _unit([0.8, 0.6, 0.0])),
        (5, _unit([0.01, 1.0, 0.0])),
        (7, _unit([0.0, 0.75, 0.66])),
    ]
    # Batch: a dup of warehouse id 1 (must drop), a within-batch dup
    # pair (one survives), and a novel singleton (survives).
    batch_rows = [
        (101, _unit([1.0, 0.0105, 0.0])),    # dup of warehouse 1
        # dup pair with each other, far from every warehouse row
        # (cos vs warehouse 5 ~0.93 < threshold):
        (102, _unit([0.35, 0.90, 0.25])),
        (103, _unit([0.352, 0.90, 0.25])),
        (104, _unit([0.6, 0.0, 0.8])),       # novel
    ]
    cents = [_unit([1.0, 0.0, 0.0]), _unit([0.0, 1.0, 0.0])]
    schema = "vec_id bigint, embedding array<double>"
    W = spark.createDataFrame(wh_rows, schema)
    B = spark.createDataFrame(batch_rows, schema)

    kept = sorted(
        r.vec_id for r in
        semantic_dedup_incremental(W, B, cents, threshold=0.999)
        .collect())

    # Brute-force restatement over W ∪ B with warehouse priority.
    def cos(a, b):
        return round(sum(x * y for x, y in zip(a, b)), 6)

    def assign(v):
        sims = [cos(v, c) for c in cents]
        return sims.index(max(sims)), round(max(sims), 6)

    rows = {i: v for i, v in wh_rows + batch_rows}
    cl = {i: assign(v) for i, v in rows.items()}
    wh_ids = {i for i, _ in wh_rows}

    def pri(i):
        return (1 if i in wh_ids else 0, cl[i][1], -i)

    want = sorted(
        i for i, v in rows.items()
        if i not in wh_ids
        and not any(cl[j][0] == cl[i][0] and pri(j) > pri(i)
                    and cos(rows[j], v) >= 0.999
                    for j in rows if j != i))
    assert kept == want
    # The structure is the intended one, not vacuous: the warehouse
    # dup dropped, one of the batch pair survived, the novel survived.
    assert 101 not in kept and 104 in kept
    assert len({102, 103} & set(kept)) == 1


def test_incremental_never_scans_warehouse_pairs(spark):
    """Scale-shape pin: the arrival path's plan joins batch against
    warehouse and batch against batch, but NEVER warehouse against
    warehouse — no corpus-quadratic term on the nightly load."""
    import contextlib
    import io
    import re

    from etl_dados_ibge_sp_spark.operators.similarity import (
        kmeans_fit, semantic_dedup_incremental)

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    W = emb.filter("vec_id % 5 != 0")
    B = emb.filter("vec_id % 5 = 0")
    cents = kmeans_fit(W, k=4, n_iter=2)
    out = semantic_dedup_incremental(W, B, cents, threshold=0.99)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    assert not re.search(r"BatchEvalPython(?!UDTF)", plan)
    assert out.count() <= B.count()


def test_repeated_calls_do_not_leak_cache_entries(spark):
    """Each semantic_dedup call persists its assignment table; the
    NEXT public-entry call must evict the prior pins (bench warm+timed
    runs and driver rounds invoke repeatedly — an unbounded
    CacheManager is a session-lifetime leak).  Pin: cached-RDD count
    after N calls equals the count after one."""
    from etl_dados_ibge_sp_spark.operators.similarity import (
        kmeans_fit, semantic_dedup_incremental)

    def n_cached():
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    emb = _planted(spark)
    semantic_dedup(emb, threshold=0.999, k=2, n_iter=4).count()
    after_one = n_cached()
    for _ in range(3):
        semantic_dedup(emb, threshold=0.999, k=2, n_iter=4).count()
    assert n_cached() == after_one
    # The incremental form pins TWO tables per call; same bound.
    W = emb.filter("vec_id <= 4")
    B = emb.filter("vec_id > 4")
    cents = kmeans_fit(W, k=2, n_iter=2)
    semantic_dedup_incremental(W, B, cents, threshold=0.999).count()
    after_incr = n_cached()
    for _ in range(3):
        semantic_dedup_incremental(W, B, cents, threshold=0.999).count()
    assert n_cached() == after_incr


def test_multi_probe_catches_boundary_straddling_pair(spark):
    """The paper's known miss: a duplicate pair whose members land in
    DIFFERENT primary cells is invisible at n_probe=1 and caught at
    n_probe=2 (each item also compares against its second-nearest
    cell).  Fixed centroids pin the cells so the straddle is exact;
    everything else (keeper policy, output schema, determinism) must
    be unchanged."""
    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
    rows = [
        (1, _unit([1.0, 0.05, 0.0])),    # firmly cell 0
        (2, _unit([0.05, 1.0, 0.0])),    # firmly cell 1
        # The straddling duplicate pair: near the bisector, tilted so
        # 10 -> cell 0 and 11 -> cell 1; cosine(10, 11) ~ 0.9998.
        (10, _unit([1.0, 0.98, 0.0])),
        (11, _unit([0.98, 1.0, 0.0])),
    ]
    emb = spark.createDataFrame(rows,
                                "vec_id bigint, embedding array<double>")
    miss = semantic_dedup(emb, threshold=0.999, centroids=cents)
    assert sorted(r.vec_id for r in miss.collect()) == [1, 2, 10, 11]
    hit = semantic_dedup(emb, threshold=0.999, centroids=cents,
                         n_probe=2)
    got = {r.vec_id: r for r in hit.collect()}
    # 10 beats 11 (equal rounded centroid_sim -> lower id wins).
    assert sorted(got) == [1, 2, 10]
    # Schema and primary-cluster assignment unchanged by the probe.
    assert hit.columns == ["vec_id", "cluster", "centroid_sim"]
    assert got[1].cluster != got[2].cluster
    # Determinism across runs.
    again = sorted(r.vec_id for r in
                   semantic_dedup(emb, threshold=0.999,
                                  centroids=cents, n_probe=2).collect())
    assert again == [1, 2, 10]


def test_auto_k_is_default_and_result_identical_to_fixed(spark):
    """The scale-safe sizing is now the SIGNATURE DEFAULT, not
    caller-side folklore: semantic_dedup(k="auto") derives k from one
    corpus count (auto_semdedup_k ≈ √n/2 — the measured sf1.0
    mitigation shape) and, on the registered query's own planted
    exact-duplicate fixture, keeps EXACTLY the set the oracle-pinned
    k=8 keeps (kept-set k-invariance on exact dups is the companion
    law below)."""
    import inspect

    from etl_dados_ibge_sp_spark.operators.similarity import (
        auto_semdedup_k, semantic_dedup)
    from etl_dados_ibge_sp_spark.queries._shared import planted_clusters
    from etl_dados_ibge_sp_spark.sources.parquet_source import load_table
    from pyspark.sql import functions as F

    # auto IS the default (the round-8 verdict's ask).
    assert inspect.signature(semantic_dedup).parameters["k"].default \
        == "auto"

    pl = planted_clusters(
        load_table(spark, "/root/testdata/sf0.001", "embeddings"))
    copies = pl.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.1).alias("embedding"))
    corpus = pl.unionByName(copies)
    k_auto = auto_semdedup_k(corpus)
    assert k_auto == round(math.sqrt(corpus.count()) / 2)
    kept_auto = sorted(r.vec_id for r in
                       semantic_dedup(corpus, threshold=0.9999).collect())
    kept_fixed = sorted(r.vec_id for r in
                        semantic_dedup(corpus, threshold=0.9999,
                                       k=8).collect())
    assert kept_auto == kept_fixed
    assert len(kept_auto) == pl.count()         # every copy dropped


def test_auto_k_skips_count_when_centroids_given(spark):
    """A provided ingest-time model fixes the cell count, so k="auto"
    must not spend a count() job — the incremental/production path
    never re-derives k."""
    from unittest import mock

    from etl_dados_ibge_sp_spark.operators import similarity as S

    emb = _planted(spark)
    cents = S.kmeans_fit(emb, k=2, n_iter=2)
    with mock.patch.object(S, "auto_semdedup_k",
                           side_effect=AssertionError(
                               "auto k computed despite centroids")):
        S.semantic_dedup(emb, threshold=0.999, centroids=cents).count()


def test_exact_duplicate_verdicts_k_invariant(spark):
    """Grounds the k-scaling recommendation (SCALE.md curve section):
    on an exact-duplicate corpus the KEPT SET is invariant to k —
    a scaled copy has the identical direction as its original, so
    they share a cell under ANY centroid set and the copy always
    loses (equal rounded centroid_sim, higher id).  This is what
    makes "scale k with n" a pure performance knob for the dedup
    verdicts the fixture pins.  (In general k changes which NEAR-dup
    pairs share a cell — that recall trade is the documented
    n_probe/k design space, not a correctness drift.)"""
    from etl_dados_ibge_sp_spark.operators.similarity import kmeans_fit
    from etl_dados_ibge_sp_spark.queries._shared import planted_clusters
    from etl_dados_ibge_sp_spark.sources.parquet_source import load_table
    from pyspark.sql import functions as F

    pl = planted_clusters(
        load_table(spark, "/root/testdata/sf0.001", "embeddings"))
    copies = pl.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.1).alias("embedding"))
    corpus = pl.unionByName(copies)
    n_orig = pl.count()
    kept_by_k = {}
    for k in (2, 8, 16):
        cents = kmeans_fit(corpus, k=k, n_iter=2)
        kept = semantic_dedup(corpus, threshold=0.9999, k=k,
                              centroids=cents)
        kept_by_k[k] = sorted(r.vec_id for r in kept.collect())
    assert kept_by_k[2] == kept_by_k[8] == kept_by_k[16]
    assert len(kept_by_k[8]) == n_orig          # every copy dropped
    assert max(kept_by_k[8]) < 1000000          # ...and none kept


def test_sampled_fit_deterministic_and_result_identical(spark):
    """The prose claim 'at extreme scale, fit on a deterministic
    sample' is now code: kmeans_fit_sampled trains the quantizer on an
    xxhash-selected subset (a pure function of the ids — bit-identical
    across runs and partitionings), and on the registered query's own
    planted fixture semantic_dedup with the sampled-fit centroids
    keeps EXACTLY the set the full fit keeps.  The sample size is
    forced small enough here (target 64 of ~2.2k vectors) that the
    law exercises real sampling, not the small-corpus fallback."""
    from etl_dados_ibge_sp_spark.operators.similarity import (
        kmeans_fit, kmeans_fit_sampled, semantic_dedup)
    from etl_dados_ibge_sp_spark.queries._shared import planted_clusters
    from etl_dados_ibge_sp_spark.sources.parquet_source import load_table
    from pyspark.sql import functions as F

    pl = planted_clusters(
        load_table(spark, "/root/testdata/sf0.001", "embeddings"))
    copies = pl.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.1).alias("embedding"))
    corpus = pl.unionByName(copies)

    n = corpus.count()
    cents_a = kmeans_fit_sampled(corpus, k=8, sample_target=64)
    cents_b = kmeans_fit_sampled(corpus, k=8, sample_target=64)
    assert cents_a == cents_b                    # deterministic
    assert n // 64 > 1, "fixture too small to exercise sampling"

    # Identical kept set vs the full fit (the planted centers are the
    # unique attractor: every cluster is represented in the sample, so
    # both fits converge to the same assignment structure).
    kept_sampled = sorted(
        r.vec_id for r in semantic_dedup(
            corpus, threshold=0.9999, k=8, centroids=cents_a).collect())
    kept_full = sorted(
        r.vec_id for r in semantic_dedup(
            corpus, threshold=0.9999, k=8,
            centroids=kmeans_fit(corpus, k=8)).collect())
    assert kept_sampled == kept_full
    assert len(kept_sampled) == pl.count()


def test_sampled_fit_falls_back_when_small(spark):
    """Below the sample target (or when the sample would undercut k)
    the sampled fit must equal the full fit exactly — no silent
    quality cliff on small corpora."""
    from etl_dados_ibge_sp_spark.operators.similarity import (
        kmeans_fit, kmeans_fit_sampled)

    emb = _planted(spark)
    assert kmeans_fit_sampled(emb, k=2, n_iter=2,
                              sample_target=4096) \
        == kmeans_fit(emb, k=2, n_iter=2)

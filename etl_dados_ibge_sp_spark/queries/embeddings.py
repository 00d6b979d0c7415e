"""Embedding and similarity queries: exact and approximate nearest neighbours,
quantization, centroids, hybrid search and batch model scoring.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import similarity as S
from ..operators.similarity import _as_double, dot
from ..registry import register
from ..sources.parquet_source import load_table
from ._shared import _ivf_model, _t, planted_clusters


# --------------------------------------------------------------------------
# Similarity search
# --------------------------------------------------------------------------

_COS_SQL = """
round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qe) /
      (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                             CAST(e.embedding AS DOUBLE[]))) *
       sqrt(list_dot_product(q.qe, q.qe))), 6)
"""


@register("embed_cosine_topk", sql=f"""
WITH q AS (
    SELECT CAST(embedding AS DOUBLE[]) AS qe
    FROM embeddings WHERE vec_id = 0
)
SELECT e.vec_id, {_COS_SQL} AS cos_sim
FROM embeddings e, q
WHERE e.vec_id != 0
ORDER BY cos_sim DESC, e.vec_id
LIMIT 10
""")
def q_embed_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k: broadcast query vector, JVM-side
    zip_with/aggregate fold, TakeOrdered top-k — the ANN baseline."""
    emb = _t(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("query_vec"))
    others = emb.filter(F.col("vec_id") != 0).select("vec_id", "embedding")
    return S.cosine_topk(others, query, k=10)


@register("embed_ann_bucketed", sql=f"""
WITH bucketed AS (
    SELECT vec_id, embedding,
           CAST((CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END)
              + (CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END)
              + (CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END)
              + (CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END)
             AS BIGINT) AS bucket
    FROM embeddings
), q AS (
    SELECT CAST(embedding AS DOUBLE[]) AS qe, bucket
    FROM bucketed WHERE vec_id = 0
)
SELECT e.vec_id, e.bucket, {_COS_SQL} AS cos_sim
FROM bucketed e JOIN q ON e.bucket = q.bucket
ORDER BY cos_sim DESC, e.vec_id
LIMIT 5
""")
def q_embed_ann_bucketed(spark, sf_dir):
    """IVF-style bucketed ANN: sign-bit coarse quantizer, probe scans
    only the query's bucket (partition-prunable at scale)."""
    emb = _t(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("query_vec"))
    return S.ann_bucketed_topk(emb, query, k=5, n_bits=4)


@register("embed_ann_multiprobe", sql=f"""
WITH bucketed AS (
    SELECT vec_id, embedding,
           CAST((CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END)
              + (CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END)
              + (CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END)
              + (CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END)
             AS BIGINT) AS bucket
    FROM embeddings
), q0 AS (
    SELECT CAST(embedding AS DOUBLE[]) AS qe, bucket
    FROM bucketed WHERE vec_id = 0
), q AS (
    SELECT qe, bucket FROM q0
    UNION ALL
    SELECT qe, xor(bucket, CAST(1 AS BIGINT) << j)
    FROM q0, generate_series(0, 3) t(j)
)
SELECT e.vec_id, e.bucket, {_COS_SQL} AS cos_sim
FROM bucketed e JOIN q ON e.bucket = q.bucket
ORDER BY cos_sim DESC, e.vec_id
LIMIT 10
""")
def q_embed_ann_multiprobe(spark, sf_dir):
    """Multi-probe IVF ANN: probe the query's sign bucket plus its
    Hamming-1 shell, recovering near-boundary neighbors single-probe
    misses at (1+n_bits)/2^n_bits of the scan cost."""
    emb = _t(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("query_vec"))
    return S.ann_multiprobe_topk(emb, query, k=10, n_bits=4)


_PLANT_SQL = """
    SELECT vec_id,
           list_transform(e, (x, i) ->
               x / sqrt(list_dot_product(e, e)) * CAST(0.1 AS DOUBLE)
               + CASE WHEN i - 1 = vec_id % 8 THEN CAST(1.0 AS DOUBLE)
                      ELSE CAST(0.0 AS DOUBLE) END) AS v
    FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings)
"""


@register("embed_ann_ivf", sql=f"""
WITH pl AS ({_PLANT_SQL}
), q AS (
    SELECT v AS qe FROM pl WHERE vec_id = 0
)
SELECT p.vec_id,
       round(list_dot_product(p.v, q.qe) /
             (sqrt(list_dot_product(p.v, p.v)) *
              sqrt(list_dot_product(q.qe, q.qe))), 6) AS cos_sim
FROM pl p, q
WHERE p.vec_id != 0
ORDER BY cos_sim DESC, p.vec_id
LIMIT 10
""")
def q_embed_ann_ivf(spark, sf_dir):
    """IVF ANN with a LEARNED coarse quantizer (spherical k-means fit
    in pure DataFrame iterations): probe the 2 nearest of 8 inverted
    lists.  Run over the planted-clusters fixture (see
    ``planted_clusters``) the IVF result EQUALS exact top-k — all true
    neighbors share the query's inverted list — so the oracle is the
    exact-cosine SQL over the same derived vectors: a full hash-match
    driver check for the ANN path, not just a recall bound.  The
    recall-vs-exact law on the raw (unplanted) embeddings stays pinned
    in tests/test_ranking_history.py."""
    corpus, cents = _ivf_model(spark, sf_dir)
    query = planted_clusters(_t(spark, sf_dir, "embeddings")) \
        .filter(F.col("vec_id") == 0) \
        .select(F.col("embedding").alias("query_vec"))
    return S.ann_ivf_topk(corpus, query, k=10, centroids=cents,
                          nprobe=2).select("vec_id", "cos_sim")


@register("dedup_embed_neardup", sql="""
WITH corpus AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    UNION ALL
    SELECT vec_id + 1000000,
           list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.1)
    FROM embeddings WHERE vec_id % 10 = 0
), b AS (
    SELECT vec_id, e,
           (CASE WHEN e[1] >= 0 THEN 1 ELSE 0 END)
         + (CASE WHEN e[2] >= 0 THEN 2 ELSE 0 END)
         + (CASE WHEN e[3] >= 0 THEN 4 ELSE 0 END)
         + (CASE WHEN e[4] >= 0 THEN 8 ELSE 0 END) AS bucket
    FROM corpus
), p AS (
    SELECT a.vec_id AS id_a, c.vec_id AS id_b,
           round(list_dot_product(a.e, c.e) /
                 (sqrt(list_dot_product(a.e, a.e)) *
                  sqrt(list_dot_product(c.e, c.e))), 6) AS cos_sim
    FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
)
SELECT id_a, id_b, cos_sim FROM p WHERE cos_sim >= 0.9
""")
def q_dedup_embed_neardup(spark, sf_dir):
    """Embedding-cosine near-dup: sign-bucket LSH self-join + cosine
    threshold.  The corpus plants scale-invariant copies (1.1×v for
    every 10th vector) so the planted pairs — and only they, the
    background max cosine is ~0.55 — must surface at cos≥0.9."""
    emb = _t(spark, sf_dir, "embeddings", fan_out=True)
    base = emb.select("vec_id",
                      F.col("embedding").cast("array<double>")
                       .alias("embedding"))
    planted = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(F.col("embedding").cast("array<double>"),
                    lambda x: x * 1.1).alias("embedding"))
    # n_bits PINNED (not "auto"): the DuckDB oracle above hardcodes
    # the 4-bit bucket formula, so the grid must stay closed-form.
    # Lifted callers get the operator's auto-sizing default — the
    # measured scale-safe rule (auto_sign_bits); the sf1.0 sweep
    # showed the fixed grid is the suite's worst quadratic (24.5×
    # wall at a 10× data step) while auto re-sizes result-identically.
    return S.embed_near_dup_pairs(base.unionByName(planted),
                                  threshold=0.9, n_bits=4)


# --------------------------------------------------------------------------
# Embedding int8 quantization (inference/serving prep)
# --------------------------------------------------------------------------

_QUANT_SQL = """
WITH u AS (
  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings),
m AS (SELECT vec_id, max(abs(x)) AS ma FROM u GROUP BY vec_id),
q AS (
  SELECT u.vec_id, CAST(floor(u.x / m.ma * 127) AS BIGINT) AS qv
  FROM u JOIN m ON m.vec_id = u.vec_id
  WHERE m.ma > 0)
SELECT vec_id,
       CAST(SUM(qv) AS BIGINT) AS q_sum,
       CAST(SUM(qv*qv) AS BIGINT) AS q_sqsum,
       CAST(MIN(qv) AS BIGINT) AS q_min,
       CAST(MAX(qv) AS BIGINT) AS q_max
FROM q GROUP BY vec_id
"""


@register("embed_quantize_int8", sql=_QUANT_SQL)
def _q_embed_quantize_int8(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column (scale =
    127 / max|x| per vector), reported as exact integer moments of the
    quantized vector.  Entirely in-row JVM (`transform` + `aggregate`
    folds): zero shuffles, zero Python — the oracle needs two CTEs and
    a join to say what one narrow projection computes here.
    floor(x / ma * 127) uses only IEEE-exact ops, so the integers are
    bit-identical across engines.  NULL elements are dropped up front:
    the fold below is NULL-absorbing (a + NULL = NULL) while the
    oracle's SUM skips NULLs, so without the filter a single NULL
    element would silently diverge the engines."""
    e = load_table(spark, sf_dir, "embeddings", fan_out=True)
    xd = F.filter(F.transform("embedding", lambda x: x.cast("double")),
                  lambda x: x.isNotNull())
    e = e.select("vec_id", xd.alias("xd")) \
         .withColumn("ma", F.array_max(F.transform("xd", F.abs))) \
         .filter(F.col("ma") > 0)
    q = F.transform("xd", lambda x: F.floor(x / F.col("ma") * 127))
    e = e.withColumn("q", q)
    zero = F.lit(0).cast("long")
    return e.select(
        "vec_id",
        F.aggregate("q", zero, lambda a, x: a + x).alias("q_sum"),
        F.aggregate("q", zero, lambda a, x: a + x * x).alias("q_sqsum"),
        F.array_min("q").alias("q_min"),
        F.array_max("q").alias("q_max"),
    )


# --------------------------------------------------------------------------
# Per-label centroid accumulation (classifier / k-means primitive)
# --------------------------------------------------------------------------

_CENTROID_SQL = """
WITH u AS (
  SELECT label,
         unnest(range(0, len(embedding))) AS dim,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000)
              AS BIGINT) AS xm
  FROM embeddings)
SELECT label, CAST(dim AS BIGINT) AS dim,
       CAST(SUM(xm) AS BIGINT) AS csum_micro,
       CAST(count(*) AS BIGINT) AS n_vectors
FROM u GROUP BY label, dim
"""


@register("embed_label_centroids", sql=_CENTROID_SQL)
def _q_embed_label_centroids(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Element-wise per-label embedding sums — the partial state every
    centroid update (k-means, nearest-class-mean classifiers) needs.
    posexplode -> groupBy(label, dim) is map-side combinable: each
    task pre-sums its rows, so the shuffle carries at most
    |labels| x dims x tasks tiny rows regardless of corpus size.
    Values are floor-scaled to integer micro-units BEFORE summing, so
    the accumulation is associative-exact (no float-order dependence)
    on both engines."""
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select("label", F.posexplode("embedding").alias("dim", "x"))
    xm = F.floor(F.col("x").cast("double") * 1000000).cast("long")
    return (ex.select("label", F.col("dim").cast("long").alias("dim"),
                      xm.alias("xm"))
            .groupBy("label", "dim")
            .agg(F.sum("xm").alias("csum_micro"),
                 F.count(F.lit(1)).alias("n_vectors")))


# --------------------------------------------------------------------------
# Embedding range search
# --------------------------------------------------------------------------

_RCOS = """
round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qe) /
      (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                             CAST(e.embedding AS DOUBLE[]))) *
       sqrt(list_dot_product(q.qe, q.qe))), 6)
"""

_RADIUS_SQL = f"""
WITH q AS (
    SELECT CAST(embedding AS DOUBLE[]) AS qe
    FROM embeddings WHERE vec_id = 0
)
SELECT e.vec_id, {_RCOS} AS cos_sim
FROM embeddings e, q
WHERE e.vec_id != 0 AND {_RCOS} >= 0.15
"""


@register("embed_radius_search", sql=_RADIUS_SQL)
def _q_embed_radius_search(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """All corpus vectors within cosine radius 0.15 of the query
    vector — the range-search twin of embed_cosine_topk.  Zero
    shuffles: broadcast single-row query, JVM fold dot products, a
    filter on the ROUNDED score (so the radius boundary resolves
    identically in both engines)."""
    from ..operators import similarity as S
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("query_vec"))
    corpus = emb.filter(F.col("vec_id") != 0) \
        .select("vec_id", "embedding")
    return S.cosine_radius(corpus, query, threshold=0.15)


# --------------------------------------------------------------------------
# Batch ANN serving: top-k for a query SET in one bucket join
# --------------------------------------------------------------------------

def _batch_ann_sql() -> str:
    return f"""
WITH pl AS ({_PLANT_SQL}
), q AS (
    SELECT vec_id AS query_id, v AS qe FROM pl WHERE vec_id % 199 = 0
), s AS (
    SELECT q.query_id, p.vec_id,
           round(list_dot_product(p.v, q.qe) /
                 (sqrt(list_dot_product(p.v, p.v)) *
                  sqrt(list_dot_product(q.qe, q.qe))), 6) AS cos_sim
    FROM pl p, q WHERE p.vec_id != 0
), r AS (
    SELECT query_id, vec_id, cos_sim,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, vec_id) AS rn
    FROM s
)
SELECT query_id, vec_id, cos_sim FROM r WHERE rn <= 5
"""


@register("embed_ann_batch", sql=_batch_ann_sql())
def _q_embed_ann_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch ANN over the planted-clusters fixture: every 199th vector
    is a query, all answered by ONE bucket join against the corpus
    bucketed by the learned IVF quantizer (the memoized `_ivf_model`
    the single-query path trains).  On planted data the IVF result
    EQUALS exact per-query top-k — each query's true neighbors share
    its inverted list — so the oracle is the brute-force window SQL:
    a full hash-match of the batch serving path.  The recall law on
    raw embeddings stays pinned in tests/test_ranking_history.py."""
    from ..operators import similarity as S
    from ._shared import _ivf_model, planted_clusters
    corpus, cents = _ivf_model(spark, sf_dir)
    queries = planted_clusters(load_table(spark, sf_dir, "embeddings")) \
        .filter(F.col("vec_id") % 199 == 0) \
        .select(F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("query_vec"))
    return S.ann_ivf_topk_batch(corpus, queries, k=5, centroids=cents,
                                nprobe=2)


# --------------------------------------------------------------------------
# Hybrid retrieval: BM25 (+) cosine via reciprocal-rank fusion
# --------------------------------------------------------------------------

_RRF_K = 60.0     # the standard RRF damping constant (Cormack 2009)
_RRF_TOPN = 50    # per-leg candidate depth
_RRF_OUT = 20


def _rrf_sql() -> str:
    from ..operators.ranking import bm25_oracle_sql
    from ._shared import _BM25_TERMS, _NORM_SQL
    bm25 = bm25_oracle_sql(_BM25_TERMS, _RRF_TOPN, _NORM_SQL)
    return f"""
WITH lexr AS (
    SELECT doc_id,
           row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r_lex
    FROM ({bm25})
), semr AS (
    SELECT vec_id AS doc_id,
           row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS r_sem
    FROM (
        WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
                   FROM embeddings WHERE vec_id = 0)
        SELECT e.vec_id, {_RCOS} AS cos_sim
        FROM embeddings e, q WHERE e.vec_id != 0
        ORDER BY cos_sim DESC, e.vec_id
        LIMIT {_RRF_TOPN}
    )
)
SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
       round(COALESCE(1.0 / ({_RRF_K!r} + l.r_lex), 0.0)
             + COALESCE(1.0 / ({_RRF_K!r} + s.r_sem), 0.0), 6) AS rrf
FROM lexr l FULL OUTER JOIN semr s ON l.doc_id = s.doc_id
ORDER BY rrf DESC, doc_id
LIMIT {_RRF_OUT}
"""


@register("hybrid_search_rrf", sql=_rrf_sql())
def _q_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval, the RAG-era default: fuse a lexical BM25
    ranking and a semantic cosine ranking by reciprocal-rank fusion
    (Cormack et al. 2009) — score = Σ 1/(60 + rank_leg), robust to
    incomparable raw scores.  Each leg is the engine's existing
    retriever (rational-idf BM25 over documents; brute cosine over
    embeddings, ids shared with the doc corpus); ranks are integers
    with id tie-breaks and the fused score is two IEEE divisions and
    one add in fixed order, so the oracle matches bit-for-bit.

    Scale shape: each leg is its own top-N (TakeOrdered / narrow
    scan) and fusion touches only 2N candidate rows — a driver-scale
    full-outer join however large the corpus."""
    from pyspark.sql import Window

    from ..operators.ranking import bm25_topk
    from ..operators.similarity import cosine_topk
    from ._shared import _BM25_TERMS

    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    lex = bm25_topk(docs, list(_BM25_TERMS), _RRF_TOPN)
    lex_r = lex.withColumn(
        "r_lex",
        F.row_number().over(
            Window.orderBy(F.desc("bm25"), F.asc("doc_id"))))
    emb = load_table(spark, sf_dir, "embeddings", fan_out=True)
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("query_vec"))
    corpus = emb.filter(F.col("vec_id") != 0) \
        .select("vec_id", "embedding")
    sem = cosine_topk(corpus, query, k=_RRF_TOPN) \
        .withColumnRenamed("vec_id", "doc_id")
    sem_r = sem.withColumn(
        "r_sem",
        F.row_number().over(
            Window.orderBy(F.desc("cos_sim"), F.asc("doc_id"))))
    fused = (lex_r.join(sem_r, "doc_id", "full_outer")
             .select("doc_id",
                     F.round(
                         F.coalesce(F.lit(1.0) / (F.lit(_RRF_K)
                                                  + F.col("r_lex")),
                                    F.lit(0.0))
                         + F.coalesce(F.lit(1.0) / (F.lit(_RRF_K)
                                                    + F.col("r_sem")),
                                      F.lit(0.0)),
                         6).alias("rrf")))
    return fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(_RRF_OUT)


# Frozen "quality classifier": dyadic weights (exactly representable
# doubles, so the literal round-trips through SQL text and F.lit
# identically) over the 64-dim embedding, alternating sign so the
# margin distribution straddles zero at every SF.
_DIM = 64
_W = [((-1) ** i * (i + 1)) / 128 for i in range(_DIM)]
_B = 0.125

_W_SQL = "[" + ", ".join(repr(w) for w in _W) + "]"

# z-space bin boundaries: logit(k/10) for k = 1..9, computed ONCE in
# Python and embedded as double literals in both engines — comparing
# the bit-identical z against shared literals sidesteps exp() ULP
# drift at bin edges entirely.
_LOGIT = [math.log(k / 10 / (1 - k / 10)) for k in range(1, 10)]

_Z_SQL = f"""
    SELECT vec_id, label % 2 AS target,
           list_dot_product(CAST(embedding AS DOUBLE[]), {_W_SQL})
               + {_B!r} AS z
    FROM embeddings
"""


def _z_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    w = F.array(*[F.lit(float(x)) for x in _W])
    return e.select(
        "vec_id",
        (F.col("label") % 2).alias("target"),
        (dot(_as_double(F.col("embedding")), w) + F.lit(_B)).alias("z"))


# --------------------------------------------------------------------------
# Batch inference: sigmoid scores + z-space decision
# --------------------------------------------------------------------------

_SCORE_SQL = f"""
WITH zf AS ({_Z_SQL})
SELECT vec_id, CAST(target AS BIGINT) AS target,
       round(1.0 / (1.0 + exp(-z)), 6) AS score,
       CAST(CASE WHEN z >= 0 THEN 1 ELSE 0 END AS BIGINT) AS predicted
FROM zf
"""


@register("embed_score_logreg", sql=_SCORE_SQL)
def _q_embed_score_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch classifier inference: sigmoid(w·x + b) per embedding with
    a frozen literal weight vector — the quality-scoring / filtering
    pass a curation pipeline runs over every document embedding.  The
    decision is taken on the margin (z ≥ 0 ⇔ score ≥ ½), never on the
    exp()-derived score, so predictions are bit-deterministic.

    Scale: zero shuffles — one narrow projection, the in-row fold is
    O(d) per row inside whole-stage codegen, and the model (64
    doubles) is a plan literal, the degenerate case of a broadcast
    model.  At 100 TB this is the map-only job it should be."""
    z = _z_frame(spark, sf_dir)
    return z.select(
        "vec_id", F.col("target").cast("bigint").alias("target"),
        F.round(1.0 / (1.0 + F.exp(-F.col("z"))), 6).alias("score"),
        F.when(F.col("z") >= 0, 1).otherwise(0).cast("bigint")
         .alias("predicted"))


# --------------------------------------------------------------------------
# Calibration summary (reliability-diagram bins)
# --------------------------------------------------------------------------

_BOUNDS_SQL = "[" + ", ".join(repr(b) for b in _LOGIT) + "]"

_CALIB_SQL = f"""
WITH zf AS ({_Z_SQL}),
b AS (
    SELECT vec_id, target, z,
           len(list_filter({_BOUNDS_SQL}, x -> x <= z)) AS bin,
           CAST(floor(1.0 / (1.0 + exp(-z)) * 1000000) AS BIGINT)
               AS score_micro
    FROM zf
)
SELECT CAST(bin AS BIGINT) AS bin, CAST(COUNT(*) AS BIGINT) AS n,
       round(SUM(score_micro) * 1.0 / (COUNT(*) * 1000000), 6)
           AS mean_score,
       round(SUM(target) * 1.0 / COUNT(*), 6) AS pos_rate
FROM b GROUP BY bin
"""


@register("score_calibration_bins", sql=_CALIB_SQL)
def _q_score_calibration_bins(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Reliability diagram for the frozen classifier: decile score
    bins vs observed positive rate — the calibration check that
    decides whether scores can gate a corpus directly or need
    recalibration.  Bin membership compares the bit-identical margin
    against shared logit literals (never floor(exp·10), whose ULP
    drift could flip an edge row per engine); the mean score
    accumulates floor-scaled integer micros, so the aggregate is
    partitioning-invariant.

    Scale: one map-side-combinable groupBy onto ≤10 rows."""
    z = _z_frame(spark, sf_dir)
    bounds = F.array(*[F.lit(float(b)) for b in _LOGIT])
    zb = z.select(
        "target",
        F.size(F.filter(bounds, lambda x: x <= F.col("z"))).alias("bin"),
        F.floor(1.0 / (1.0 + F.exp(-F.col("z"))) * 1000000)
         .cast("bigint").alias("score_micro"))
    return (zb.groupBy(F.col("bin").cast("bigint").alias("bin"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                 F.round(F.sum("score_micro") * 1.0
                         / (F.count(F.lit(1)) * 1000000), 6)
                 .alias("mean_score"),
                 F.round(F.sum("target") * 1.0 / F.count(F.lit(1)), 6)
                 .alias("pos_rate")))


# --------------------------------------------------------------------------
# Exact AUC via doubled midranks (Mann–Whitney U)
# --------------------------------------------------------------------------

_AUC_SQL = f"""
WITH zf AS ({_Z_SQL}),
r AS (
    SELECT target, z,
           row_number() OVER (ORDER BY z, vec_id) AS rn
    FROM zf
), g AS (
    SELECT z, min(rn) + max(rn) AS two_mid,
           CAST(SUM(target) AS BIGINT) AS pos_g
    FROM r GROUP BY z
), s AS (
    SELECT CAST(SUM(pos_g) AS BIGINT) AS n_pos,
           CAST(SUM(two_mid * pos_g) AS BIGINT) AS two_mid_pos
    FROM g
), t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM zf)
SELECT s.n_pos, t.n - s.n_pos AS n_neg,
       round((s.two_mid_pos - s.n_pos * (s.n_pos + 1)) * 1.0
             / (2 * s.n_pos * (t.n - s.n_pos)), 6) AS auc
FROM s, t
"""


@register("classifier_auc_exact", sql=_AUC_SQL)
def _q_classifier_auc_exact(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Exact ROC AUC of the frozen classifier against the parity
    target (label mod 2), via the Mann–Whitney rank identity with
    DOUBLED midranks: 2U = Σ_pos 2·midrank − n⁺(n⁺+1), so tied
    margins contribute their exact ½ without a single fractional
    intermediate — AUC is one integer expression and one final
    division.  Ranks order by the bit-identical margin (tie-broken by
    vec_id; equal-z groups collapse before the sum, so the tie-break
    never affects the result).

    Scale: the rank window is a global sort of (z, target) PAIRS —
    the already-projected 16-byte rows, not embeddings; at warehouse
    scale the standard move is the two-pass histogram AUC (bin z,
    accumulate pos/neg per bin — value_percentiles' approach), which
    converges to exactly this definition.  Everything after the sort
    is a map-side-combinable aggregate to one row.

    Integer headroom: ``row_number`` is int32, so this exact
    formulation caps at 2^31-1 ranked rows; ``two_mid`` is summed as
    bigint (min is cast before the add so min+max cannot wrap at
    ~2^30 rows).  Beyond that, the histogram AUC is the scale path."""
    z = _z_frame(spark, sf_dir)
    r = z.select("target", "z", "vec_id").withColumn(
        "rn", F.row_number().over(Window.orderBy("z", "vec_id")))
    g = r.groupBy("z").agg(
        (F.min("rn").cast("bigint") + F.max("rn")).alias("two_mid"),
        F.sum("target").cast("bigint").alias("pos_g"))
    s = g.agg(
        F.sum("pos_g").cast("bigint").alias("n_pos"),
        F.sum(F.col("two_mid") * F.col("pos_g")).cast("bigint")
         .alias("two_mid_pos"))
    t = z.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    j = s.crossJoin(F.broadcast(t))
    auc = F.round(
        (F.col("two_mid_pos") - F.col("n_pos") * (F.col("n_pos") + 1))
        * 1.0 / (2 * F.col("n_pos") * (F.col("n") - F.col("n_pos"))), 6)
    return j.select("n_pos", (F.col("n") - F.col("n_pos")).alias("n_neg"),
                    auc.alias("auc"))


_D = 64           # embedding dimensionality (fixture schema)
_SCALE = 1_000_000  # coordinate scaling: exact in BIGINT


# --------------------------------------------------------------------------
# Scaled-integer covariance of the embedding coordinates
# --------------------------------------------------------------------------

_COV_SQL = f"""
WITH q AS (
    SELECT list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * {_SCALE}.0)
                         AS BIGINT)) AS q
    FROM embeddings
), cells AS (
    SELECT CAST(i.i AS BIGINT) AS i, CAST(j.j AS BIGINT) AS j,
           q.q[i.i + 1] AS qi, q.q[j.j + 1] AS qj
    FROM q, generate_series(0, {_D - 1}) i(i),
         generate_series(0, {_D - 1}) j(j)
    WHERE j.j >= i.i
)
SELECT i, j, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       round(CAST(COUNT(*) * SUM(CAST(qi AS HUGEINT) * qj)
                  - SUM(CAST(qi AS HUGEINT)) * SUM(CAST(qj AS HUGEINT))
                  AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE)
             / CAST(COUNT(*) - 1 AS DOUBLE) / 1e12, 9) AS cov
FROM cells GROUP BY 1, 2
"""


@register("embed_covariance_scaled", sql=_COV_SQL)
def _q_embed_covariance_scaled(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Upper-triangle covariance matrix of the embedding coordinates
    in scaled-integer arithmetic.  Each coordinate becomes
    round(x·1e6) as BIGINT; per (i, j) cell the sums Σqᵢ, Σqⱼ, Σqᵢqⱼ
    accumulate exactly (DECIMAL(38,0) — order-independent, unlike
    float sums), and the sample covariance
    (n·Σqᵢqⱼ − Σqᵢ·Σqⱼ) / (n·(n−1)) / 1e12 is one final division
    chain.  The d(d+1)/2-cell explode is a CONSTANT fanout whose
    partial aggregation combines map-side — the shuffle carries 2080
    cells per partition, never vectors.  (At extreme scale the same
    sums can be produced per-partition as a numpy Gram matrix under
    mapInPandas; the DataFrame shape keeps the whole plan in
    codegen.)"""
    emb = load_table(spark, sf_dir, "embeddings", fan_out=True)
    q = emb.select(
        F.transform(F.col("embedding").cast("array<double>"),
                    lambda x: F.round(x * F.lit(float(_SCALE)))
                    .cast("bigint")).alias("q"))
    c1 = q.select(F.posexplode("q").alias("i", "qi"), "q")
    cells = (c1.select(
        "i", "qi",
        F.posexplode(F.slice("q", F.col("i") + 1, F.lit(_D)))
         .alias("jj", "qj"))
        .select(F.col("i").cast("bigint").alias("i"),
                (F.col("i") + F.col("jj")).cast("bigint").alias("j"),
                "qi", "qj"))
    agg = cells.groupBy("i", "j").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("qi").cast("decimal(38,0)")).alias("si"),
        F.sum(F.col("qj").cast("decimal(38,0)")).alias("sj"),
        F.sum((F.col("qi") * F.col("qj")).cast("decimal(38,0)"))
         .alias("sij"))
    numer = (F.col("n").cast("decimal(38,0)") * F.col("sij")
             - F.col("si") * F.col("sj"))
    cov = F.round(
        numer.cast("double") / F.col("n").cast("double")
        / (F.col("n") - 1).cast("double") / F.lit(1.0e12), 9)
    return agg.select("i", "j", F.col("n").alias("n_vecs"),
                      cov.alias("cov"))

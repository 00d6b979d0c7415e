"""Helpers shared by more than one query family: the table loader, scratch
work dirs and the staged fixtures several families build on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import similarity as S
from ..operators import text as T
from ..sources.parquet_source import load_table


def _t(spark, sf_dir, name, fan_out: bool = False):
    """``fan_out=True`` for per-row-heavy NARROW pipelines (hashing,
    shingling, codecs, per-row RNG) where a 1-partition scan would
    serialize the work on one core.  Default False (optimization r11,
    flipped from True): for scan-then-shuffle queries the fan-out is a
    blind extra exchange — measured suite-wide A/B at sf0.1 showed the
    bare scan faster for ~190 of 221 queries (see
    sources/parquet_source.load_table and OPTIMIZATION_r11.md); at
    100 TB the flag is moot (the scan is already cluster-wide)."""
    return load_table(spark, sf_dir, name, fan_out=fan_out)


# Shared SQL fragments (kept identical across oracles).
_NORM_SQL = "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"
_TOKS_SQL = "regexp_split_to_array(trim(text), '\\s+')"
# Word 3-gram shingles (DuckDB rendering of word_shingles(n=3)):
# generate_series(1, 0) is empty, so <3-token docs yield no grams —
# same guard as the Spark side.
_TRIGRAMS_SQL = (
    f"list_transform(generate_series(1, len({_TOKS_SQL}) - 2), "
    f"i -> array_to_string(({_TOKS_SQL})[i:i+2], ' '))"
)


def _lang_score_sql(words: tuple[str, ...]) -> str:
    inlist = ", ".join(f"'{w}'" for w in words)
    return (f"CAST(len(list_filter({_TOKS_SQL}, "
            f"t -> t IN ({inlist}))) AS BIGINT)")


_QUALITY_SQL = f"""round(0.4 * least({_lang_score_sql(T.LANG_MARKERS['en'])} * 1.0
                     / len({_TOKS_SQL}) * 4, 1.0)
    + 0.3 * (1.0 - least(len(regexp_extract_all(text, '[.,!?;:]'))
                         * 1.0 / length(text) * 10, 1.0))
    + 0.3 * least(length(text) / 500.0, 1.0), 6)"""


def planted_clusters(emb, n_clusters: int = 8, eps: float = 0.1):
    """Well-separated planted-clusters fixture: shrink each embedding
    to an ``eps``-ball and shift it onto the one-hot axis of its
    cluster (``vec_id % n_clusters``).  Same-cluster cosine ≈ 1,
    cross-cluster ≈ 0, so exact top-k provably stays inside the
    query's cluster — which makes the exact-cosine SQL a valid oracle
    for the IVF path (kmeans seeds = vec_ids 1..8 cover all 8
    clusters, so Lloyd converges onto the planted centers)."""
    e = F.col("embedding").cast("array<double>")
    # Norm hoisted into its own projection: referenced inside the
    # transform lambda it would be re-evaluated per element (O(d²)
    # interpreted — the embed_ann_ivf 351 s lesson).  The isNotNull
    # guard is the alias's SECOND reference: CollapseProject inlines a
    # single-referenced alias straight back into the lambda (undoing
    # the hoist — verified on the optimized plan), but keeps
    # multiply-referenced ones.  Same idiom as
    # similarity.with_l2_normalized.
    step = emb.select("vec_id", e.alias("__e"),
                      F.sqrt(S.dot(e, e)).alias("__nrm"))
    c = (F.col("vec_id") % n_clusters).cast("bigint")
    v = F.transform("__e", lambda x, i: x / F.col("__nrm") * F.lit(eps)
                    + F.when(i.cast("bigint") == c, F.lit(1.0))
                       .otherwise(F.lit(0.0)))
    return step.select(
        "vec_id",
        F.when(F.col("__nrm").isNotNull(), v).alias("embedding"))


def _ivf_model(spark, sf_dir):
    """Materialized planted corpus + trained coarse quantizer, memoized
    per (session, sf_dir).

    Two scale lessons in one place: (a) model TRAINING is a one-time
    ingest cost, not a per-query cost — at 100 TB the centroids are fit
    once on a sample and the bucket column is written at ingest, so
    per-session memoization is the honest local analogue; (b) the
    planted-clusters derivation must be MATERIALIZED before the argmax
    ever sees it — ``nearest_centroid``'s transform lambda re-evaluates
    its vector argument once per centroid per row, and interpreted
    higher-order lambdas over a derived O(d)-per-element expression
    turn the probe into an O(k·d²) pass (this exact shape measured
    351 s at sf0.1 before the rework)."""
    from pyspark.storagelevel import StorageLevel

    from ..session import session_memo

    def build():
        emb = planted_clusters(_t(spark, sf_dir, "embeddings"))
        corpus = emb.filter(F.col("vec_id") != 0) \
            .persist(StorageLevel.MEMORY_AND_DISK)
        cents = S.kmeans_fit(corpus, k=8, n_iter=3)
        return corpus, cents

    return session_memo(spark, f"ivf_model:{sf_dir}", build)


_BM25_TERMS = ("spark", "dup", "batch")


_TOKS = "regexp_split_to_array(trim(text), '\\s+')"


def _fresh_work_dir(name: str, sf_dir: str) -> str:
    """Deterministic per-(query, sf) scratch dir, cleared on entry —
    the repo convention for queries that must materialize files:
    bench warm+timed runs, parity tests, and driver rounds all reuse
    ONE bounded tree instead of leaking a ``mkdtemp`` per invocation.
    Hoisted to :mod:`..workdirs` in round 8 (uid-scoped parent,
    foreign-entry handling); this name stays as the registry-local
    spelling.  Callers whose RESULT lazily reads from the tree rely
    on the clear happening at the START of the next call, never at
    exit."""
    from ..workdirs import fresh_work_dir

    return fresh_work_dir(name, sf_dir)


def _view(spark: SparkSession, sf_dir: str, table: str,
          prefix: str) -> str:
    """Temp view WITHOUT the scan fan-out: every SQL query here is
    join/aggregate-first, so its first exchange provides the
    parallelism and the fan-out repartition would only get transposed
    above the join as a blind reshuffle of join output
    (tests/test_plan_hygiene.py pins this)."""
    name = f"__{prefix}_{table}"
    load_table(spark, sf_dir, table, fan_out=False) \
        .createOrReplaceTempView(name)
    return name


def _split_col() -> F.Column:
    b = F.pmod(F.pmod(F.col("doc_id") * F.lit(2654435761),
                      F.lit(4294967296)), F.lit(10))
    return (F.when(b == 8, F.lit("valid"))
             .when(b == 9, F.lit("test"))
             .otherwise(F.lit("train")))


def pruned_trigram_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The df <= 50-pruned word-trigram shingle relation (doc_id,
    shingle), staged once per (session, sf_dir) — the shared inverted
    index THREE registered queries previously each rebuilt per
    invocation (`dedup_containment`, `split_leakage_pairs`,
    `near_dup_rate_by_source`; r11 measured them at 2.9/4.0/4.6 s,
    dominated by the identical shingle explode + document-frequency
    census).  Production stages exactly this as a table at ingest
    (the `_warehouse_signatures` precedent); locally it is a
    session-memoized persisted frame, rebuilt from the parquet inputs
    inside every bench/oracle run.  Memoization cannot change any
    result: the relation is a deterministic function of the documents
    table, and each consumer's aggregation/join logic is untouched.

    Build notes: the input scan keeps ``fan_out=True`` — the shingle
    explode is exactly the per-row-heavy narrow work the fan-out
    exists for (r11 A/B) — and the df census prunes BEFORE the
    persist, so the staged relation is the small side (boilerplate
    grams with posting lists > 50 docs, the quadratic-fanout mass,
    never hit storage)."""
    from pyspark.storagelevel import StorageLevel

    from ..operators.dedup import word_shingles
    from ..session import session_memo

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents", fan_out=True)
        sh0 = word_shingles(docs, "doc_id", "text", n=3)
        keep = (sh0.groupBy("shingle")
                .agg(F.count(F.lit(1)).alias("df"))
                .filter(F.col("df") <= 50)
                .select("shingle"))
        return (sh0.join(keep, "shingle")
                .persist(StorageLevel.MEMORY_AND_DISK))

    return session_memo(spark, f"pruned_tri_shingles:{sf_dir}", build)


def trigram_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram-Jaccard >= 0.8 near-dup pairs (doc_a < doc_b, jaccard)
    over :func:`pruned_trigram_shingles`, staged once per (session,
    sf_dir) — the pair set `split_leakage_pairs` and
    `near_dup_rate_by_source` both verdict on (each previously rebuilt
    the whole inverted-index pair join per invocation).  Arithmetic is
    bit-identical to the inline form both queries used: exact
    intersection counts from the pruned index, sizes measured on the
    SAME pruned set, ``round(i / (sa + sb - i), 6) >= 0.8``."""
    from pyspark.storagelevel import StorageLevel

    from ..session import session_memo

    def build() -> DataFrame:
        sh = pruned_trigram_shingles(spark, sf_dir)
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
        a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
        b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
        inter = (a.join(b, "shingle")
                 .filter(F.col("doc_a") < F.col("doc_b"))
                 .groupBy("doc_a", "doc_b")
                 .agg(F.count(F.lit(1)).alias("i")))
        jac = F.round(
            F.col("i") * F.lit(1.0) /
            (F.col("__sa") + F.col("__sb") - F.col("i")), 6)
        return (inter
                .join(sizes.select(F.col("doc_id").alias("doc_a"),
                                   F.col("sz").alias("__sa")), "doc_a")
                .join(sizes.select(F.col("doc_id").alias("doc_b"),
                                   F.col("sz").alias("__sb")), "doc_b")
                .select("doc_a", "doc_b", jac.alias("jaccard"))
                .filter(F.col("jaccard") >= 0.8)
                .persist(StorageLevel.MEMORY_AND_DISK))

    return session_memo(spark, f"tri_neardup_pairs:{sf_dir}", build)


def leakage_pairs(spark: SparkSession, sf_dir: str,
                  candidates: str = "inverted") -> DataFrame:
    """Train/test contamination report: trigram-Jaccard ≥ 0.8 near-dup
    pairs that straddle splits, with a selectable candidate-discovery
    strategy (the verdict join — exact Jaccard on the df-pruned
    shingle sets — is IDENTICAL in both):

    ``candidates="inverted"`` — the df-pruned inverted index of
    `dedup_containment` (posting lists > 50 docs dropped before the
    pair join — fan-out bounded by maxdf² per gram, sizes measured on
    the same pruned set the intersection uses).  Exact: every
    qualifying pair is found.  The registered query uses this path so
    the DuckDB oracle stays closed-form.

    ``candidates="lsh"`` — the 100 TB path the inverted index's
    docstring promised: MinHash signatures (8 perms) banded 4×2 via
    `dedup.lsh_candidate_pairs` (hot buckets > 500 docs dropped), so
    candidate discovery is LINEAR in corpus size; each candidate is
    then verified with the SAME exact intersection join, so no false
    positives — only band-miss false negatives, P(miss | J=0.8) =
    (1−0.8²)⁴ ≈ 1.7 %.  The subset law (lsh ⊆ inverted, identical
    jaccard values) is pinned in tests/test_pending_r10.py; the
    sf1/sf3 curve rows live in SCALE.md."""
    from ..operators.dedup import lsh_candidate_pairs, minhash_signature

    docs = load_table(spark, sf_dir, "documents")
    sh = pruned_trigram_shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    if candidates == "inverted":
        # The staged shared pair set (identical arithmetic) — pair
        # discovery is computed once per session, not once per
        # invocation (optimization r12).
        pairs = trigram_neardup_pairs(spark, sf_dir)
    elif candidates == "lsh":
        # Banded discovery over the SAME pruned shingle set the
        # verdict measures (signatures on the unpruned set would let
        # a dropped stop-gram shift a signature but not the verdict).
        cand = lsh_candidate_pairs(
            minhash_signature(sh, "doc_id", n_hashes=8),
            "doc_id", rows_per_band=2, max_bucket=500)
        # Exact intersection per surviving candidate only: the pair
        # list is skinny (two bigints), the gram lists join it by id
        # — never an all-pairs gram join.
        a = sh.select(F.col("doc_id").alias("id_a"), "shingle")
        b = sh.select(F.col("doc_id").alias("id_b"), "shingle")
        inter = (cand
                 .join(a, "id_a").join(b, ["id_b", "shingle"])
                 .groupBy("id_a", "id_b")
                 .agg(F.count(F.lit(1)).alias("i"))
                 .select(F.col("id_a").alias("doc_a"),
                         F.col("id_b").alias("doc_b"), "i"))
    else:
        raise ValueError(f"unknown candidate strategy {candidates!r}")
    if candidates != "inverted":
        jac = F.round(
            F.col("i") * F.lit(1.0) /
            (F.col("__sa") + F.col("__sb") - F.col("i")), 6)
        pairs = (inter
                 .join(sizes.select(F.col("doc_id").alias("doc_a"),
                                    F.col("sz").alias("__sa")), "doc_a")
                 .join(sizes.select(F.col("doc_id").alias("doc_b"),
                                    F.col("sz").alias("__sb")), "doc_b")
                 .select("doc_a", "doc_b", jac.alias("jaccard"))
                 .filter(F.col("jaccard") >= 0.8))
    sp = docs.select("doc_id", _split_col().alias("split"))
    return (pairs
            .join(sp.select(F.col("doc_id").alias("doc_a"),
                            F.col("split").alias("split_a")), "doc_a")
            .join(sp.select(F.col("doc_id").alias("doc_b"),
                            F.col("split").alias("split_b")), "doc_b")
            .filter(F.col("split_a") != F.col("split_b"))
            .select("doc_a", "doc_b", "split_a", "split_b", "jaccard"))

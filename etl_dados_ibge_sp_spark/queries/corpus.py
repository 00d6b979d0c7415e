"""Text, corpus and split queries: token statistics, quality filters,
mixing and sampling, decontamination, train/valid/test splits and
epoch budgets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators import mixing as X
from ..operators import text as T
from ..operators.ranking import bm25_oracle_sql
from ..operators.sample import hash_bucket_sql as _hb_sql
from ..registry import register
from ..sources.parquet_source import load_table
from ._shared import (
    _BM25_TERMS, _NORM_SQL, _TOKS, _TOKS_SQL, _TRIGRAMS_SQL, _lang_score_sql,
    _split_col, _t, leakage_pairs,
)


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------

@register("text_token_stats", sql=f"""
SELECT doc_id,
       CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(text,
            '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpe_tokens,
       CAST(length(text) AS BIGINT) AS n_chars,
       round(CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
             / len({_TOKS_SQL}), 6) AS avg_token_len
FROM documents
""")
def q_text_token_stats(spark, sf_dir):
    """Token counting: whitespace tokens + BPE-ish pre-tokens, all
    JVM-side regexp (no UDF)."""
    d = _t(spark, sf_dir, "documents", fan_out=True)
    text = F.col("text")
    n_tok = T.token_count(text)
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        T.bpe_token_count(text).alias("n_bpe_tokens"),
        F.length(text).cast("bigint").alias("n_chars"),
        F.round(F.length(F.regexp_replace(text, r"\s", "")).cast("double")
                / n_tok, 6).alias("avg_token_len"),
    )


@register("text_language_id", sql=f"""
WITH s AS (
    SELECT doc_id, lang,
           {_lang_score_sql(T.LANG_MARKERS['en'])} AS s_en,
           {_lang_score_sql(T.LANG_MARKERS['de'])} AS s_de,
           {_lang_score_sql(T.LANG_MARKERS['fr'])} AS s_fr,
           {_lang_score_sql(T.LANG_MARKERS['es'])} AS s_es
    FROM documents
)
SELECT doc_id, lang, s_en, s_de, s_fr, s_es,
       CASE WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
            WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
            WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
            ELSE 'es' END AS pred_lang
FROM s
""")
def q_text_language_id(spark, sf_dir):
    """Language-ID heuristic: marker-stopword scores + first-match
    argmax (the n-gram-heuristic family, SQL-expressible)."""
    d = _t(spark, sf_dir, "documents", fan_out=True)
    text = F.col("text")
    scores = T.language_scores(text)
    return d.select(
        "doc_id", "lang",
        scores["en"].alias("s_en"), scores["de"].alias("s_de"),
        scores["fr"].alias("s_fr"), scores["es"].alias("s_es"),
        T.predicted_language(text).alias("pred_lang"),
    )


@register("text_quality_score", sql=f"""
SELECT doc_id,
       CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT)
           AS n_punct,
       round(0.4 * least({_lang_score_sql(T.LANG_MARKERS['en'])} * 1.0
                         / len({_TOKS_SQL}) * 4, 1.0)
           + 0.3 * (1.0 - least(len(regexp_extract_all(text, '[.,!?;:]'))
                                * 1.0 / length(text) * 10, 1.0))
           + 0.3 * least(length(text) / 500.0, 1.0), 6) AS quality
FROM documents
""")
def q_text_quality_score(spark, sf_dir):
    """Quality scoring: stopword density + punctuation sanity + length
    saturation, pure rational arithmetic (deterministic everywhere)."""
    d = _t(spark, sf_dir, "documents", fan_out=True)
    text = F.col("text")
    return d.select(
        "doc_id",
        T.token_count(text).alias("n_tokens"),
        T.punct_count(text).alias("n_punct"),
        T.quality_score(text, F.length(text)).alias("quality"),
    )


@register("text_fingerprint", sql=f"""
SELECT doc_id,
       md5({_NORM_SQL}) AS fp_md5,
       CAST(concat('0x', substr(md5({_NORM_SQL}), 1, 15)) AS BIGINT)
           AS fp64
FROM documents
""")
def q_text_fingerprint(spark, sf_dir):
    """Document fingerprinting: md5 over normalized text + a 60-bit
    integer prefix (engine-portable hex parse)."""
    d = _t(spark, sf_dir, "documents")
    text = F.col("text")
    return d.select(
        "doc_id",
        T.fingerprint_md5(text).alias("fp_md5"),
        T.fingerprint64(text).alias("fp64"),
    )


@register("text_rolling_hash", sql=f"""
WITH norm AS (
    SELECT doc_id, {_NORM_SQL} AS nt FROM documents
)
SELECT doc_id,
       CASE WHEN length(nt) = 0 THEN CAST(0 AS BIGINT)
            ELSE list_reduce(
                list_prepend(CAST(0 AS BIGINT),
                    [CAST(ascii(c) AS BIGINT)
                     for c in string_split_regex(nt, '')]),
                (acc, x) -> (acc * 131 + x) % 2147483647)
       END AS rhash
FROM norm
""")
def q_text_rolling_hash(spark, sf_dir):
    """Rabin-Karp polynomial rolling-hash fingerprint over normalized
    text — a JVM-side aggregate fold, checked char-for-char against
    DuckDB's list_reduce."""
    d = _t(spark, sf_dir, "documents", fan_out=True)
    nt = d.select("doc_id", T.normalized_text(F.col("text")).alias("nt"))
    return nt.select("doc_id", T.rolling_hash(F.col("nt")).alias("rhash"))


@register("text_bm25_topk",
          sql=bm25_oracle_sql(_BM25_TERMS, 20, _NORM_SQL))
def q_text_bm25_topk(spark, sf_dir):
    """BM25 relevance top-k (rational-idf variant): two full scans,
    zero keyed shuffles — per-term tf is an array fold per row, corpus
    stats are ONE scalar aggregate broadcast back onto the scan."""
    from ..operators.ranking import bm25_topk
    d = _t(spark, sf_dir, "documents", fan_out=True)
    return bm25_topk(d, list(_BM25_TERMS), 20)


# --------------------------------------------------------------------------
# Training-data curation, part 2: decontamination, PII, repetition,
# chunking, packing — plus event funnel / retention analytics.
# --------------------------------------------------------------------------

# Distinct-trigram list (the per-document shingle set, in-row).
_TRIGRAMS_DISTINCT_SQL = f"list_distinct({_TRIGRAMS_SQL})"


@register("text_decontaminate", sql=f"""
WITH tr AS (
    SELECT doc_id, {_TRIGRAMS_DISTINCT_SQL} AS gs
    FROM documents WHERE doc_id % 23 <> 0
), ev AS (
    SELECT DISTINCT unnest({_TRIGRAMS_DISTINCT_SQL}) AS gram
    FROM documents WHERE doc_id % 23 = 0
), g AS (
    SELECT doc_id, unnest(gs) AS gram FROM tr
), hits AS (
    SELECT doc_id, count(*) AS n_hit FROM g JOIN ev USING (gram)
    GROUP BY doc_id
), scored AS (
    SELECT tr.doc_id,
           CAST(len(tr.gs) AS BIGINT) AS n_grams,
           CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_contaminated,
           CASE WHEN len(tr.gs) > 0
                THEN round(coalesce(h.n_hit, 0) * 1.0 / len(tr.gs), 6)
                ELSE 0.0 END AS contamination_ratio
    FROM tr LEFT JOIN hits h USING (doc_id)
)
SELECT doc_id, n_grams, n_contaminated, contamination_ratio,
       CAST(contamination_ratio >= 0.2 AS INT) AS contaminated
FROM scored
""")
def q_text_decontaminate(spark, sf_dir):
    """Benchmark decontamination: word-trigram overlap of every
    training document against a held-out eval slice (doc_id % 23 == 0
    stands in for the benchmark corpus).  Eval gram set is broadcast;
    the training side never shuffles for the membership probe (see
    operators/dedup.py:contamination_stats for the 100 TB notes)."""
    docs = _t(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 23 != 0)
    ev = docs.filter(F.col("doc_id") % 23 == 0)
    out = D.contamination_stats(train, ev, "doc_id", "text", n=3,
                                flag_threshold=0.2)
    return out.withColumn("contaminated",
                          F.col("contaminated").cast("int"))


def _pii_redact_sql(inner: str) -> str:
    out = inner
    for tag, pat in T.PII_PATTERNS:
        out = f"regexp_replace({out}, '{pat}', '{tag}', 'g')"
    return out


@register("text_pii_redact", sql=f"""
WITH i AS (
    SELECT doc_id, text || CASE CAST(doc_id % 10 AS INT)
        WHEN 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com'
        WHEN 1 THEN ' call 555-123-4567'
        WHEN 2 THEN ' ssn 123-45-6789'
        WHEN 3 THEN ' host 10.0.0.3 down'
        ELSE '' END AS inj
    FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(inj, '{T.PII_PATTERNS[0][1]}')) AS BIGINT)
           AS n_email,
       CAST(len(regexp_extract_all(inj, '{T.PII_PATTERNS[1][1]}')) AS BIGINT)
           AS n_ssn,
       CAST(len(regexp_extract_all(inj, '{T.PII_PATTERNS[2][1]}')) AS BIGINT)
           AS n_phone,
       CAST(len(regexp_extract_all(inj, '{T.PII_PATTERNS[3][1]}')) AS BIGINT)
           AS n_ip,
       {_pii_redact_sql('inj')} AS clean_text
FROM i
""")
def q_text_pii_redact(spark, sf_dir):
    """PII detection + redaction: deterministic synthetic PII is
    injected (so the op provably fires), then counted and replaced by
    category tags.  Four JVM regexp passes inside whole-stage codegen;
    patterns live in the RE2 ∩ java.util.regex common subset so the
    DuckDB oracle compiles the identical automaton."""
    docs = _t(spark, sf_dir, "documents", fan_out=True)
    m = F.col("doc_id") % 10
    inj = F.concat(
        F.col("text"),
        F.when(m == 0, F.concat(F.lit(" contact user"),
                                F.col("doc_id").cast("string"),
                                F.lit("@example.com")))
         .when(m == 1, F.lit(" call 555-123-4567"))
         .when(m == 2, F.lit(" ssn 123-45-6789"))
         .when(m == 3, F.lit(" host 10.0.0.3 down"))
         .otherwise(F.lit("")))
    base = docs.select("doc_id", inj.alias("__inj"))
    c = T.pii_counts(F.col("__inj"))
    return base.select(
        "doc_id",
        c["[EMAIL]"].alias("n_email"),
        c["[SSN]"].alias("n_ssn"),
        c["[PHONE]"].alias("n_phone"),
        c["[IP]"].alias("n_ip"),
        T.redact_pii(F.col("__inj")).alias("clean_text"))


@register("text_repetition", sql=f"""
WITH b AS (
    SELECT doc_id, {_TOKS_SQL} AS ws, {_TRIGRAMS_SQL} AS gs
    FROM documents
)
SELECT doc_id,
       CAST(len(ws) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct,
       round(len(list_distinct(ws)) * 1.0 / len(ws), 6) AS distinct_ratio,
       round(list_max(list_transform(list_distinct(ws),
             w -> len(list_filter(ws, x -> x = w)))) * 1.0 / len(ws), 6)
           AS top_token_frac,
       CASE WHEN len(gs) > 0
            THEN round(1.0 - len(list_distinct(gs)) * 1.0 / len(gs), 6)
            ELSE 0.0 END AS dup_trigram_frac
FROM b
""")
def q_text_repetition(spark, sf_dir):
    """Intra-document repetition metrics (the 'repetitive doc' quality
    gate): distinct-token ratio, most-frequent-token share, duplicate
    trigram fraction.  All computed in-row from the token array —
    no explode, no shuffle; O(d·n) per doc is the right trade for
    short documents at 100 TB (bytes stream once through codegen)."""
    docs = _t(spark, sf_dir, "documents", fan_out=True)
    base = docs.select("doc_id",
                       T.tokens(F.col("text")).alias("__tk"))
    tk = F.col("__tk")
    gs = T.word_ngrams_array(tk, 3)
    n_tok = F.size(tk).cast("bigint")
    n_dist = F.size(F.array_distinct(tk)).cast("bigint")
    dup_tri = F.when(
        F.size(gs) > 0,
        F.round(F.lit(1.0) -
                F.size(F.array_distinct(gs)).cast("double") / F.size(gs), 6)
    ).otherwise(F.lit(0.0))
    return base.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_dist.alias("n_distinct"),
        F.round(n_dist.cast("double") / n_tok, 6).alias("distinct_ratio"),
        T.top_token_fraction(tk).alias("top_token_frac"),
        dup_tri.alias("dup_trigram_frac"))


@register("doc_chunk", sql=f"""
WITH b AS (
    SELECT doc_id, {_TOKS_SQL} AS ws FROM documents
)
SELECT doc_id,
       CAST((s - 1) // 24 AS BIGINT) AS chunk_id,
       array_to_string(ws[s:s+31], ' ') AS chunk_text,
       CAST(least(32, len(ws) - s + 1) AS BIGINT) AS n_chunk_tokens
FROM b, LATERAL (SELECT unnest(generate_series(1, len(ws), 24)) AS s)
""")
def q_doc_chunk(spark, sf_dir):
    """Fixed-size document chunking with overlap (context-window prep):
    32-token windows every 24 tokens (8-token overlap).  Chunk starts
    are a narrow in-row sequence + posexplode — rows fan out ~n/24×
    with zero shuffle, the embarrassingly-parallel shape."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.select("doc_id", T.tokens(F.col("text")).alias("__tk"))
    starts = T.chunk_starts(F.col("__tk"), stride=24)
    return base.select(
        "doc_id", F.col("__tk"),
        F.posexplode(starts).alias("chunk_id", "s"),
    ).select(
        "doc_id",
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.array_join(F.slice("__tk", F.col("s"), 32), " ")
         .alias("chunk_text"),
        F.least(F.lit(32), F.size("__tk") - F.col("s") + 1)
         .cast("bigint").alias("n_chunk_tokens"))


@register("seq_pack", sql=f"""
WITH d AS (
    SELECT doc_id, source, len({_TOKS_SQL}) AS n_tok FROM documents
), packed AS (
    SELECT source, doc_id, n_tok,
           CAST((SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS UNBOUNDED PRECEDING) - n_tok) // 256 AS BIGINT)
               AS bin_id
    FROM d
)
SELECT source, bin_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       CAST(min(doc_id) AS BIGINT) AS first_doc,
       CAST(max(doc_id) AS BIGINT) AS last_doc
FROM packed
GROUP BY source, bin_id
""")
def q_seq_pack(spark, sf_dir):
    """Greedy sequence packing into ~256-token training bins, the
    'concat-and-chunk' variant: docs are packed in id order within
    each source shard; a doc whose tokens start before a bin boundary
    joins that bin (bins may overflow, never split a doc's start).
    Window semantics = one shuffle on source; per-shard packing (not a
    global order) is deliberate — a global ORDER BY would serialize on
    one partition at 100 TB, per-shard is how packing runs in real
    pipelines."""
    docs = _t(spark, sf_dir, "documents")
    d = docs.select("doc_id", "source",
                    F.size(T.tokens(F.col("text"))).alias("n_tok"))
    w = (Window.partitionBy("source").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    packed = d.withColumn(
        "bin_id",
        F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / 256)
         .cast("bigint"))
    return packed.groupBy("source", "bin_id").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        F.min("doc_id").cast("bigint").alias("first_doc"),
        F.max("doc_id").cast("bigint").alias("last_doc"))


@register("stratified_sample", sql=f"""
WITH k AS (
    SELECT min(cnt) AS k FROM (
        SELECT lang, count(*) AS cnt FROM documents GROUP BY lang)
), r AS (
    SELECT doc_id, lang,
           row_number() OVER (PARTITION BY lang
               ORDER BY {_hb_sql(['doc_id'], 'strat')}, doc_id) AS rn
    FROM documents
)
SELECT doc_id, lang, CAST(rn AS BIGINT) AS rn
FROM r, k WHERE rn <= k.k
""")
def q_stratified_sample(spark, sf_dir):
    """Class balancing: every language stratum downsampled to the
    smallest stratum's size by deterministic hash rank (same sample on
    any cluster/retry; random() could never be oracle-checked).  One
    window shuffle + a broadcast scalar."""
    from ..operators.sample import stratified_balance
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_balance(docs, "lang", ["doc_id"], salt="strat") \
        .select("doc_id", "lang", "rn")


@register("vocab_topk", sql=f"""
WITH t AS (
    SELECT unnest({_TOKS_SQL}) AS tok FROM documents
), c AS (
    SELECT tok, count(*) AS cnt FROM t GROUP BY tok
)
SELECT tok, CAST(cnt AS BIGINT) AS cnt,
       CAST(row_number() OVER (ORDER BY cnt DESC, tok) AS BIGINT) AS rank
FROM c ORDER BY cnt DESC, tok LIMIT 100
""")
def q_vocab_topk(spark, sf_dir):
    """Vocabulary induction: global token frequencies (map-side
    combinable wordcount over exploded tokens), top-100 with a
    deterministic tie-break.  The rank window runs over the already-
    limited 100-row result, never the full vocabulary."""
    docs = _t(spark, sf_dir, "documents")
    counts = (docs.select(F.explode(T.tokens(F.col("text"))).alias("tok"))
              .groupBy("tok").agg(F.count(F.lit(1)).alias("cnt")))
    top = counts.orderBy(F.desc("cnt"), F.asc("tok")).limit(100)
    w = Window.orderBy(F.desc("cnt"), F.asc("tok"))
    return top.select(
        "tok", F.col("cnt").cast("bigint").alias("cnt"),
        F.row_number().over(w).cast("bigint").alias("rank"))


# --------------------------------------------------------------------------
# Corpus composition
# --------------------------------------------------------------------------

@register("corpus_mix", sql=X.source_mix_sql(
    "documents", "doc_id", "text", "source", budget_frac=0.5, salt="mix"))
def q_corpus_mix(spark, sf_dir):
    """Weighted source mixing under a token budget (see
    operators/mixing.source_mix): per-source rates from a keys-only
    aggregate, broadcast back, content-hash sampled in the scan."""
    docs = _t(spark, sf_dir, "documents")
    return X.source_mix(docs, "doc_id", "text", "source",
                        budget_frac=0.5, salt="mix")


@register("docs_shuffle_shard", sql=f"""
WITH b AS (
    SELECT doc_id,
           {X.hash_bucket_sql(["doc_id"], "shf")} AS bucket
    FROM documents
)
SELECT doc_id, CAST(bucket % 8 AS BIGINT) AS shard,
       CAST(row_number() OVER (PARTITION BY bucket % 8
                               ORDER BY bucket, doc_id) AS BIGINT) AS pos
FROM b
""")
def q_docs_shuffle_shard(spark, sf_dir):
    """Deterministic global shuffle + 8-way shard assignment (the
    "shuffle the corpus, write N training shards" step) — one shuffle,
    no global sort (operators/mixing.shuffle_shard)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return X.shuffle_shard(docs, ["doc_id"], n_shards=8, salt="shf") \
        .select("doc_id", "shard", "pos")


@register("unigram_logprob", sql=f"""
WITH t AS (
    SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
), f AS (
    SELECT tok, count(*) AS cnt FROM t GROUP BY tok
), tot AS (
    SELECT SUM(cnt) AS tot FROM f
), v AS (
    SELECT tok,
           CAST(round((-ln(cnt / tot)) * 1000000.0) AS BIGINT) AS nll
    FROM f CROSS JOIN tot
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
       CAST(SUM(nll) AS BIGINT) AS nll_micro,
       (CAST(SUM(nll) AS DOUBLE) / count(*)) / 1000000.0 AS avg_nll
FROM t JOIN v USING (tok) GROUP BY doc_id
""")
def q_unigram_logprob(spark, sf_dir):
    """Unigram-LM negative log-likelihood per document — the
    perplexity-filter baseline (operators/mixing.unigram_nll):
    integer micro-nat quantization keeps document sums exact and
    engine-portable."""
    docs = _t(spark, sf_dir, "documents")
    return X.unigram_nll(docs, "doc_id", "text")


@register("ngram_counts", sql=f"""
WITH d AS (
    SELECT {_TOKS} AS toks FROM documents
), g AS (
    SELECT unnest(list_transform(
        generate_series(1, len(toks) - 1),
        i -> toks[i] || ' ' || toks[i + 1])) AS gram
    FROM d
), c AS (
    SELECT gram, count(*) AS cnt FROM g GROUP BY gram
)
SELECT gram, CAST(cnt AS BIGINT) AS cnt,
       CAST(row_number() OVER (ORDER BY cnt DESC, gram) AS BIGINT) AS rank
FROM c ORDER BY cnt DESC, gram LIMIT 50
""")
def q_ngram_counts(spark, sf_dir):
    """Bigram language-model counts, top-50 with deterministic
    tie-break — the n-gram-LM counterpart of vocab_topk, keeping
    multiplicity (a shingle-dedup would undercount).  Map-side
    combinable wordcount over a generated bigram array; the rank
    window runs over the 50-row result only."""
    docs = _t(spark, sf_dir, "documents")
    tk = docs.select(X.tokens(F.col("text")).alias("__tk"))
    grams = tk.select(F.explode(F.when(
        F.size("__tk") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("__tk") - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(F.col("__tk"), i),
                F.element_at(F.col("__tk"), i + 1))),
    ).otherwise(F.array().cast("array<string>"))).alias("gram"))
    counts = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("cnt"))
    top = counts.orderBy(F.desc("cnt"), F.asc("gram")).limit(50)
    from pyspark.sql import Window
    w = Window.orderBy(F.desc("cnt"), F.asc("gram"))
    return top.select(
        "gram", F.col("cnt").cast("bigint").alias("cnt"),
        F.row_number().over(w).cast("bigint").alias("rank"))


@register("quality_quantile_bins", sql="""
WITH q AS (
    SELECT doc_id, source,
           CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
               AS n_tok
    FROM documents
), cuts AS (
    SELECT source,
           quantile_cont(n_tok, 0.25) AS q1,
           quantile_cont(n_tok, 0.50) AS q2,
           quantile_cont(n_tok, 0.75) AS q3
    FROM q GROUP BY source
)
SELECT q.doc_id, q.source, q.n_tok,
       CAST(CASE WHEN q.n_tok <= c.q1 THEN 0
                 WHEN q.n_tok <= c.q2 THEN 1
                 WHEN q.n_tok <= c.q3 THEN 2
                 ELSE 3 END AS BIGINT) AS bin
FROM q JOIN cuts c ON c.source = q.source
""")
def q_quality_quantile_bins(spark, sf_dir):
    """Per-source quartile binning (the quality-bucketing step of
    curriculum / mixture design): exact per-group quartiles broadcast
    back onto the scan as three comparisons.  At 100 TB swap
    percentile for approx_percentile; the bin assignment is unchanged.
    Integer token counts make the quantile cuts engine-identical."""
    docs = _t(spark, sf_dir, "documents")
    from ..operators.text import token_count
    q = docs.select("doc_id", "source",
                    token_count(F.col("text")).alias("n_tok"))
    cuts = q.groupBy("source").agg(
        F.percentile("n_tok", 0.25).alias("q1"),
        F.percentile("n_tok", 0.50).alias("q2"),
        F.percentile("n_tok", 0.75).alias("q3"))
    return (
        q.join(F.broadcast(cuts), "source")
        .select("doc_id", "source", "n_tok",
                F.when(F.col("n_tok") <= F.col("q1"), 0)
                 .when(F.col("n_tok") <= F.col("q2"), 1)
                 .when(F.col("n_tok") <= F.col("q3"), 2)
                 .otherwise(3).cast("bigint").alias("bin"))
    )


@register("pretrain_sequences", sql=f"""
WITH d AS (
    SELECT doc_id,
           CAST(len({_TOKS}) AS BIGINT) AS n_tok,
           {X.hash_bucket_sql(["doc_id"], "shf")} AS b
    FROM documents
), sh AS (
    SELECT doc_id, n_tok, b, CAST(b % 8 AS BIGINT) AS shard FROM d
), off AS (
    SELECT doc_id, n_tok, shard,
           CAST(coalesce(SUM(n_tok) OVER (
               PARTITION BY shard ORDER BY b, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS BIGINT) AS o
    FROM sh
), seqs AS (
    SELECT shard, doc_id, n_tok, o,
           unnest(generate_series(o // 256, (o + n_tok - 1) // 256))
               AS seq_id
    FROM off
)
SELECT shard, CAST(seq_id AS BIGINT) AS seq_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(least((seq_id + 1) * 256, o + n_tok)
                - greatest(seq_id * 256, o)) AS BIGINT) AS n_tok
FROM seqs GROUP BY shard, seq_id
""")
def q_pretrain_sequences(spark, sf_dir):
    """The GPT-style pretraining layout: concatenate the (hash-
    shuffled) documents of each shard and cut the token stream into
    fixed 256-token training sequences that CROSS document boundaries
    (unlike seq_pack's whole-doc bins and doc_chunk's per-doc
    windows).  Per (shard, sequence): contributing docs and token
    count — all integer arithmetic on token offsets (one window
    cumsum + a span explode), so the oracle matches exactly.  One
    shuffle on the shard key; sequences never materialize tokens."""
    S = 256
    docs = _t(spark, sf_dir, "documents")
    from pyspark.sql import Window
    b = X.hash_bucket(["doc_id"], "shf")
    d = docs.select(
        "doc_id", X.token_count(F.col("text")).alias("n_tok"),
        b.alias("__b"), (b % 8).cast("bigint").alias("shard"))
    w = (Window.partitionBy("shard").orderBy("__b", "doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    off = d.withColumn("o", F.coalesce(F.sum("n_tok").over(w), F.lit(0)))
    seqs = off.select(
        "shard", "n_tok", "o",
        F.explode(F.sequence(
            F.expr(f"o div {S}"),
            F.expr(f"(o + n_tok - 1) div {S}")))
        .alias("seq_id"))
    return (
        seqs.groupBy("shard", "seq_id")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum(F.least((F.col("seq_id") + 1) * S,
                           F.col("o") + F.col("n_tok"))
                   - F.greatest(F.col("seq_id") * S, F.col("o")))
             .alias("n_tok"))
        .select("shard", F.col("seq_id").cast("bigint").alias("seq_id"),
                "n_docs", "n_tok")
    )


# --------------------------------------------------------------------------
# Exact heavy hitters without a full-vocabulary shuffle
# --------------------------------------------------------------------------

_HH_K = 400
_HH_SQL = f"""
WITH t AS (SELECT unnest(regexp_split_to_array(trim(text), '\\s+'))
               AS tok FROM documents),
tot AS (SELECT count(*) AS n FROM t),
c AS (SELECT tok, count(*) AS cnt FROM t GROUP BY tok)
SELECT c.tok, CAST(c.cnt AS BIGINT) AS cnt
FROM c, tot WHERE c.cnt * {_HH_K} > tot.n
"""


@register("heavy_hitter_tokens", sql=_HH_SQL)
def _q_heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phi=1/400 heavy-hitter tokens over the corpus via
    two-pass local-threshold candidate generation + exact recount
    (operators/aggregate.heavy_hitters_exact) — the scale path that
    never shuffles the full vocabulary.  The oracle is the naive
    full GROUP BY with the same integer threshold; results are
    identical by the candidate-superset guarantee."""
    from ..operators.aggregate import heavy_hitters_exact
    from ..operators.text import tokens
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
    return heavy_hitters_exact(toks, "tok", _HH_K)


def _mix_temp_oracle() -> str:
    from ..operators.mixing import source_mix_temperature_sql
    return source_mix_temperature_sql("documents", "doc_id", "text",
                                      "source")


@register("corpus_mix_temperature", sql=_mix_temp_oracle())
def _q_corpus_mix_temperature(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Temperature-scaled corpus mixing (alpha=0.5): per-source rates
    derive from the data as sqrt(token count) — the multilingual
    upsample-the-tail rebalance — with the same deterministic
    content-hash sampling as corpus_mix
    (operators/mixing.source_mix_temperature)."""
    from ..operators.mixing import source_mix_temperature
    docs = load_table(spark, sf_dir, "documents")
    return source_mix_temperature(docs, "doc_id", "text", "source")


def _wsample_oracle() -> str:
    from ..operators.sample import weighted_sample_sql
    return weighted_sample_sql("documents", ["doc_id"], "n_chars",
                               k=100, cols="doc_id, source, n_chars")


@register("weighted_sample_docs", sql=_wsample_oracle())
def _q_weighted_sample_docs(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (operators/sample.weighted_sample, Efraimidis-Spirakis): 100 docs
    with inclusion probability proportional to length — the
    quality/length-weighted subsample step of a curation pipeline,
    reproducible across clusters and engines."""
    from ..operators.sample import weighted_sample
    docs = load_table(spark, sf_dir, "documents") \
        .select("doc_id", "source", "n_chars")
    return weighted_sample(docs, ["doc_id"], "n_chars", k=100)


# --------------------------------------------------------------------------
# Python UDTF surface (lateral table function)
# --------------------------------------------------------------------------

_UDTF_SQL = """
WITH f AS (
    SELECT doc_id,
           list_filter(list_transform(
               regexp_split_to_array(text, '[.!?]+'),
               x -> trim(x, ' ' || chr(9) || chr(10) || chr(11)
                            || chr(12) || chr(13))),
               x -> x <> '') AS parts
    FROM documents
), z AS (
    SELECT doc_id,
           unnest(list_transform(range(1, len(parts) + 1),
                  i -> {'idx': i - 1, 's': parts[i]})) AS u
    FROM f
)
SELECT doc_id, CAST(u.idx AS BIGINT) AS sentence_idx,
       u.s AS sentence
FROM z
"""


@register("udtf_sentence_split", sql=_UDTF_SQL)
def _q_udtf_sentence_split(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Python UDTF surface (Spark 4 user-defined TABLE function) via a
    SQL LATERAL join: one input row fans out to one row per sentence.
    This is deliberately the API demo — the production path for a
    pure-string split is the in-row JVM split + posexplode the other
    text queries use (the oracle proves the semantics are
    SQL-expressible); a UDTF earns its per-row Python cost only when
    the expansion needs real Python (a parser, a tokenizer library, a
    model).  Registered per-call; the oracle replicates the
    filter-then-index semantics with list_filter + generate_series."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="sentence_idx bigint, sentence string")
    class SplitSentences:
        def eval(self, text: str):  # noqa: ANN001 — UDTF contract
            import re
            parts = [s.strip() for s in re.split(r"[.!?]+", text or "")
                     if s.strip()]
            for i, s in enumerate(parts):
                yield i, s

    spark.udtf.register("__split_sentences", SplitSentences)
    load_table(spark, sf_dir, "documents") \
        .createOrReplaceTempView("__udtf_docs")
    return spark.sql("""
        SELECT doc_id, s.sentence_idx, s.sentence
        FROM __udtf_docs, LATERAL __split_sentences(text) s""")


# --------------------------------------------------------------------------
# Per-doc top-k rare terms (tf x inverse document frequency)
# --------------------------------------------------------------------------

_TFIDF_SQL = """
WITH tok AS (
  SELECT d.doc_id, u.term
  FROM documents d, unnest(string_split(d.text, ' ')) u(term)),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM tok GROUP BY doc_id, term),
df AS (
  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
  FROM tok GROUP BY term),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         CAST(floor(tf.tf * (n.n_docs / df.df) * 1000000) AS BIGINT)
           AS score_micro
  FROM tf JOIN df ON df.term = tf.term CROSS JOIN n),
ranked AS (
  SELECT *, row_number() OVER
         (PARTITION BY doc_id
          ORDER BY score_micro DESC, term) AS rnk
  FROM scored)
SELECT doc_id, term, CAST(rnk AS BIGINT) AS rnk, tf, df, score_micro
FROM ranked WHERE rnk <= 3
"""


@register("text_tfidf_topk", sql=_TFIDF_SQL)
def _q_text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 most distinctive terms per document by tf x (N/df) —
    the linear-idf member of the tf-idf family, chosen because N/df
    needs no logarithm: every arithmetic op is IEEE-exact, so the
    floor-scaled score (and therefore the rank frontier) is
    bit-identical across engines.  The docfreq table is corpus-wide
    but vocabulary-sized — it broadcasts; the only big shuffles are
    the (doc, term) tf groupBy and the per-doc top-k window, both on
    keys the data already clusters by."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfq = tok.groupBy("term").agg(
        F.count_distinct("doc_id").alias("df"))
    n = d.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    scored = (tf.join(F.broadcast(dfq), "term")
              .crossJoin(F.broadcast(n))
              .withColumn("score_micro",
                          F.floor(F.col("tf")
                                  * (F.col("n_docs") / F.col("df"))
                                  * F.lit(1000000.0)).cast("long")))
    w = Window.partitionBy("doc_id") \
        .orderBy(F.col("score_micro").desc(), "term")
    return (scored.withColumn("rnk", F.row_number().over(w).cast("long"))
            .filter(F.col("rnk") <= 3)
            .select("doc_id", "term", "rnk", "tf", "df", "score_micro"))


# --------------------------------------------------------------------------
# Deterministic per-group hash sample
# --------------------------------------------------------------------------

_GSAMPLE_SQL = """
WITH r AS (
    SELECT source, doc_id,
           row_number() OVER (PARTITION BY source
                              ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                       doc_id) AS rn
    FROM documents)
SELECT source, doc_id, CAST(rn AS BIGINT) AS sample_rank
FROM r WHERE rn <= 5
"""


@register("group_sample_hash", sql=_GSAMPLE_SQL)
def _q_group_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-group sampling: 5 documents per source,
    chosen by md5(doc_id) order — the "N examples per domain"
    primitive every corpus audit/eval-set build needs.  Hash order is
    (a) uniform (any k-prefix is an unbiased sample), (b) retry-safe
    and engine-portable (md5 of the decimal string, no RNG state),
    and (c) stable under corpus growth for the docs that remain.  One
    shuffle on source; rank truncation prunes everything else.  At
    100 TB: this is a windowed top-k, so each task keeps only its
    local top-5 per group before the exchange."""
    docs = load_table(spark, sf_dir, "documents", fan_out=False)
    w = Window.partitionBy("source") \
        .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    return (docs.select("source", "doc_id",
                        F.row_number().over(w).alias("sample_rank"))
            .filter(F.col("sample_rank") <= 5)
            .withColumn("sample_rank", F.col("sample_rank").cast("long")))


# Closed-form 80/10/10 split: bucket = (id * 2654435761 mod 2^32)
# mod 10; 8 -> valid, 9 -> test, else train.  Integer arithmetic is
# bit-identical in both engines.
_SPLIT_SQL = ("CASE ((doc_id * 2654435761) % 4294967296) % 10 "
              "WHEN 8 THEN 'valid' WHEN 9 THEN 'test' "
              "ELSE 'train' END")


_SPLIT_STATS_SQL = f"""
SELECT {_SPLIT_SQL} AS split,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc_id,
       MAX(doc_id) AS max_doc_id
FROM documents GROUP BY 1
"""


@register("split_train_valid_test", sql=_SPLIT_STATS_SQL)
def _q_split_train_valid_test(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 split with per-split descriptive stats.
    Pure projection + a 3-group aggregate: map-side partial
    aggregation, one constant-size shuffle, no sampling skew — the
    assignment is a function of the id alone, so re-running the
    pipeline (or re-partitioning the table) can never move a document
    between splits."""
    docs = load_table(spark, sf_dir, "documents")
    return (docs.select(_split_col().alias("split"),
                        "doc_id", "n_chars")
            .groupBy("split")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").cast("bigint").alias("sum_chars"),
                 F.min("doc_id").alias("min_doc_id"),
                 F.max("doc_id").alias("max_doc_id")))


_TRI_SQL = (f"list_transform(generate_series(1, len({_TOKS_SQL}) - 2), "
            f"i -> array_to_string(({_TOKS_SQL})[i:i+2], ' '))")


_NGRAM_NOVELTY_SQL = f"""
WITH bg AS (
    SELECT doc_id, unnest(list_distinct({_TRI_SQL})) AS shingle
    FROM documents WHERE doc_id % 7 = 0
), wg AS (
    SELECT DISTINCT unnest(list_distinct({_TRI_SQL})) AS shingle
    FROM documents WHERE doc_id % 7 <> 0
), tot AS (
    SELECT doc_id, COUNT(*) AS n_grams FROM bg GROUP BY 1
), nov AS (
    SELECT bg.doc_id, COUNT(*) AS n_novel
    FROM bg ANTI JOIN wg USING (shingle) GROUP BY 1
)
SELECT t.doc_id, t.n_grams,
       COALESCE(n.n_novel, 0) AS n_novel,
       round(COALESCE(n.n_novel, 0) * 1.0 / t.n_grams, 6) AS novelty
FROM tot t LEFT JOIN nov n ON t.doc_id = n.doc_id
"""


@register("ngram_novelty", sql=_NGRAM_NOVELTY_SQL)
def _q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per arriving doc, the fraction of its distinct word-trigrams
    the warehouse has never seen.  The anti-join is keyed by gram —
    partial-aggregated, shuffle carries (gram, id) pairs only; at
    100 TB the warehouse gram set is the stored decontamination index
    (or its bloom digest — `text_decontaminate`'s documented scale
    path), so the arrival cost is O(batch grams)."""
    from ..operators.dedup import word_shingles

    docs = load_table(spark, sf_dir, "documents")
    bg = word_shingles(docs.filter(F.col("doc_id") % 7 == 0),
                       "doc_id", "text", n=3)
    wg = (word_shingles(docs.filter(F.col("doc_id") % 7 != 0),
                        "doc_id", "text", n=3)
          .select("shingle").distinct())
    tot = bg.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    nov = (bg.join(wg, "shingle", "left_anti")
             .groupBy("doc_id")
             .agg(F.count(F.lit(1)).alias("n_novel")))
    n_novel = F.coalesce(F.col("n_novel"), F.lit(0).cast("long"))
    return (tot.join(nov, "doc_id", "left")
            .select("doc_id", "n_grams",
                    n_novel.alias("n_novel"),
                    F.round(n_novel / F.col("n_grams"), 6)
                     .alias("novelty")))


_SPLIT_LEAKAGE_SQL = f"""
WITH sh0 AS (
    SELECT doc_id, unnest(list_distinct({_TRI_SQL})) AS shingle
    FROM documents
), keep AS (
    SELECT shingle FROM sh0 GROUP BY 1 HAVING COUNT(*) <= 50
), sh AS (
    SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN keep USING (shingle)
), sizes AS (
    SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1
), inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
    FROM sh a JOIN sh b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
), p AS (
    SELECT doc_a, doc_b,
           round(i * 1.0 / (sa.sz + sb.sz - i), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE round(i * 1.0 / (sa.sz + sb.sz - i), 6) >= 0.8
), d AS (
    SELECT doc_id, {_SPLIT_SQL} AS split FROM documents
)
SELECT doc_a, doc_b, da.split AS split_a, db.split AS split_b, jaccard
FROM p
JOIN d da ON doc_a = da.doc_id
JOIN d db ON doc_b = db.doc_id
WHERE da.split <> db.split
"""


@register("split_leakage_pairs", sql=_SPLIT_LEAKAGE_SQL)
def _q_split_leakage_pairs(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Registered face of :func:`leakage_pairs` — the exact
    inverted-index candidate path, whose DuckDB oracle is
    closed-form.  The LSH-banded 100 TB variant is
    ``leakage_pairs(..., candidates="lsh")`` with its subset law and
    measured sf1/sf3 curve."""
    return leakage_pairs(spark, sf_dir, candidates="inverted")


_STOP = T.LANG_MARKERS["en"]
_STOP_SQL = ", ".join(f"'{w}'" for w in _STOP)


# --------------------------------------------------------------------------
# Gopher-style quality rules
# --------------------------------------------------------------------------

_GOPHER_SQL = f"""
WITH m AS (
    SELECT doc_id,
           CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tok,
           CAST(list_sum(list_transform({_TOKS_SQL}, t -> len(t)))
                AS BIGINT) AS sum_len,
           CAST(len(list_filter({_TOKS_SQL},
                t -> regexp_matches(t, '[A-Za-z]'))) AS BIGINT)
               AS n_alpha,
           CAST(len(list_filter({_TOKS_SQL},
                t -> t IN ({_STOP_SQL}))) AS BIGINT) AS stop_hits
    FROM documents
)
SELECT doc_id, n_tok,
       round(sum_len * 1.0 / n_tok, 6) AS mean_tok_len,
       round(n_alpha * 1.0 / n_tok, 6) AS alpha_ratio,
       stop_hits,
       CAST(n_tok >= 50 AS BIGINT) AS r_words,
       CAST(sum_len >= 3 * n_tok AND sum_len <= 10 * n_tok AS BIGINT)
           AS r_wordlen,
       CAST(5 * n_alpha >= 4 * n_tok AS BIGINT) AS r_alpha,
       CAST(stop_hits >= 2 AS BIGINT) AS r_stop,
       CAST(n_tok >= 50 AS BIGINT)
         * CAST(sum_len >= 3 * n_tok AND sum_len <= 10 * n_tok AS BIGINT)
         * CAST(5 * n_alpha >= 4 * n_tok AS BIGINT)
         * CAST(stop_hits >= 2 AS BIGINT) AS passes
FROM m
"""


@register("quality_gopher_rules", sql=_GOPHER_SQL)
def _q_quality_gopher_rules(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Rule-based document filter in the Gopher/MassiveText style:
    per-document verdicts for word count, mean word length, alphabetic
    word share, and stopword presence, plus the composite pass bit.
    Every rule is decided in exact integer arithmetic (cross-
    multiplied thresholds), so Spark and the oracle can never disagree
    on a boundary document; the two rounded ratios are reporting
    columns only.  One scan, zero shuffles before the (absent) agg —
    this is a map-only verdict at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    toks = T.tokens(F.col("text"))
    n_tok = F.size(toks).cast("bigint")
    sum_len = F.aggregate(
        toks, F.lit(0).cast("bigint"),
        lambda acc, t: acc + F.length(t)).cast("bigint")
    n_alpha = F.size(
        F.filter(toks, lambda t: t.rlike("[A-Za-z]"))).cast("bigint")
    stop_hits = T.stopword_count(F.col("text"), _STOP)
    r_words = (n_tok >= 50).cast("bigint")
    r_wordlen = ((sum_len >= 3 * n_tok)
                 & (sum_len <= 10 * n_tok)).cast("bigint")
    r_alpha = (5 * n_alpha >= 4 * n_tok).cast("bigint")
    r_stop = (stop_hits >= 2).cast("bigint")
    return docs.select(
        "doc_id",
        n_tok.alias("n_tok"),
        F.round(sum_len.cast("double") / n_tok, 6).alias("mean_tok_len"),
        F.round(n_alpha.cast("double") / n_tok, 6).alias("alpha_ratio"),
        stop_hits.alias("stop_hits"),
        r_words.alias("r_words"), r_wordlen.alias("r_wordlen"),
        r_alpha.alias("r_alpha"), r_stop.alias("r_stop"),
        (r_words * r_wordlen * r_alpha * r_stop).alias("passes"),
    )


# --------------------------------------------------------------------------
# PSI drift between splits
# --------------------------------------------------------------------------

_PSI_SQL = f"""
WITH d AS (
    SELECT {_SPLIT_SQL} AS split,
           least(n_chars // 250, 9) AS b
    FROM documents
), grid AS (
    SELECT s.split, g.b
    FROM (VALUES ('train'), ('valid'), ('test')) s(split),
         generate_series(0, 9) g(b)
), c AS (
    SELECT grid.split, grid.b, COALESCE(x.cnt, 0) AS c
    FROM grid LEFT JOIN (
        SELECT split, b, COUNT(*) AS cnt FROM d GROUP BY 1, 2
    ) x ON grid.split = x.split AND grid.b = x.b
), n AS (
    SELECT split, SUM(c) AS n FROM c GROUP BY 1
), p AS (
    SELECT c.split, c.b, n.n,
           (c.c + 0.5) / (n.n + 5.0) AS p
    FROM c JOIN n USING (split)
), t AS (
    SELECT b, p AS pt FROM p WHERE split = 'train'
)
SELECT p.split, CAST(MAX(p.n) AS BIGINT) AS n_docs,
       round(SUM((t.pt - p.p) * ln(t.pt / p.p)), 6) AS psi
FROM p JOIN t USING (b)
WHERE p.split <> 'train'
GROUP BY 1
"""


@register("split_psi_drift", sql=_PSI_SQL)
def _q_split_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the document-length distribution,
    train vs each holdout split, on the fixed ten-cell grid
    ``least(n_chars // 250, 9)`` with Laplace smoothing
    ``(c + 0.5) / (n + 5.0)``.  The grid is materialized outright
    (3 splits x 10 bins = 30 rows) so absent cells still contribute —
    smoothing makes ln finite everywhere.  Scale shape: one scan
    partial-aggregates onto 30 cells; everything after the first
    groupBy is constant-size work, so the query is scan-bound at any
    corpus size (the grid cross-join is 30 literal rows, not data)."""
    docs = load_table(spark, sf_dir, "documents")
    binned = docs.select(
        _split_col().alias("split"),
        F.least(F.floor(F.col("n_chars") / F.lit(250)),
                F.lit(9)).cast("bigint").alias("b"))
    cnt = binned.groupBy("split", "b").agg(
        F.count(F.lit(1)).alias("c"))
    grid = (spark.range(10).select(F.col("id").alias("b"))
            .crossJoin(spark.range(3).select(
                F.element_at(
                    F.array(F.lit("train"), F.lit("valid"),
                            F.lit("test")),
                    (F.col("id") + 1).cast("int")).alias("split"))))
    full = (grid.join(cnt, ["split", "b"], "left")
            .select("split", "b",
                    F.coalesce(F.col("c"), F.lit(0).cast("bigint"))
                     .alias("c")))
    tot = full.groupBy("split").agg(F.sum("c").alias("n"))
    p = (full.join(tot, "split")
         .select("split", "b", "n",
                 ((F.col("c") + F.lit(0.5))
                  / (F.col("n") + F.lit(5.0))).alias("p")))
    train = (p.filter(F.col("split") == "train")
             .select("b", F.col("p").alias("pt")))
    holdout = p.filter(F.col("split") != "train")
    term = (F.col("pt") - F.col("p")) * F.log(F.col("pt") / F.col("p"))
    return (holdout.join(train, "b")
            .groupBy("split")
            .agg(F.max("n").cast("bigint").alias("n_docs"),
                 F.round(F.sum(term), 6).alias("psi")))


# --------------------------------------------------------------------------
# Near-dup rate by source
# --------------------------------------------------------------------------

_NEARDUP_BY_SOURCE_SQL = f"""
WITH sh0 AS (
    SELECT doc_id, unnest(list_distinct({_TRI_SQL})) AS shingle
    FROM documents
), keep AS (
    SELECT shingle FROM sh0 GROUP BY 1 HAVING COUNT(*) <= 50
), sh AS (
    SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN keep USING (shingle)
), sizes AS (
    SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1
), inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
    FROM sh a JOIN sh b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
), dup_ids AS (
    SELECT DISTINCT doc_id FROM (
        SELECT doc_a AS doc_id FROM inter
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE round(i * 1.0 / (sa.sz + sb.sz - i), 6) >= 0.8
        UNION ALL
        SELECT doc_b AS doc_id FROM inter
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE round(i * 1.0 / (sa.sz + sb.sz - i), 6) >= 0.8
    )
), flagged AS (
    SELECT source, COUNT(*) AS n_near_dup
    FROM documents SEMI JOIN dup_ids USING (doc_id)
    GROUP BY 1
)
SELECT d.source, COUNT(*) AS n_docs,
       COALESCE(MAX(f.n_near_dup), 0) AS n_near_dup,
       round(COALESCE(MAX(f.n_near_dup), 0) * 1.0 / COUNT(*), 6)
           AS near_dup_rate
FROM documents d LEFT JOIN flagged f ON d.source = f.source
GROUP BY 1
"""


@register("near_dup_rate_by_source", sql=_NEARDUP_BY_SOURCE_SQL)
def _q_near_dup_rate_by_source(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Which sources contribute the near-duplicate mass: documents
    that appear in any trigram-Jaccard >= 0.8 pair (the df <= 50
    pruned inverted-index discovery shared with `dedup_containment`
    and `split_leakage_pairs`), counted per source against the
    source's total.  At 100 TB the pair discovery swaps to the
    LSH-banded candidates exactly as measured for the leakage query;
    the census itself is ONE documents pass — a left join against the
    flagged-id set feeding a single per-source rollup that counts
    total and flagged rows together.  (A semi-join census would scan
    documents twice, and Spark's PushDownLeftSemiAntiJoin rule pushes
    a left-semi join below the scan fan-out repartition, stranding a
    RoundRobin exchange mid-plan — the one-pass left join keeps the
    fan-out at the scan where the plan-hygiene law can see it.)

    Pair discovery consumes the SESSION-STAGED shared pair set
    (_shared.trigram_neardup_pairs — identical arithmetic,
    previously rebuilt inline per invocation; optimization r12)."""
    from ._shared import trigram_neardup_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = trigram_neardup_pairs(spark, sf_dir)
    dup_ids = (pairs.select(F.col("doc_a").alias("doc_id"))
               .union(pairs.select(F.col("doc_b").alias("doc_id")))
               .distinct())
    return (docs.select("doc_id", "source")
            .join(dup_ids.withColumn("__dup", F.lit(1)), "doc_id",
                  "left")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.count("__dup").alias("n_near_dup"))
            .select("source", "n_docs", "n_near_dup",
                    F.round(F.col("n_near_dup") * F.lit(1.0)
                            / F.col("n_docs"), 6)
                     .alias("near_dup_rate")))


# --------------------------------------------------------------------------
# Length curriculum
# --------------------------------------------------------------------------

_CURRICULUM_SQL = f"""
WITH d AS (
    SELECT {_SPLIT_SQL} AS split,
           CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tok, n_chars
    FROM documents
)
SELECT split,
       CASE WHEN n_tok <= 32 THEN 'xs' WHEN n_tok <= 64 THEN 'sm'
            WHEN n_tok <= 128 THEN 'md' WHEN n_tok <= 256 THEN 'lg'
            ELSE 'xl' END AS len_bin,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM d GROUP BY 1, 2
"""


@register("split_length_curriculum", sql=_CURRICULUM_SQL)
def _q_split_length_curriculum(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Document count and token mass per (split x context-length bin)
    — the table a packing/curriculum scheduler is parameterized by.
    Pure projection + one partial-aggregated groupBy onto a
    splits x bins grid of at most 15 cells."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = T.token_count(F.col("text"))
    len_bin = (F.when(n_tok <= 32, F.lit("xs"))
               .when(n_tok <= 64, F.lit("sm"))
               .when(n_tok <= 128, F.lit("md"))
               .when(n_tok <= 256, F.lit("lg"))
               .otherwise(F.lit("xl")))
    return (docs.select(_split_col().alias("split"),
                        len_bin.alias("len_bin"),
                        n_tok.alias("n_tok"), "n_chars")
            .groupBy("split", "len_bin")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tok").cast("bigint").alias("sum_tokens"),
                 F.sum("n_chars").cast("bigint").alias("sum_chars")))


# The Gopher thresholds (_q_quality_
# gopher_rules), re-derived here in the same exact-integer form so the
# attribution census and the tradeoff frontier can never disagree with
# the per-document verdict query on a boundary document.
_RULES = ("words", "wordlen", "alpha", "stop")


def _gopher_bits(docs: DataFrame) -> DataFrame:
    """doc_id, source, n_tok, and the four exact-integer rule bits."""
    toks = T.tokens(F.col("text"))
    n_tok = F.size(toks).cast("bigint")
    sum_len = F.aggregate(
        toks, F.lit(0).cast("bigint"),
        lambda acc, t: acc + F.length(t)).cast("bigint")
    n_alpha = F.size(
        F.filter(toks, lambda t: t.rlike("[A-Za-z]"))).cast("bigint")
    stop_hits = T.stopword_count(F.col("text"), _STOP)
    return docs.select(
        "doc_id", "source",
        n_tok.alias("n_tok"),
        (n_tok >= 50).cast("bigint").alias("b_words"),
        ((sum_len >= 3 * n_tok) & (sum_len <= 10 * n_tok))
        .cast("bigint").alias("b_wordlen"),
        (5 * n_alpha >= 4 * n_tok).cast("bigint").alias("b_alpha"),
        (stop_hits >= 2).cast("bigint").alias("b_stop"),
    )


_BITS_SQL = f"""
    SELECT doc_id, source,
           CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tok,
           CAST(len({_TOKS_SQL}) >= 50 AS BIGINT) AS b_words,
           CAST(list_sum(list_transform({_TOKS_SQL}, t -> len(t)))
                    >= 3 * len({_TOKS_SQL})
                AND list_sum(list_transform({_TOKS_SQL}, t -> len(t)))
                    <= 10 * len({_TOKS_SQL}) AS BIGINT) AS b_wordlen,
           CAST(5 * len(list_filter({_TOKS_SQL},
                    t -> regexp_matches(t, '[A-Za-z]')))
                    >= 4 * len({_TOKS_SQL}) AS BIGINT) AS b_alpha,
           CAST(len(list_filter({_TOKS_SQL},
                    t -> t IN ({_STOP_SQL}))) >= 2 AS BIGINT) AS b_stop
    FROM documents
"""


# --------------------------------------------------------------------------
# Epoch / repeat budget (data-constrained scaling)
# --------------------------------------------------------------------------

_TARGET_MULT = 2  # token target = 2x the stored corpus, per source
_EPOCH_CAP = 4    # the published point of collapsing returns


_EPOCH_SQL = f"""
WITH per_content AS (
    SELECT source, md5({_NORM_SQL}) AS content_key,
           MIN(CAST(len({_TOKS_SQL}) AS BIGINT)) AS n_tok,
           COUNT(*) AS n_copies
    FROM documents GROUP BY 1, 2
), per_source AS (
    SELECT source,
           CAST(SUM(n_tok * n_copies) AS BIGINT) AS stored_tokens,
           CAST(SUM(n_tok) AS BIGINT) AS unique_tokens
    FROM per_content GROUP BY 1
), budget AS (
    SELECT source, stored_tokens, unique_tokens,
           CAST({_TARGET_MULT} * stored_tokens AS BIGINT) AS alloc_tokens
    FROM per_source
)
SELECT source, stored_tokens, unique_tokens, alloc_tokens,
       CAST((alloc_tokens + unique_tokens - 1) // unique_tokens
            AS BIGINT) AS epochs_needed,
       CAST(least((alloc_tokens + unique_tokens - 1) // unique_tokens,
                  {_EPOCH_CAP}) AS BIGINT) AS epochs_capped,
       CAST(least(alloc_tokens, {_EPOCH_CAP} * unique_tokens)
            AS BIGINT) AS tokens_served,
       CAST(alloc_tokens
            - least(alloc_tokens, {_EPOCH_CAP} * unique_tokens)
            AS BIGINT) AS shortfall,
       round(1.0 - unique_tokens * 1.0 / stored_tokens, 6) AS dup_rate
FROM budget
"""


@register("epoch_repeat_budget", sql=_EPOCH_SQL)
def _q_epoch_repeat_budget(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Per-source repeat budget under a 2x-stored-mass token target
    served from the exact-deduped pool, epochs capped at 4.

    Unique mass first groups (source, content_key) — the md5
    fingerprint shuffle of exact dedup, never bodies; token count is a
    function of the normalized content, so min() over the group is
    exact, not a choice.  The budget arithmetic is all BIGINT:
    ``epochs_needed = (alloc + unique - 1) div unique`` is exact
    ceil-division, so a boundary allocation can never flip on float
    rounding between engines."""
    docs = load_table(spark, sf_dir, "documents")
    per_content = (docs.select(
        "source",
        T.fingerprint_md5(F.col("text")).alias("content_key"),
        T.token_count(F.col("text")).alias("n_tok"))
        .groupBy("source", "content_key")
        .agg(F.min("n_tok").alias("n_tok"),
             F.count(F.lit(1)).alias("n_copies")))
    per_source = per_content.groupBy("source").agg(
        F.sum(F.col("n_tok") * F.col("n_copies")).cast("bigint")
         .alias("stored_tokens"),
        F.sum("n_tok").cast("bigint").alias("unique_tokens"))
    alloc = (F.lit(_TARGET_MULT) * F.col("stored_tokens")).cast("bigint")
    budget = per_source.select(
        "source", "stored_tokens", "unique_tokens",
        alloc.alias("alloc_tokens"))
    epochs_needed = F.expr(
        "(alloc_tokens + unique_tokens - 1) div unique_tokens")
    served = F.least(F.col("alloc_tokens"),
                     F.lit(_EPOCH_CAP) * F.col("unique_tokens"))
    return budget.select(
        "source", "stored_tokens", "unique_tokens", "alloc_tokens",
        epochs_needed.cast("bigint").alias("epochs_needed"),
        F.least(epochs_needed, F.lit(_EPOCH_CAP)).cast("bigint")
         .alias("epochs_capped"),
        served.cast("bigint").alias("tokens_served"),
        (F.col("alloc_tokens") - served).cast("bigint")
         .alias("shortfall"),
        F.round(F.lit(1.0) - F.col("unique_tokens")
                / F.col("stored_tokens"), 6).alias("dup_rate"),
    )


# --------------------------------------------------------------------------
# Gopher rule attribution (filter ablation)
# --------------------------------------------------------------------------

def _attr_leg(rule: str) -> str:
    others = [o for o in _RULES if o != rule]
    prod = " * ".join(f"b_{o}" for o in others)
    return f"""
    SELECT '{rule}' AS rule,
           CAST(SUM(1 - b_{rule}) AS BIGINT) AS n_fail,
           CAST(SUM((1 - b_{rule}) * {prod}) AS BIGINT)
               AS n_fail_exclusive,
           round(SUM(1 - b_{rule}) * 1.0 / COUNT(*), 6) AS fail_rate
    FROM bits"""


_ATTR_SQL = (f"WITH bits AS ({_BITS_SQL})"
             + " UNION ALL ".join(_attr_leg(r) for r in _RULES))


@register("gopher_rule_attribution", sql=_ATTR_SQL)
def _q_gopher_rule_attribution(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Per-rule removal census: documents failing each rule, and
    failing ONLY that rule (what loosening it alone would recover).
    One partial aggregation onto a single row of nine BIGINT sums,
    then an in-row unpivot to four literal rows — constant-size work
    after the scan at any corpus size."""
    bits = _gopher_bits(load_table(spark, sf_dir, "documents"))
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    for r in _RULES:
        others = [f"b_{o}" for o in _RULES if o != r]
        fail = 1 - F.col(f"b_{r}")
        excl = fail * F.col(others[0]) * F.col(others[1]) \
            * F.col(others[2])
        aggs.append(F.sum(fail).cast("bigint").alias(f"nf_{r}"))
        aggs.append(F.sum(excl).cast("bigint").alias(f"ne_{r}"))
    one = bits.agg(*aggs)
    rows = F.array(*[
        F.struct(F.lit(r).alias("rule"),
                 F.col(f"nf_{r}").alias("n_fail"),
                 F.col(f"ne_{r}").alias("n_fail_exclusive"),
                 F.col("n_docs").alias("n_docs"))
        for r in _RULES])
    return (one.select(F.explode(rows).alias("x"))
            .select("x.rule", "x.n_fail", "x.n_fail_exclusive",
                    F.round(F.col("x.n_fail") * F.lit(1.0)
                            / F.col("x.n_docs"), 6).alias("fail_rate")))


# --------------------------------------------------------------------------
# Source datacard
# --------------------------------------------------------------------------

_DATACARD_SQL = f"""
WITH base AS (
    SELECT source, lang, md5({_NORM_SQL}) AS content_key,
           CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tok
    FROM documents
), per_source AS (
    SELECT source, COUNT(*) AS n_docs,
           CAST(COUNT(DISTINCT content_key) AS BIGINT) AS n_unique,
           CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
    FROM base GROUP BY 1
)
SELECT source, n_docs, n_unique, sum_tokens, n_langs,
       round(1.0 - n_unique * 1.0 / n_docs, 6) AS exact_dup_rate,
       round(sum_tokens * 1.0 / n_docs, 6) AS mean_tokens,
       round(sum_tokens * 1.0
             / (SELECT SUM(sum_tokens) FROM per_source), 6)
           AS corpus_share
FROM per_source
"""


@register("source_datacard", sql=_DATACARD_SQL)
def _q_source_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One datasheet row per source: docs, distinct contents, token
    mass, language spread, exact-dup rate, share of the corpus token
    mass.  The distinct-content count shuffles md5 fingerprints (the
    exact-dedup shape); the corpus total is an unpartitioned window
    over the PER-SOURCE frame (|sources| rows — the single-partition
    window is bounded by the grid, never by data), NOT an
    agg+crossJoin of the same subtree: Catalyst compiles that as a
    second full documents scan (measured scans=2 in the first plan
    audit), and at 100 TB a datasheet must not read the corpus
    twice."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "source", "lang",
        T.fingerprint_md5(F.col("text")).alias("content_key"),
        T.token_count(F.col("text")).alias("n_tok"))
    per_source = base.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("content_key").cast("bigint")
         .alias("n_unique"),
        F.sum("n_tok").cast("bigint").alias("sum_tokens"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"))
    w_all = Window.rowsBetween(Window.unboundedPreceding,
                               Window.unboundedFollowing)
    return per_source.select(
        "source", "n_docs", "n_unique", "sum_tokens", "n_langs",
        F.round(F.lit(1.0) - F.col("n_unique")
                / F.col("n_docs"), 6).alias("exact_dup_rate"),
        F.round(F.col("sum_tokens") * F.lit(1.0)
                / F.col("n_docs"), 6).alias("mean_tokens"),
        F.round(F.col("sum_tokens") * F.lit(1.0)
                / F.sum("sum_tokens").over(w_all), 6)
         .alias("corpus_share"))


# --------------------------------------------------------------------------
# Quality / token tradeoff frontier
# --------------------------------------------------------------------------

_TRADEOFF_SQL = f"""
WITH bits AS ({_BITS_SQL}),
g AS (
    SELECT b_words + b_wordlen + b_alpha + b_stop AS grade,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS sum_tokens
    FROM bits GROUP BY 1
)
SELECT grade, n_docs, sum_tokens,
       CAST(SUM(sum_tokens) OVER (ORDER BY grade DESC) AS BIGINT)
           AS cum_tokens,
       round(SUM(sum_tokens) OVER (ORDER BY grade DESC) * 1.0
             / SUM(sum_tokens) OVER (), 6) AS cum_share
FROM g
"""


@register("quality_token_tradeoff", sql=_TRADEOFF_SQL)
def _q_quality_token_tradeoff(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Token mass available at each quality bar: grade = number of
    Gopher rules passed (0-4); cumulative token mass from the best
    grade down is the frontier a budget planner reads ("a bar of
    grade >= g leaves this many tokens").  One scan onto a <= 5-row
    grade rollup; the cumulative window runs over those 5 rows."""
    bits = _gopher_bits(load_table(spark, sf_dir, "documents"))
    grade = (F.col("b_words") + F.col("b_wordlen") + F.col("b_alpha")
             + F.col("b_stop")).alias("grade")
    by_grade = (bits.select(grade, "n_tok")
                .groupBy("grade")
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.sum("n_tok").cast("bigint").alias("sum_tokens")))
    w = (Window.orderBy(F.col("grade").desc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    total = Window.rowsBetween(Window.unboundedPreceding,
                               Window.unboundedFollowing)
    return by_grade.select(
        "grade", "n_docs", "sum_tokens",
        F.sum("sum_tokens").over(w).cast("bigint").alias("cum_tokens"),
        F.round(F.sum("sum_tokens").over(w) * F.lit(1.0)
                / F.sum("sum_tokens").over(total), 6)
         .alias("cum_share"))


# --------------------------------------------------------------------------
# Epoch mix schedule
# --------------------------------------------------------------------------

_SCHEDULE_SQL = f"""
WITH budget_q AS ({_EPOCH_SQL})
SELECT source, CAST(e.e AS BIGINT) AS epoch,
       CAST(greatest(0, least(unique_tokens,
            alloc_tokens - (e.e - 1) * unique_tokens)) AS BIGINT)
           AS tokens_in_epoch,
       round(greatest(0, least(unique_tokens,
             alloc_tokens - (e.e - 1) * unique_tokens)) * 1.0
             / alloc_tokens, 6) AS frac_of_alloc
FROM budget_q, generate_series(1, 4) e(e)
"""


@register("epoch_mix_schedule", sql=_SCHEDULE_SQL)
def _q_epoch_mix_schedule(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """The per-(source, epoch) token table a run consumes under
    tranche 12's epoch/repeat budget: epoch e serves
    clamp(alloc − (e−1)·unique, 0, unique) tokens — full passes over
    the deduped pool until the allocation runs out, a partial last
    pass, zeros after.  Σ over epochs equals the budget's
    tokens_served by construction (law-tested).  Pure arithmetic on
    the |sources|-row budget grid."""
    budget = _q_epoch_repeat_budget(spark, sf_dir)
    e = budget.withColumn(
        "epoch", F.explode(F.sequence(F.lit(1), F.lit(4))))
    served = F.greatest(
        F.lit(0).cast("bigint"),
        F.least(F.col("unique_tokens"),
                F.col("alloc_tokens")
                - (F.col("epoch") - 1) * F.col("unique_tokens")))
    return e.select(
        "source", F.col("epoch").cast("bigint").alias("epoch"),
        served.cast("bigint").alias("tokens_in_epoch"),
        F.round(served * F.lit(1.0) / F.col("alloc_tokens"), 6)
         .alias("frac_of_alloc"))

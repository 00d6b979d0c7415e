"""Multimodal queries: binary metadata and real PPM, PNG, WAV and AVI
codecs, each checked against a closed-form oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import multimodal as M
from ..registry import register
from ..sources.parquet_source import load_table
from ._shared import _t


# --------------------------------------------------------------------------
# Multimodal plumbing
# --------------------------------------------------------------------------

_META_SQL = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS checksum,
       CAST(concat('0x', substr(md5(text), 1, 4)) AS BIGINT) % 1920 + 1
           AS width,
       CAST(concat('0x', substr(md5(text), 5, 4)) AS BIGINT) % 1080 + 1
           AS height,
       CAST(concat('0x', substr(md5(text), 9, 2)) AS BIGINT) % 30 + 1
           AS n_frames
FROM documents
"""


@register("multimodal_binary_meta", sql=_META_SQL)
def q_multimodal_binary_meta(spark, sf_dir):
    """Binary-column metadata, pure JVM expression path (octet_length /
    md5 / hex-parse over the payload bytes)."""
    d = M.with_binary_payload(_t(spark, sf_dir, "documents"))
    return M.binary_meta(d)


@register("multimodal_decode_stub", sql="""
SELECT doc_id,
       CAST(concat('0x', substr(md5(text), 1, 4)) AS BIGINT) % 1920 + 1
           AS width,
       CAST(concat('0x', substr(md5(text), 5, 4)) AS BIGINT) % 1080 + 1
           AS height,
       CAST(concat('0x', substr(md5(text), 9, 2)) AS BIGINT) % 30 + 1
           AS n_frames,
       md5(text) AS checksum
FROM documents
""")
def q_multimodal_decode_stub(spark, sf_dir):
    """Arrow-batched decode plumbing (mapInPandas over binary payloads)
    with the deterministic stub kernel — the oracle checks the full
    Python round trip byte-for-byte."""
    d = M.with_binary_payload(_t(spark, sf_dir, "documents"))
    return M.decode_stub(d)


@register("multimodal_frame_sample", sql="""
WITH meta AS (
    SELECT doc_id,
           CAST(concat('0x', substr(md5(text), 9, 2)) AS BIGINT) % 30 + 1
               AS n_frames
    FROM documents
)
SELECT doc_id, n_frames,
       CAST(unnest(generate_series(0, n_frames - 1, 5)) AS BIGINT)
           AS frame_idx
FROM meta
""")
def q_multimodal_frame_sample(spark, sf_dir):
    """Frame sampling: one row per sampled frame index (every 5th up
    to the stub decoder's n_frames) — the row-explosion shape a video
    keyframe extractor produces, JVM-side."""
    d = M.with_binary_payload(_t(spark, sf_dir, "documents"))
    return M.frame_sample(d, every=5)


@register("multimodal_resize_stub", sql="""
WITH meta AS (
    SELECT doc_id,
           CAST(concat('0x', substr(md5(text), 1, 4)) AS BIGINT) % 1920 + 1
               AS width,
           CAST(concat('0x', substr(md5(text), 5, 4)) AS BIGINT) % 1080 + 1
               AS height
    FROM documents
), scaled AS (
    SELECT *, least(256.0 / width, 256.0 / height, 1.0) AS scale FROM meta
)
SELECT doc_id, width, height,
       greatest(CAST(floor(width * scale) AS BIGINT), 1) AS out_width,
       greatest(CAST(floor(height * scale) AS BIGINT), 1) AS out_height
FROM scaled
""")
def q_multimodal_resize_stub(spark, sf_dir):
    """Aspect-preserving resize-to-fit plumbing via mapInPandas; the
    oracle recomputes the Python kernel's arithmetic in SQL, checking
    the Arrow round trip end-to-end."""
    d = M.with_binary_payload(_t(spark, sf_dir, "documents"))
    return M.resize_stub(d, max_side=256)


@register("multimodal_feature_stub", sql="""
SELECT doc_id, CAST(j AS BIGINT) AS dim,
       CAST(concat('0x', substr(md5(text), 4 * j + 1, 4)) AS BIGINT)
           / 32768.0 - 1.0 AS value
FROM documents, generate_series(0, 7) AS t(j)
""")
def q_multimodal_feature_stub(spark, sf_dir):
    """Feature-extraction plumbing (mapInPandas payload -> fixed-dim
    vector, stub kernel), unnested to scalar rows so the oracle checks
    every dimension value through the Arrow round trip."""
    d = M.with_binary_payload(_t(spark, sf_dir, "documents"))
    feats = M.feature_extract_stub(d)
    return feats.select(
        "doc_id", F.posexplode("feature").alias("dim", "value")) \
        .withColumn("dim", F.col("dim").cast("bigint"))


@register("multimodal_ppm_roundtrip", sql="""
WITH px AS (
    SELECT d.doc_id, r.r, c.c
    FROM documents d,
         generate_series(0, 7) r(r),
         generate_series(0, 7) c(c)
)
SELECT doc_id, CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
       CAST(SUM((doc_id * 31 + r * 7 + c * 3) % 256) AS BIGINT) AS sum_r,
       CAST(SUM((doc_id * 31 + r * 7 + c * 3 + 11) % 256) AS BIGINT)
           AS sum_g,
       CAST(SUM((doc_id * 31 + r * 7 + c * 3 + 22) % 256) AS BIGINT)
           AS sum_b
FROM px GROUP BY doc_id
""")
def q_multimodal_ppm_roundtrip(spark, sf_dir):
    """REAL image decode, end to end: a deterministic 8×8 P6 PPM is
    encoded per document (raw binary image bytes) and decoded back
    with the numpy-only parser (operators/multimodal.decode_ppm);
    per-channel pixel sums match the closed-form oracle exactly.
    Both stages are Arrow-batched mapInPandas — narrow, no shuffle —
    the production multimodal shape with an honest codec."""
    from ..operators.multimodal import decode_ppm, encode_ppm
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return decode_ppm(encode_ppm(docs))


@register("multimodal_ppm_resize", sql="""
WITH px AS (
    SELECT d.doc_id, r.r * 2 AS r, c.c * 2 AS c
    FROM documents d,
         generate_series(0, 3) r(r),
         generate_series(0, 3) c(c)
)
SELECT doc_id, CAST(4 AS BIGINT) AS width, CAST(4 AS BIGINT) AS height,
       CAST(SUM((doc_id * 31 + r * 7 + c * 3) % 256) AS BIGINT) AS sum_r,
       CAST(SUM((doc_id * 31 + r * 7 + c * 3 + 11) % 256) AS BIGINT)
           AS sum_g,
       CAST(SUM((doc_id * 31 + r * 7 + c * 3 + 22) % 256) AS BIGINT)
           AS sum_b
FROM px GROUP BY doc_id
""")
def q_multimodal_ppm_resize(spark, sf_dir):
    """REAL image resize: encode → numpy nearest-neighbor 2× downsample
    (top-left anchor) → channel sums of the 4×4 result, matching the
    closed-form oracle over the even-indexed pixels exactly."""
    from ..operators.multimodal import encode_ppm, resize_ppm
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return resize_ppm(encode_ppm(docs), factor=2)


# --------------------------------------------------------------------------
# Multimodal, second modality: real RIFF/WAV PCM audio
# --------------------------------------------------------------------------

_WAV_SQL = """
WITH t AS (
    SELECT d.doc_id,
           ((d.doc_id * 37 + s.t * 13) % 65536) - 32768 AS amp
    FROM documents d, generate_series(0, 63) s(t)
)
SELECT doc_id, CAST(64 AS BIGINT) AS n_samples,
       CAST(8000 AS BIGINT) AS sample_rate,
       CAST(1 AS BIGINT) AS n_channels,
       CAST(SUM(amp) AS BIGINT) AS sum_amp,
       CAST(SUM(amp * amp) AS BIGINT) AS sum_sq,
       CAST(MAX(abs(amp)) AS BIGINT) AS peak
FROM t GROUP BY doc_id
"""


@register("multimodal_wav_stats", sql=_WAV_SQL)
def _q_multimodal_wav_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode, end to end: a deterministic 64-sample 16-bit
    mono PCM WAV is encoded per document (real RIFF bytes: header, fmt
    chunk, data chunk) and decoded back with the numpy-only chunk-walk
    parser (operators/multimodal.decode_wav); the exact integer stats
    (amplitude sum, energy, peak) match the closed-form oracle.  The
    audio twin of multimodal_ppm_roundtrip — both stages Arrow-batched
    mapInPandas, narrow, no shuffle."""
    from ..operators.multimodal import decode_wav, encode_wav
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_wav(encode_wav(docs))


_WAV_RESAMPLE_SQL = """
WITH t AS (
    SELECT d.doc_id,
           ((d.doc_id * 37 + s.t * 2 * 13) % 65536) - 32768 AS amp
    FROM documents d, generate_series(0, 31) s(t)
)
SELECT doc_id, CAST(32 AS BIGINT) AS n_samples,
       CAST(4000 AS BIGINT) AS sample_rate,
       CAST(1 AS BIGINT) AS n_channels,
       CAST(SUM(amp) AS BIGINT) AS sum_amp,
       CAST(SUM(amp * amp) AS BIGINT) AS sum_sq,
       CAST(MAX(abs(amp)) AS BIGINT) AS peak
FROM t GROUP BY doc_id
"""


@register("multimodal_wav_resample", sql=_WAV_RESAMPLE_SQL)
def _q_multimodal_wav_resample(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """REAL audio downsample: encode → decimate-by-2 (every second
    sample, rate halved) → exact integer stats of the 32-sample
    result, matching the closed-form oracle over even sample indices —
    the audio twin of multimodal_ppm_resize."""
    from ..operators.multimodal import encode_wav, resample_wav
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return resample_wav(encode_wav(docs), factor=2)


# Pixel (r, c) channel k of frame f is (doc_id*31 + f*17 + r*7 + c*3
# + k*11) % 256 over a 6x4 raster; frame count is doc_id % 4 + 2.
# The literals mirror operators/multimodal.AVI_W/AVI_H/avi_n_frames.
_AVI_SQL = """
WITH px AS (
    SELECT d.doc_id, k.k,
           (d.doc_id * 31 + f.f * 17 + r.r * 7 + c.c * 3 + k.k * 11)
           % 256 AS v
    FROM documents d,
         generate_series(0, 5) f(f), generate_series(0, 3) r(r),
         generate_series(0, 5) c(c), generate_series(0, 2) k(k)
    WHERE f.f < d.doc_id % 4 + 2
)
SELECT doc_id,
       CAST(doc_id % 4 + 2 AS BIGINT) AS n_frames,
       CAST(6 AS BIGINT) AS width,
       CAST(4 AS BIGINT) AS height,
       CAST(SUM(CASE WHEN k = 0 THEN v END) AS BIGINT) AS sum_r,
       CAST(SUM(CASE WHEN k = 1 THEN v END) AS BIGINT) AS sum_g,
       CAST(SUM(CASE WHEN k = 2 THEN v END) AS BIGINT) AS sum_b
FROM px GROUP BY doc_id
"""


@register("multimodal_avi_stats", sql=_AVI_SQL)
def _q_multimodal_avi_stats(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """REAL video decode, end to end: a deterministic uncompressed
    RIFF/AVI clip (avi_n_frames(doc_id) frames of 6x4 24-bit BI_RGB
    DIBs, spec-conforming container) is encoded per document and
    decoded back with the numpy-only chunk-walk parser
    (operators/multimodal.decode_avi); exact per-clip integer channel
    sums match the closed-form oracle.  The video member of the
    PPM/WAV/AVI codec family — both stages Arrow-batched mapInPandas,
    narrow, no shuffle."""
    from ..operators.multimodal import decode_avi, encode_avi
    # fan_out deliberately OFF (optimization r11): the fanned
    # encode->decode chain (two chained python workers x 32 tasks)
    # measured a pathological in-suite blowup (1.3 s -> 13.4 s min-of-3)
    # while the bare chain runs 0.5-0.8 s solo and in-suite.
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_avi(encode_avi(docs))


_AVI_FRAMES_SQL = """
WITH px AS (
    SELECT d.doc_id, f.f AS frame_idx, k.k,
           (d.doc_id * 31 + f.f * 17 + r.r * 7 + c.c * 3 + k.k * 11)
           % 256 AS v
    FROM documents d,
         generate_series(0, 5) f(f), generate_series(0, 3) r(r),
         generate_series(0, 5) c(c), generate_series(0, 2) k(k)
    WHERE f.f < d.doc_id % 4 + 2 AND f.f % 2 = 0
)
SELECT doc_id,
       CAST(frame_idx AS BIGINT) AS frame_idx,
       CAST(SUM(CASE WHEN k = 0 THEN v END) AS BIGINT) AS sum_r,
       CAST(SUM(CASE WHEN k = 1 THEN v END) AS BIGINT) AS sum_g,
       CAST(SUM(CASE WHEN k = 2 THEN v END) AS BIGINT) AS sum_b
FROM px GROUP BY doc_id, frame_idx
"""


@register("multimodal_avi_frames", sql=_AVI_FRAMES_SQL)
def _q_multimodal_avi_frames(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """REAL frame sampling over the same clips: every 2nd frame's
    exact per-channel pixel sums, one row per kept frame.  Only the
    sampled frames are decoded — the chunk walk returns byte spans, so
    skipped frames' pixels are never materialized (the property that
    makes sparse sampling cheap on real video)."""
    from ..operators.multimodal import encode_avi, frame_sample_avi
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return frame_sample_avi(encode_avi(docs), every=2)


# Pixel (r, c) channel k is (doc_id*31 + r*7 + c*3 + k*11) % 256 over
# an 8×8 raster — identical to the PPM oracle (the PNG layer changes
# the container, not the content).
_PNG_SQL = """
WITH px AS (
    SELECT d.doc_id, r.r, c.c
    FROM documents d,
         generate_series(0, 7) r(r),
         generate_series(0, 7) c(c)
)
SELECT doc_id, CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
       CAST(SUM((doc_id * 31 + r * 7 + c * 3) % 256) AS BIGINT) AS sum_r,
       CAST(SUM((doc_id * 31 + r * 7 + c * 3 + 11) % 256) AS BIGINT)
           AS sum_g,
       CAST(SUM((doc_id * 31 + r * 7 + c * 3 + 22) % 256) AS BIGINT)
           AS sum_b
FROM px GROUP BY doc_id
"""


@register("multimodal_png_roundtrip", sql=_PNG_SQL)
def _q_multimodal_png_roundtrip(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """REAL *compressed*-image decode, end to end: a deterministic
    8×8 RGB raster is written as a spec-conforming baseline PNG
    (zlib-deflated IDAT, CRC32 on every chunk, scanline filters
    cycling through all five types) and decoded back with the
    stdlib+numpy parser (operators/multimodal.decode_png — chunk
    walk, CRC verification, inflate, full unfiltering).  The pixel
    formula matches encode_ppm, so the closed-form channel-sum
    oracle transfers verbatim — but unlike the PPM row this payload
    round-trips through actual compression and filter prediction,
    retiring the engine's last codec placeholder.  Both stages are
    Arrow-batched mapInPandas: narrow, no shuffle, decode throughput
    scales with executor count."""
    from ..operators.multimodal import decode_png, encode_png

    # fan_out deliberately OFF — same chained-codec in-suite finding
    # as multimodal_avi_stats (OPTIMIZATION_r11.md).
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_png(encode_png(docs))


# Unified-schema union of the four codec oracles: images/video carry
# (width, height, frames, channel sums); audio carries (rate,
# channels, samples, sum/energy/peak) in the same slots.  Content
# formulas mirror operators/multimodal.py's encoders literally.
_DECODE_REAL_SQL = """
WITH img AS (
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 4 = 0 THEN 'png' ELSE 'ppm' END
               AS format,
           CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
           CAST(1 AS BIGINT) AS n_units,
           CAST(SUM((d.doc_id * 31 + r.r * 7 + c.c * 3) % 256)
                AS BIGINT) AS s0,
           CAST(SUM((d.doc_id * 31 + r.r * 7 + c.c * 3 + 11) % 256)
                AS BIGINT) AS s1,
           CAST(SUM((d.doc_id * 31 + r.r * 7 + c.c * 3 + 22) % 256)
                AS BIGINT) AS s2
    FROM documents d,
         generate_series(0, 7) r(r), generate_series(0, 7) c(c)
    WHERE d.doc_id % 4 IN (0, 1)
    GROUP BY 1, 2
), wav AS (
    SELECT doc_id, 'wav' AS format,
           CAST(8000 AS BIGINT) AS width, CAST(1 AS BIGINT) AS height,
           CAST(64 AS BIGINT) AS n_units,
           CAST(SUM(amp) AS BIGINT) AS s0,
           CAST(SUM(amp * amp) AS BIGINT) AS s1,
           CAST(MAX(ABS(amp)) AS BIGINT) AS s2
    FROM (
        SELECT d.doc_id,
               ((d.doc_id * 37 + t.t * 13) % 65536) - 32768 AS amp
        FROM documents d, generate_series(0, 63) t(t)
        WHERE d.doc_id % 4 = 2
    ) GROUP BY 1
), avi AS (
    SELECT doc_id, 'avi' AS format,
           CAST(6 AS BIGINT) AS width, CAST(4 AS BIGINT) AS height,
           CAST(doc_id % 4 + 2 AS BIGINT) AS n_units,
           CAST(SUM(CASE WHEN k = 0 THEN v END) AS BIGINT) AS s0,
           CAST(SUM(CASE WHEN k = 1 THEN v END) AS BIGINT) AS s1,
           CAST(SUM(CASE WHEN k = 2 THEN v END) AS BIGINT) AS s2
    FROM (
        SELECT d.doc_id, k.k,
               (d.doc_id * 31 + f.f * 17 + r.r * 7 + c.c * 3
                + k.k * 11) % 256 AS v
        FROM documents d,
             generate_series(0, 5) f(f), generate_series(0, 3) r(r),
             generate_series(0, 5) c(c), generate_series(0, 2) k(k)
        WHERE d.doc_id % 4 = 3 AND f.f < d.doc_id % 4 + 2
    ) GROUP BY 1
)
SELECT * FROM img
UNION ALL SELECT * FROM wav
UNION ALL SELECT * FROM avi
"""


@register("multimodal_decode_real", sql=_DECODE_REAL_SQL)
def _q_multimodal_decode_real(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """MIXED-format corpus decode — the media-lakehouse reality where
    one binary column carries many containers.  Each document is
    encoded into the format its id selects (doc_id % 4 → PNG / PPM /
    WAV / AVI), the four encoded frames are unioned into one corpus,
    and ``decode_real`` dispatches per row on magic bytes inside a
    single Arrow-batched pass — no per-format repartition, no
    shuffle; every decoded stat matches the per-format closed-form
    oracle exactly.  At 100 TB the union is simply the ingested
    table; dispatch cost is O(1) per row against the batch's
    in-memory bytes."""
    from ..operators.multimodal import (decode_real, encode_avi,
                                       encode_png, encode_ppm,
                                       encode_wav)

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    m4 = F.col("doc_id") % 4
    mixed = (encode_png(docs.filter(m4 == 0))
             .unionByName(encode_ppm(docs.filter(m4 == 1)))
             .unionByName(encode_wav(docs.filter(m4 == 2)))
             .unionByName(encode_avi(docs.filter(m4 == 3))))
    return decode_real(mixed)

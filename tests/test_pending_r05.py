"""Oracle parity for the queries registered after the core set, plus
the laws the oracle compare cannot see: the decorrelation plan law for
the correlated-subquery shapes, codec and sketch properties,
brute-force references for the analytics queries, the bench.py
contract, and the laws of the driver-verification rotation."""

from __future__ import annotations

import random

import pytest

from etl_dados_ibge_sp_spark.registry import (
    STALE_BOUND, _green_history, _order, all_queries)

from .oracle_compare import assert_registered_matches_oracle, assert_wired
from .rotation_sim import BUDGET, simulate

QUERIES = all_queries()

# The queries registered after the core set (rounds 5-9).
SWEEP = (
    "abc_classification", "active_users_7d", "attribution_touch_credit",
    "basket_pair_support", "benford_digit_audit", "bloom_filter_join",
    "boilerplate_lines", "brand_supplier_counts",
    "classifier_auc_exact", "conversion_within_7d",
    "corpus_mix_temperature", "correlated_exists_orders",
    "correlated_small_qty_revenue", "countmin_user_events",
    "customer_rfm_segments", "cusum_changepoint", "dedup_containment",
    "dedup_incremental_load", "disjunctive_filter_revenue",
    "dominant_part_suppliers", "dq_report", "embed_ann_batch",
    "embed_label_centroids", "embed_quantize_int8",
    "embed_radius_search", "embed_score_logreg", "event_chisq_cells",
    "event_day_streaks", "event_path_topk", "event_props_json",
    "event_transition_counts", "event_type_gini", "events_decay_sum",
    "events_dow_profile", "events_interpolate_linear",
    "events_ohlc_bars", "events_rolling_anomaly", "fd_approx_audit",
    "fk_integrity_audit", "group_sample_hash",
    "having_scalar_threshold", "heavy_hitter_tokens",
    "hhi_supplier_concentration", "hybrid_search_rrf",
    "inactive_premium_customers", "incremental_agg_maintenance",
    "kmv_audience_overlap", "kmv_distinct_by_type",
    "ks_two_sample_sources", "large_order_customers",
    "ltv_cohort_triangle", "market_share_yearly",
    "max_concurrent_sessions", "min_acctbal_supplier",
    "mode_event_per_user", "multimodal_avi_frames",
    "multimodal_avi_stats", "multimodal_wav_resample",
    "multimodal_wav_stats", "nation_pair_trade",
    "nation_top_customer_csv", "nation_trade_bfs",
    "nation_trade_triangles", "nation_trade_yearly", "null_safe_join",
    "order_priority_exists", "pareto_front_brand", "pivot_event_counts",
    "product_profit_yearly", "profile_tables", "promo_revenue_ratio",
    "regional_revenue", "returned_item_customers",
    "returnflag_priority_counts", "revenue_apportionment",
    "revenue_forecast_filter", "revenue_gini_nation",
    "revenue_sliding_7d", "rolling_corr_counts_7d",
    "schema_evolution_scan", "score_calibration_bins",
    "seasonal_naive_error", "semantic_dedup", "session_gap_stats",
    "set_except_churned", "sole_returned_supplier",
    "stream_incremental_agg", "stream_rolling_anomaly",
    "stream_windowed_topk", "suppliers_serving_all_nations",
    "survival_second_order", "text_dup_ngram_spans", "text_tfidf_topk",
    "top_revenue_supplier", "udtf_sentence_split", "value_mad_outliers",
    "weighted_median_value", "weighted_sample_docs",
    "window_distribution_functions", "window_value_functions",
    "zorder_key_orders")


@pytest.mark.parametrize("name", sorted(SWEEP))
def test_pending_query_matches_oracle(name, spark, sf_dir):
    assert_registered_matches_oracle(name, spark, sf_dir)


def test_correlated_plans_are_decorrelated(spark, sf_dir):
    """Catalyst must rewrite the correlated scalar subqueries into
    aggregate + join (no per-row subquery node survives in the
    physical plan)."""
    for name in ("correlated_small_qty_revenue",
                 "correlated_exists_orders",
                 "min_acctbal_supplier"):
        df = QUERIES[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Join" in plan, f"{name}: no join in plan"
        # In-plan subquery execution nodes would mean row-at-a-time
        # re-evaluation; decorrelation leaves none.
        assert "Subquery" not in plan, f"{name}: correlated subquery " \
            f"survived decorrelation:\n{plan[:2000]}"
    # The Q22 analog keeps ONE legitimate Subquery node — the
    # UNCORRELATED scalar average, computed once and broadcast — while
    # its correlated NOT EXISTS must decorrelate to a left-anti join.
    plan = QUERIES["inactive_premium_customers"](spark, sf_dir) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan, \
        f"NOT EXISTS not decorrelated to anti join:\n{plan[:2000]}"


def test_pending_queue_wiring():
    assert_wired(SWEEP)


def test_wav_codec_rejects_garbage(spark):
    from etl_dados_ibge_sp_spark.operators.multimodal import decode_wav

    df = spark.createDataFrame([(1, bytearray(b"not audio"))],
                               "doc_id bigint, payload binary")
    with pytest.raises(Exception, match="not a RIFF"):
        decode_wav(df).collect()


def test_wav_parser_handles_extra_chunks(spark):
    """The chunk walk must skip unknown chunks (LIST/INFO metadata is
    common in real WAVs) and still find fmt + data."""
    import struct

    import numpy as np

    samples = np.array([100, -200, 300, -32768], dtype="<i2")
    data = samples.tobytes()
    fmt = struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
    junk = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # padded
    payload = (b"RIFF" + struct.pack("<I", 0) + b"WAVE"
               + junk
               + b"fmt " + fmt
               + b"data" + struct.pack("<I", len(data)) + data)
    from etl_dados_ibge_sp_spark.operators.multimodal import decode_wav
    df = spark.createDataFrame([(7, bytearray(payload))],
                               "doc_id bigint, payload binary")
    row = decode_wav(df).collect()[0]
    assert (row["n_samples"], row["sample_rate"], row["n_channels"]) == \
        (4, 8000, 1)
    assert row["sum_amp"] == int(samples.astype("int64").sum())
    assert row["sum_sq"] == int((samples.astype("int64") ** 2).sum())
    assert row["peak"] == 32768


def test_wav_roundtrip_property(spark):
    """Property law: for arbitrary int16 sample vectors, a hand-built
    canonical WAV decodes to exactly numpy's stats (the codec is a
    parser, not an approximation)."""
    import struct

    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from etl_dados_ibge_sp_spark.operators.multimodal import (
        decode_wav, resample_wav)

    def wav_bytes(samples: np.ndarray, rate: int = 8000) -> bytes:
        data = samples.astype("<i2").tobytes()
        return (b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
                + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, rate,
                                        rate * 2, 2, 16)
                + b"data" + struct.pack("<I", len(data)) + data)

    @given(st.lists(st.integers(min_value=-32768, max_value=32767),
                    min_size=1, max_size=64))
    @settings(max_examples=12, deadline=None)
    def law(vals):
        a = np.array(vals, dtype=np.int64)
        df = spark.createDataFrame([(1, bytearray(wav_bytes(a)))],
                                   "doc_id bigint, payload binary")
        r = decode_wav(df).collect()[0]
        assert r["n_samples"] == len(a)
        assert r["sum_amp"] == int(a.sum())
        assert r["sum_sq"] == int((a * a).sum())
        assert r["peak"] == int(np.abs(a).max())
        r2 = resample_wav(df, factor=2).collect()[0]
        b = a[::2]
        assert r2["n_samples"] == len(b)
        assert r2["sum_amp"] == int(b.sum())
        assert r2["sample_rate"] == 4000

    law()


def test_triangle_participation_matches_bruteforce(spark):
    """Property law: on arbitrary small graphs (with duplicate and
    self-loop noise), the degree-ordered distributed triangle count
    equals brute-force enumeration."""
    import itertools

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from etl_dados_ibge_sp_spark.operators.graph import (
        triangle_participation)

    @given(st.lists(st.tuples(st.integers(0, 9), st.integers(0, 9)),
                    min_size=1, max_size=40))
    @settings(max_examples=10, deadline=None)
    def law(pairs):
        df = spark.createDataFrame(pairs, "u bigint, v bigint")
        got = {r["node"]: r["n_triangles"]
               for r in triangle_participation(df).collect()}
        edges = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
        nodes = sorted({x for e in edges for x in e})
        want = {}
        for x, y, z in itertools.combinations(nodes, 3):
            if {(x, y), (x, z), (y, z)} <= edges:
                for n in (x, y, z):
                    want[n] = want.get(n, 0) + 1
        assert got == want

    law()


def test_pareto_front_matches_bruteforce(spark):
    """Property law: the O(n log n) window sweep equals the quadratic
    dominance definition on arbitrary (group, price, size) rows —
    including duplicate price/size collisions, the tie cases the RANGE
    frame must handle exactly."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    @given(st.lists(st.tuples(st.integers(0, 1), st.integers(0, 8),
                              st.integers(0, 8)),
                    min_size=1, max_size=30))
    @settings(max_examples=10, deadline=None)
    def law(rows):
        data = [(i, g, p, s) for i, (g, p, s) in enumerate(rows)]
        df = spark.createDataFrame(
            data, "id bigint, grp bigint, price bigint, size bigint")
        win = (Window.partitionBy("grp").orderBy("price")
               .rangeBetween(Window.unboundedPreceding, -1))
        got = {r["id"] for r in
               df.withColumn("__m", F.max("size").over(win))
               .filter(F.col("__m").isNull()
                       | (F.col("__m") <= F.col("size"))).collect()}
        want = {i for i, (g, p, s) in enumerate(rows)
                if not any(g2 == g and p2 < p and s2 > s
                           for (g2, p2, s2) in rows)}
        assert got == want

    law()


def test_heavy_hitters_matches_bruteforce(spark):
    """Property law: two-pass local-threshold heavy hitters equals the
    naive global GROUP BY threshold on arbitrary skewed item lists,
    for every partitioning (the candidate-superset guarantee is an
    averaging argument over batches, so batching must not matter)."""
    from collections import Counter

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from etl_dados_ibge_sp_spark.operators.aggregate import (
        heavy_hitters_exact)

    @given(st.lists(st.sampled_from("abcdefgh"), min_size=1,
                    max_size=60),
           st.integers(2, 6), st.integers(1, 4))
    @settings(max_examples=8, deadline=None)
    def law(vals, k, parts):
        df = spark.createDataFrame([(v,) for v in vals],
                                   "item string").repartition(parts)
        got = {(r["item"], r["cnt"])
               for r in heavy_hitters_exact(df, "item", k).collect()}
        n = len(vals)
        want = {(v, c) for v, c in Counter(vals).items() if c * k > n}
        assert got == want

    law()


def test_zorder_key_matches_python_reference(spark):
    """Property law: the JVM shift/or Morton key equals a direct
    Python reference (quantize then interleave) on arbitrary numeric
    pairs."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from etl_dados_ibge_sp_spark.operators.layout import zorder_key

    BITS = 8

    def ref(vals, los, his):
        out = []
        for row in vals:
            qs = []
            for v, lo, hi in zip(row, los, his):
                q = int((float(v) - lo) / (hi - lo) * (2 ** BITS))
                qs.append(max(0, min(2 ** BITS - 1, q)))
            key = 0
            for b in range(BITS):
                for i, q in enumerate(qs):
                    key |= ((q >> b) & 1) << (b * len(qs) + i)
            out.append(key)
        return out

    @given(st.lists(st.tuples(st.integers(-1000, 1000),
                              st.integers(-1000, 1000)),
                    min_size=2, max_size=25))
    @settings(max_examples=10, deadline=None)
    def law(rows):
        los = [min(r[i] for r in rows) for i in range(2)]
        his = [max(r[i] for r in rows) for i in range(2)]
        if los[0] == his[0] or los[1] == his[1]:
            return  # degenerate range: quantization divides by zero
        data = [(i, a, b) for i, (a, b) in enumerate(rows)]
        df = spark.createDataFrame(data, "id bigint, x bigint, y bigint")
        got = {r["id"]: r["zkey"]
               for r in zorder_key(df, ["x", "y"]).collect()}
        # Python floor of the same double expression: mirror exactly.
        import math
        want = {}
        for i, (a, b) in enumerate(rows):
            qs = []
            for v, lo, hi in ((a, los[0], his[0]), (b, los[1], his[1])):
                q = math.floor((float(v) - lo) / (hi - lo) * 256.0)
                qs.append(max(0, min(255, int(q))))
            key = 0
            for bb in range(8):
                for j, q in enumerate(qs):
                    key |= ((q >> bb) & 1) << (bb * 2 + j)
            want[i] = key
        assert got == want

    law()


def test_zorder_layout_tightens_file_stats(spark, sf_dir):
    """The point of Z-ordering: after range-partitioning by zkey, each
    partition's min/max span on EVERY participating column is a small
    fraction of the global range (a random layout spans ~100% of both
    columns in every file, so nothing can be skipped)."""
    from pyspark.sql import functions as F

    from etl_dados_ibge_sp_spark.operators.layout import zorder_layout

    o = spark.read.parquet(f"{sf_dir}/orders.parquet") \
        .select("o_orderkey", "o_custkey", "o_totalprice")
    laid = zorder_layout(o, ["o_custkey", "o_totalprice"], n_files=16)
    spans = (laid.groupBy(F.spark_partition_id().alias("pid"))
             .agg((F.max("o_custkey") - F.min("o_custkey"))
                  .alias("span_c"),
                  (F.max("o_totalprice") - F.min("o_totalprice"))
                  .alias("span_p"))
             .collect())
    glob = o.agg(
        (F.max("o_custkey") - F.min("o_custkey")).alias("c"),
        (F.max("o_totalprice") - F.min("o_totalprice")).alias("p")
    ).collect()[0]
    avg_c = sum(r["span_c"] for r in spans) / len(spans) / glob["c"]
    avg_p = sum(r["span_p"] for r in spans) / len(spans) / glob["p"]
    # Each file covers a compact Morton range => well under the ~100%
    # span an unsorted layout gives on both dimensions.
    assert avg_c < 0.6, f"custkey span fraction {avg_c:.2f}"
    assert avg_p < 0.6, f"totalprice span fraction {avg_p:.2f}"


def test_count_min_sketch_laws(spark):
    """Three CMS laws on a skewed corpus: (1) estimates never
    undercount; (2) sketches merge losslessly (per-half sketches
    combined == whole-corpus sketch, bucket for bucket); (3) with
    width >> distinct items the overshoot is bounded by the collision
    budget (here: exact for the heavy item)."""
    from collections import Counter

    from etl_dados_ibge_sp_spark.operators.aggregate import (
        cms_build, cms_estimate, cms_merge)

    vals = (["the"] * 200 + ["of"] * 90 + ["and"] * 40
            + [f"rare{i}" for i in range(120)])
    truth = Counter(vals)
    df = spark.createDataFrame([(v,) for v in vals], "item string") \
        .repartition(4)

    sk = cms_build(df, "item", depth=4, width=1024)
    est = {r["item"]: r["est"]
           for r in cms_estimate(sk, df, "item",
                                 depth=4, width=1024).collect()}
    assert set(est) == set(truth)
    overshoot = 0
    for v, c in truth.items():
        assert est[v] >= c, f"{v}: CMS undercounted {est[v]} < {c}"
        overshoot = max(overshoot, est[v] - c)
    # 453 rows into 4x1024 buckets: expected collisions under one row
    # per bucket; allow a small constant.
    assert overshoot <= 3, f"overshoot {overshoot} beyond budget"
    assert est["the"] == 200  # the heavy hitter is exact here

    # Mergeability: half-sketches combined equal the whole sketch.
    h1 = spark.createDataFrame([(v,) for v in vals[:225]], "item string")
    h2 = spark.createDataFrame([(v,) for v in vals[225:]], "item string")
    merged = cms_merge(cms_build(h1, "item"), cms_build(h2, "item"))
    a = {(r["d"], r["bucket"]): r["cnt"] for r in sk.collect()}
    b = {(r["d"], r["bucket"]): r["cnt"] for r in merged.collect()}
    assert a == b


def test_compact_parquet_reduces_files_losslessly(spark, sf_dir, tmp_path):
    """Compaction law: a 64-fragment table compacts to the byte-sized
    file count with identical content (order-insensitive checksum)."""
    import glob

    from pyspark.sql import functions as F

    from etl_dados_ibge_sp_spark.sources.files import compact_parquet

    src = str(tmp_path / "frag")
    dst = str(tmp_path / "compact")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.repartition(64).write.parquet(src)
    n_in = len(glob.glob(f"{src}/*.parquet"))
    assert n_in >= 32  # genuinely fragmented

    frag_bytes = sum(
        __import__("os").path.getsize(p)
        for p in glob.glob(f"{src}/*.parquet"))
    n_out = compact_parquet(spark, src, dst,
                            target_bytes=frag_bytes // 4 + 1)
    assert n_out <= 4
    assert len(glob.glob(f"{dst}/*.parquet")) == n_out

    def checksum(df):
        return df.agg(F.sum(F.xxhash64(*sorted(df.columns)))).collect()[0][0]

    back = spark.read.parquet(dst)
    assert back.count() == docs.count()
    assert checksum(back) == checksum(docs)


def test_stream_anomaly_null_parity(spark, tmp_path):
    """NULL-value parity law: with NULL values planted in the event
    stream, the streaming detector must agree with the batch query
    exactly — the SQL frame semantics count a null row in n_window but
    exclude it from the sums, and a null current value is never
    flagged."""
    import datetime as dt

    from etl_dados_ibge_sp_spark.queries.events import (
        _q_events_rolling_anomaly, _q_stream_rolling_anomaly)

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for u in (1, 2):
        for i in range(30):
            # a null every 7th event; a spike at i == 25
            v = None if i % 7 == 3 else (500.0 if i == 25 else 10.0 + i * 0.5)
            rows.append((eid, base + dt.timedelta(minutes=i), u,
                         "view", v, "{}"))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp_ntz, user_id bigint, "
              "event_type string, value double, props string")
    d = str(tmp_path / "evdir")
    df.coalesce(1).write.parquet(d)
    import glob
    import shutil
    frag = glob.glob(f"{d}/*.parquet")[0]
    shutil.move(frag, str(tmp_path / "events.parquet"))
    sf = str(tmp_path)

    batch = {tuple(r) for r in
             _q_events_rolling_anomaly(spark, sf).collect()}
    stream = {tuple(r) for r in
              _q_stream_rolling_anomaly(spark, sf).collect()}
    assert batch, "no anomalies flagged — fixture too tame to test"
    assert stream == batch


def test_hop_distances_matches_bruteforce(spark):
    """Property law: bounded BFS equals a Python BFS on arbitrary
    directed graphs (k caps the distance; unreachable nodes absent)."""
    from collections import deque

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from etl_dados_ibge_sp_spark.operators.graph import hop_distances

    @given(st.lists(st.tuples(st.integers(0, 7), st.integers(0, 7)),
                    min_size=1, max_size=25),
           st.integers(1, 4))
    @settings(max_examples=8, deadline=None)
    def law(pairs, k):
        edges = spark.createDataFrame(pairs, "u bigint, v bigint")
        srcs = spark.createDataFrame([(0,)], "node bigint")
        got = {r["node"]: r["dist"]
               for r in hop_distances(edges, srcs, k).collect()}
        adj = {}
        for u, v in pairs:
            adj.setdefault(u, set()).add(v)
        want, q = {0: 0}, deque([0])
        while q:
            u = q.popleft()
            if want[u] >= k:
                continue
            for v in adj.get(u, ()):
                if v not in want:
                    want[v] = want[u] + 1
                    q.append(v)
        assert got == want

    law()


def test_incremental_merge_equals_recompute_any_split(spark):
    """Incremental-maintenance law: merging the partial states of ANY
    split of the data finalizes identically to a full aggregate —
    including 3-way splits and splits with empty/disjoint key sets."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from pyspark.sql import functions as F

    from etl_dados_ibge_sp_spark.operators.incremental import (
        finalize, merge_states, partial_aggregate)

    @given(st.lists(st.tuples(st.integers(0, 4),
                              st.integers(-100, 100)),
                    min_size=1, max_size=40),
           st.integers(0, 40), st.integers(0, 40))
    @settings(max_examples=8, deadline=None)
    def law(rows, cut1, cut2):
        a, b = sorted((min(cut1, len(rows)), min(cut2, len(rows))))
        parts = [rows[:a], rows[a:b], rows[b:]]
        frames = [
            spark.createDataFrame(p or [(99999, 0)],
                                  "k bigint, v bigint")
            .filter(F.col("k") != 99999) if not p else
            spark.createDataFrame(p, "k bigint, v bigint")
            for p in parts
        ]
        states = [partial_aggregate(f, ["k"], "v") for f in frames]
        got = {tuple(r) for r in
               finalize(merge_states(*states)).collect()}
        full = spark.createDataFrame(rows, "k bigint, v bigint")
        want = {tuple(r) for r in
                finalize(partial_aggregate(full, ["k"], "v")).collect()}
        assert got == want

    law()


def test_weighted_sample_excludes_nonpositive_weights(spark):
    """Zero/NULL-weight rows have inclusion probability 0 BY
    DEFINITION and must never appear — in Spark their key would be
    NULL and sort FIRST (DuckDB sorts NULLs last), so without the
    filter the engines disagree and zero-probability rows win."""
    from etl_dados_ibge_sp_spark.operators.sample import weighted_sample

    rows = [(1, 0), (2, None), (3, 10), (4, 5), (5, 1)]
    df = spark.createDataFrame(rows, "id bigint, w bigint")
    got = {r["id"] for r in
           weighted_sample(df, ["id"], "w", k=5).collect()}
    assert got == {3, 4, 5}


def test_bench_compact_line_fits_driver_tail():
    """The driver records only the last 2 000 chars of bench.py's
    stdout; round 4's per-query dict outgrew that and BENCH_r04.json
    lost its raw timings (parsed: null).  Pin the fix: the compact
    line stays well under the window even at full query count with
    many regressions, and never embeds the per-query dict."""
    import json
    import sys

    sys.path.insert(0, "/root/repo")
    from bench import compact_line

    full = {
        "metric": "suite_wall_sec", "value": 123.456, "unit": "sec",
        "sf": 0.1, "n_queries": 300, "mean_query_sec": 0.412,
        "host_factor": 1.27,
        "queries": {f"query_name_{i:03d}": 0.5 for i in range(300)},
        "baseline_delta": {f"query_name_{i:03d}": 1.0 for i in range(300)},
        "regressions": [f"some_regressed_query_{i:03d}"
                        for i in range(300)],
    }
    line = json.dumps(compact_line(full))
    assert len(line) < 1000, f"compact line too long: {len(line)}"
    assert "query_name_000" not in line  # per-query detail excluded
    assert "baseline_delta" not in line


def test_bench_covers_every_query():
    """No silent coverage caps: bench.py's suite is exactly the full
    registered surface (VERDICT r04 missing #3)."""
    import ast
    import sys

    sys.path.insert(0, "/root/repo")
    src = open("/root/repo/bench.py").read()
    tree = ast.parse(src)
    # The suite must be derived from all_queries, with no
    # hand-maintained HEADLINE list left to drift.
    assert "all_queries" in src
    names = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    assert "HEADLINE" not in names


# --------------------------------------------------------------------------
# Round-5 ADVICE regression tests
# --------------------------------------------------------------------------


def test_session_memo_sweeps_stopped_sessions(spark):
    """_SESSION_MEMO must not pin stopped sessions (or their persisted
    frames) for the process lifetime: entries whose owning session is
    stopped are swept on the next memo call, and session_memo_clear
    evicts a live session's entries on demand (round-5 ADVICE)."""
    from types import SimpleNamespace

    from etl_dados_ibge_sp_spark import session as S

    unpersisted = []
    dead = SimpleNamespace(sparkContext=SimpleNamespace(_jsc=None))
    frame = SimpleNamespace(unpersist=lambda: unpersisted.append(True))
    S._SESSION_MEMO[(id(dead), "k")] = (dead, frame)
    # Composite values (the IVF memo stores (persisted corpus, model))
    # must release every persisted member, not just bare frames.
    pair = (SimpleNamespace(unpersist=lambda: unpersisted.append("a")),
            ["centroids"])
    S._SESSION_MEMO[(id(dead), "k2")] = (dead, pair)

    live_calls = []
    got = S.session_memo(spark, "__memo_evict_test__",
                         lambda: live_calls.append(1) or "value")
    assert got == "value" and live_calls == [1]
    assert (id(dead), "k") not in S._SESSION_MEMO  # dead entry swept
    assert (id(dead), "k2") not in S._SESSION_MEMO
    assert unpersisted.count(True) == 1    # bare frame released
    assert unpersisted.count("a") == 1     # tuple member released
    assert len(unpersisted) == 2
    # Live entry memoizes...
    assert S.session_memo(spark, "__memo_evict_test__",
                          lambda: live_calls.append(2)) == "value"
    assert live_calls == [1]
    # ...until explicitly cleared.
    assert S.session_memo_clear(spark) >= 1
    assert S.session_memo(spark, "__memo_evict_test__",
                          lambda: "rebuilt") == "rebuilt"
    S.session_memo_clear(spark)


def test_pq_train_clamps_k_to_corpus_size(spark):
    """pq_train with fewer vectors than k must clamp, not build short
    codebooks that _argmin_code probes past the end of (ANSI mode
    fails the job on out-of-range element_at; round-5 ADVICE)."""
    from etl_dados_ibge_sp_spark.operators.similarity import (
        pq_adc_topk, pq_encode, pq_train)

    rows = [(1, [1.0, 2.0, 3.0, 4.0]),
            (2, [4.0, 3.0, 2.0, 1.0]),
            (3, [0.5, 0.5, 0.5, 0.5])]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cbs = pq_train(emb, m=2, k=16, n_iter=1)
    assert len(cbs) == 2 and all(len(cb) == 3 for cb in cbs)
    codes = pq_encode(emb, cbs)
    top = pq_adc_topk(codes, [1.0, 2.0, 3.0, 4.0], cbs, k=1).collect()
    assert top[0]["vec_id"] == 1


def test_quantize_int8_null_elements_match_sum_skips_null(spark, tmp_path):
    """A NULL embedding element must contribute nothing (SUM-skips-NULL
    semantics, matching the DuckDB oracle's unnest+SUM), not absorb the
    whole fold to NULL (round-5 ADVICE)."""
    from etl_dados_ibge_sp_spark.queries.embeddings import (
        _q_embed_quantize_int8)

    rows = [(1, [2.0, None, -4.0], "a"),
            (2, [None, None, None], "b"),   # all-NULL: dropped (ma NULL)
            (3, [1.0, 1.0, 1.0], "c")]
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label string") \
        .write.parquet(str(tmp_path / "embeddings.parquet"))
    got = {r["vec_id"]: r.asDict()
           for r in _q_embed_quantize_int8(spark, str(tmp_path)).collect()}
    # vec 1: ma=4 -> q = [floor(2/4*127), floor(-4/4*127)] = [63, -127]
    assert got[1]["q_sum"] == 63 - 127
    assert got[1]["q_sqsum"] == 63 * 63 + 127 * 127
    assert got[1]["q_min"] == -127 and got[1]["q_max"] == 63
    assert 2 not in got
    assert got[3]["q_sum"] == 3 * 127


def test_fwf_rejects_uri_schemes(spark):
    """format('fwf') walks local paths with os.listdir/open on every
    node; an hdfs:// or s3:// URI must fail fast with a clear message,
    not per-task FileNotFoundErrors (round-5 ADVICE)."""
    from etl_dados_ibge_sp_spark.sources.fwf_source import FwfReader

    with pytest.raises(ValueError, match="local/shared-filesystem"):
        FwfReader({"path": "s3://bucket/data", "colspec": "a:0:3:string"})


# --------------------------------------------------------------------------
# Driver-verification rotation (registry._order)
# --------------------------------------------------------------------------


def test_rotation_invariants_random_histories():
    """Rotation robustness on ARBITRARY histories: for random registry
    sizes (up to the 3x-budget cap) and random past green rounds, the
    steady-state rotation must (a) re-verify every query within
    ceil(N/50)+1 rounds, (b) never leave a never-verified query
    unchecked once any budget reaches it, and (c) order critically
    stale rows first."""
    rng = random.Random(7)
    for _trial in range(25):
        n = rng.randint(10, 150)
        cur = rng.randint(5, 12)
        names = [f"q{i}" for i in range(n)]
        last_green = {f"q{i}": rng.randint(1, cur - 1)
                      for i in range(n) if rng.random() < 0.9}
        period = -(-n // BUDGET) + 1  # ceil + 1 slack round
        last_checked: dict[str, int] = {}
        for r in range(cur, cur + 3 * period + 3):
            ordered = _order(names, last_green, r)
            # (c) every class-0 row precedes every class-2/3 row
            keys = []
            for q in ordered:
                g = last_green.get(q)
                keys.append(0 if (g is not None
                                  and g <= r - STALE_BOUND)
                            else (1 if g is None else 2))
            assert keys == sorted(keys)
            for q in ordered[:BUDGET]:
                last_green[q] = r
                last_checked[q] = r
        # (a)+(b): after burn-in, everything was checked recently
        horizon = cur + 3 * period + 2
        for q in names:
            assert q in last_checked, f"{q} never checked"
            assert horizon - last_checked[q] < period, \
                f"{q} stale for {horizon - last_checked[q]} rounds " \
                f"(N={n}, period={period})"


def test_rotation_order_and_drain_simulation():
    """Rotation order on a round-4 state: 96 queries verified in
    r02/r03 (48 each), two that gained an oracle (never verified) and
    eight new registrations.  The ten never-verified queries take the
    front of round 4's budget, the rest of it goes to the
    least-recently-verified (r02) cohort, and no verified query goes
    more than 3 rounds without re-verification (N = 106 <= 3x50)."""
    names = [f"s{i}" for i in range(96)] + ["oracled_a", "oracled_b"]
    last_green = {f"s{i}": (2 if i < 48 else 3) for i in range(96)}
    new = [f"p{i}" for i in range(8)]
    first_green, max_gap = simulate(names, last_green, {4: new},
                                    start=4, rounds=8)  # rounds 4..11

    never = {"oracled_a", "oracled_b", *new}
    round4 = {n for n, r in first_green.items() if r == 4}
    assert len(round4) == BUDGET and never <= round4
    assert round4 - never <= {f"s{i}" for i in range(48)}
    assert max_gap <= 3, f"a verified query went {max_gap} rounds stale"


def test_round6_extension_admits_and_holds_4_round_bound():
    """Forward-simulate the round-6 state — cohorts green in
    r03/r04/r05, two never-verified leftovers, one query registered in
    round 6 (N = 151 <= 4x50): the new query gets a driver row within
    2 rounds, the leftovers clear in r6, and no verified query ever
    goes more than 4 rounds without re-verification, one round inside
    the 5-round bound."""
    names = ([f"a{i}" for i in range(50)] + [f"b{i}" for i in range(48)]
             + [f"c{i}" for i in range(50)] + ["left0", "left1"])
    last_green = ({f"a{i}": 3 for i in range(50)}
                  | {f"b{i}": 4 for i in range(48)}
                  | {f"c{i}": 5 for i in range(50)})
    first_green, max_gap = simulate(
        names, last_green, {6: ["dedup_incremental_load"]},
        start=6, rounds=8)  # rounds 6..13

    assert first_green["dedup_incremental_load"] <= 8
    assert first_green["left0"] == 6 and first_green["left1"] == 6
    assert max_gap <= 4, f"bound broken: a query went {max_gap} rounds"


def test_round7_extension_admits_and_holds_5_round_bound():
    """Forward-simulate the round-7 state under the 5-round bound —
    cohorts green in r03(47)/r04(50)/r05(50)/r06(50), two queries
    never verified, two new registrations in round 7 (semantic_dedup,
    boilerplate_lines): the new queries get driver rows within 2
    rounds, the never-verified pair clears in r7, and no verified
    query ever goes more than 5 rounds without re-verification — the
    51st row (one r03 straggler) slips exactly to the bound, never
    past it."""
    assert STALE_BOUND == 5

    names = ([f"a{i}" for i in range(47)] + [f"b{i}" for i in range(50)]
             + [f"c{i}" for i in range(50)] + [f"d{i}" for i in range(50)]
             + ["gated0", "gated1"])
    last_green = ({f"a{i}": 3 for i in range(47)}
                  | {f"b{i}": 4 for i in range(50)}
                  | {f"c{i}": 5 for i in range(50)}
                  | {f"d{i}": 6 for i in range(50)})
    first_green, max_gap = simulate(
        names, last_green, {7: ["semantic_dedup", "boilerplate_lines"]},
        start=7, rounds=10)  # two full rotation periods

    assert first_green["semantic_dedup"] <= 9
    assert first_green["boilerplate_lines"] <= 9
    assert first_green["gated0"] == 7 and first_green["gated1"] == 7
    assert max_gap <= 5, f"bound broken: a query went {max_gap} rounds"


def test_real_history_never_breaches_staleness_bound():
    """Standing invariant on the REAL verification history (not a
    simulation): given the CORRECTNESS_r*.json files actually in the
    repo, (a) every query at the staleness-bound edge fits inside this
    round's 50-row budget — i.e. the class-0 population can never
    outgrow the budget without this test failing first — and (b) if
    the driver runs the first 50 rows of today's order, no registered
    query's staleness exceeds the documented bound afterwards.  The
    random-history and cohort simulations above prove the mechanism;
    this one proves the mechanism applies to the repo's actual state,
    so a change that silently skews the history (e.g. registering many
    queries at once) trips here before the driver would breach the
    bound."""
    names = list(all_queries())
    last_green, cur = _green_history()
    bound = STALE_BOUND
    assert len(names) <= bound * BUDGET, \
        "registry outgrew the rotation capacity N <= bound*budget"

    order = _order(names, last_green, cur)
    budget = set(order[:BUDGET])
    at_edge = [n for n in names
               if last_green.get(n) is not None
               and last_green[n] <= cur - bound]
    # (a) the about-to-breach set fits in (and therefore heads) the
    # budget — _order puts class 0 strictly first.
    assert len(at_edge) <= BUDGET
    assert all(n in budget for n in at_edge), \
        f"bound-edge rows outside this round's budget: " \
        f"{sorted(set(at_edge) - budget)[:5]}"
    # (b) after this round's budget greens, nothing verified breaches.
    for n in names:
        g = last_green.get(n)
        if g is None or n in budget:
            continue
        assert (cur + 1) - g <= bound, \
            f"{n} (last green r{g}) would exceed the {bound}-round " \
            f"bound after round {cur}"


def test_ties_break_by_name_not_registration_order():
    """Reordering the registry never changes which rows the driver
    verifies: within a class and round, names sort alphabetically."""
    names = [f"q{i:03d}" for i in range(120)]
    last_green = {n: 8 + i % 5 for i, n in enumerate(names) if i % 7}
    want = _order(names, last_green, 13)
    assert _order(list(reversed(names)), last_green, 13) == want
    random.Random(3).shuffle(names)
    assert _order(names, last_green, 13) == want

"""Property laws for the sixth pending tranche, independent of the
DuckDB oracles (those prove engine parity; these prove the algorithms
mean what their names claim): containment must equal the brute-force
set ratio; both Gini measures must match their textbook definitions
computed in pure Python; the CUSUM argmax must agree with an exact
scan; journey paths must reproduce a dict-built reference; the KS
distance must equal the direct two-CDF max; the ABC classes must be
prefix segments of the revenue ordering; the streaming top-k must
equal its batch restatement."""

from __future__ import annotations

import re
from collections import Counter, defaultdict

from pyspark.sql import functions as F

from etl_dados_ibge_sp_spark.queries.analytics import (
    _KS_SRC_A, _KS_SRC_B, _q_abc_classification, _q_fk_integrity_audit,
    _q_hhi_supplier_concentration, _q_ks_two_sample_sources,
    _q_revenue_gini_nation)
from etl_dados_ibge_sp_spark.queries.dedup import (
    _CONTAIN_MAXDF, _CONTAIN_TAU, _q_dedup_containment)
from etl_dados_ibge_sp_spark.queries.events import (
    _PATH_STEPS, _q_conversion_within_7d, _q_cusum_changepoint,
    _q_event_path_topk, _q_event_type_gini, _q_session_gap_stats)
from etl_dados_ibge_sp_spark.sources.parquet_source import load_table


def _docs_shingles(spark, sf_dir):
    """Brute-force pruned trigram shingle sets, dict-built."""
    rows = load_table(spark, sf_dir, "documents") \
        .select("doc_id", "text").collect()
    sets = {}
    for r in rows:
        toks = re.split(r"\s+", r.text.strip())
        sets[r.doc_id] = {" ".join(toks[i:i + 3])
                          for i in range(len(toks) - 2)}
    df = Counter(s for v in sets.values() for s in v)
    keep = {s for s, c in df.items() if c <= _CONTAIN_MAXDF}
    return {d: v & keep for d, v in sets.items()}


def test_containment_matches_brute_force(spark, sf_dir):
    """Every reported pair must have containment == |A∩B|/|A| on the
    pruned shingle sets, and the query must find EVERY pair over the
    threshold (the df-cap prunes shingles, never candidate pairs)."""
    sets = _docs_shingles(spark, sf_dir)
    got = {(r.id_a, r.id_b): (r.n_shared, r.containment)
           for r in _q_dedup_containment(spark, sf_dir).collect()}
    expected = {}
    for a, sa in sets.items():
        if not sa:
            continue
        for b, sb in sets.items():
            if a == b:
                continue
            i = len(sa & sb)
            c = round(i / len(sa), 6)
            if c >= _CONTAIN_TAU:
                expected[(a, b)] = (i, c)
    assert set(got) == set(expected), \
        (set(got) ^ set(expected))
    for k, v in expected.items():
        assert got[k][0] == v[0]
        assert abs(got[k][1] - v[1]) < 1e-9


def test_containment_catches_what_jaccard_dilutes(spark, sf_dir):
    """The reason the operator exists: a strict subset document scores
    containment 1.0 regardless of how much larger the superset is —
    while its Jaccard score shrinks with the size gap."""
    sets = _docs_shingles(spark, sf_dir)
    for a, sa in sets.items():
        for b, sb in sets.items():
            if a == b or not sa or not sb:
                continue
            i = len(sa & sb)
            cont = i / len(sa)
            jac = i / len(sa | sb)
            assert cont >= jac - 1e-12, "containment >= jaccard always"


def test_gini_impurity_definition_and_bounds(spark, sf_dir):
    rows = _q_event_type_gini(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events") \
        .select("user_id", "event_type").collect()
    counts = defaultdict(Counter)
    for r in ev:
        counts[r.user_id][r.event_type] += 1
    assert {r.user_id for r in rows} == set(counts)
    for r in rows:
        c = counts[r.user_id]
        n = sum(c.values())
        g = 1.0 - sum(v * v for v in c.values()) / (n * n)
        assert abs(r.gini_impurity - round(g, 6)) < 1e-9
        k = len(c)
        assert -1e-9 <= r.gini_impurity <= 1 - 1 / k + 1e-9


def test_revenue_gini_matches_mean_absolute_difference(spark, sf_dir):
    """Rank formula == ½·MAD/mean (the definition of the Gini
    coefficient), checked in exact integer cents per nation."""
    got = {r.n_name: (r.n_customers, r.gini)
           for r in _q_revenue_gini_nation(spark, sf_dir).collect()}
    o = load_table(spark, sf_dir, "orders") \
        .select("o_custkey", "o_totalprice").collect()
    c = load_table(spark, sf_dir, "customer") \
        .select("c_custkey", "c_nationkey").collect()
    n = {r.n_nationkey: r.n_name
         for r in load_table(spark, sf_dir, "nation").collect()}
    nation_of = {r.c_custkey: r.c_nationkey for r in c}
    cents = defaultdict(int)
    for r in o:
        cents[r.o_custkey] += round(r.o_totalprice * 100)
    per_nation = defaultdict(list)
    for cust, v in cents.items():
        per_nation[nation_of[cust]].append(v)
    for nk, xs in per_nation.items():
        m = len(xs)
        s = sum(xs)
        mad = sum(abs(a - b) for a in xs for b in xs)  # n² pairs
        gini = mad / (2 * m * s)  # == rank formula
        name = n[nk]
        assert got[name][0] == m
        assert abs(got[name][1] - round(gini, 6)) < 2e-6, name


def test_cusum_matches_exact_scan(spark, sf_dir):
    got = {r.event_type: (r.cp_day, r.max_dev_scaled, r.n_days)
           for r in _q_cusum_changepoint(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events") \
        .select("event_type", (F.expr("unix_micros(ts) div 86400000000"))
                .alias("day")).collect()
    daily = defaultdict(Counter)
    for r in ev:
        daily[r.event_type][r.day] += 1
    for t, cnts in daily.items():
        days = sorted(cnts)
        n, tot = len(days), sum(cnts.values())
        best = None
        cum = 0
        for k, d in enumerate(days, start=1):
            cum += cnts[d]
            dev = abs(n * cum - k * tot)
            if best is None or dev > best[1]:
                best = (d, dev)
        assert got[t] == (best[0], best[1], n), t


def test_event_path_topk_matches_dict_build(spark, sf_dir):
    rows = _q_event_path_topk(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events") \
        .select("user_id", "event_type", "ts", "event_id").collect()
    per_user = defaultdict(list)
    for r in ev:
        per_user[r.user_id].append((r.ts, r.event_id, r.event_type))
    paths = Counter(
        ">".join(t for _, _, t in sorted(v)[:_PATH_STEPS])
        for v in per_user.values())
    expected = sorted(paths.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert [(r.path, r.n_users) for r in rows] == expected


def test_fk_audit_counts_and_clean_schema(spark, sf_dir):
    rows = {r.relation: (r.n_rows, r.n_orphans)
            for r in _q_fk_integrity_audit(spark, sf_dir).collect()}
    assert len(rows) == 7
    li = load_table(spark, sf_dir, "lineitem").count()
    assert rows["lineitem.l_orderkey->orders"][0] == li
    assert rows["lineitem.l_partkey->part"][0] == li
    # The generated star schema is referentially clean — every edge
    # must report zero orphans (and the audit proves it, instead of
    # the DDL implying it).
    for rel, (_, orph) in rows.items():
        assert orph == 0, rel


def test_conversion_is_subset_and_bounded(spark, sf_dir):
    rows = _q_conversion_within_7d(spark, sf_dir).collect()
    total_viewers = (load_table(spark, sf_dir, "events")
                     .filter(F.col("event_type") == "view")
                     .select("user_id").distinct().count())
    assert sum(r.n_users for r in rows) == total_viewers
    for r in rows:
        assert 0 <= r.n_converted <= r.n_users
        assert abs(r.conversion - round(r.n_converted / r.n_users, 6)) \
            < 1e-9


def test_hhi_bounds(spark, sf_dir):
    for r in _q_hhi_supplier_concentration(spark, sf_dir).collect():
        assert 1 / r.n_suppliers - 1e-9 <= r.hhi <= 1 + 1e-9, \
            (r.supp_nation, r.l_year)


def test_gap_quantiles_are_order_statistics(spark, sf_dir):
    got = {r.event_type: r
           for r in _q_session_gap_stats(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events") \
        .select("event_type", "user_id", "event_id",
                F.unix_micros("ts").alias("us")).collect()
    per = defaultdict(list)
    for r in ev:
        per[(r.user_id, r.event_type)].append((r.us, r.event_id))
    gaps = defaultdict(list)
    for (u, t), v in per.items():
        v.sort()
        for a, b in zip(v, v[1:]):
            gaps[t].append(b[0] - a[0])
    for t, xs in gaps.items():
        xs.sort()
        n = len(xs)
        r = got[t]
        assert r.n_gaps == n
        assert r.min_gap_us == xs[0]
        assert r.max_gap_us == xs[-1]
        assert r.median_gap_us == xs[(n + 1) // 2 - 1]
        assert r.p90_gap_us == xs[(9 * n + 9) // 10 - 1]


def test_abc_prefix_property(spark, sf_dir):
    """The classes must be prefix segments of the revenue-descending
    part ordering: recomputing from per-part revenue, the A segment
    is the longest prefix with cum·5 ≤ tot·4, etc. — and the query's
    per-class counts/sums must equal the segment sums."""
    rows = {r.abc_class: r
            for r in _q_abc_classification(spark, sf_dir).collect()}
    li = load_table(spark, sf_dir, "lineitem") \
        .select("l_partkey", "l_extendedprice", "l_discount").collect()
    from decimal import ROUND_HALF_UP, Decimal
    rev = defaultdict(int)
    for r in li:
        # str() = shortest repr = Java's Double.toString, the digits
        # Spark's HALF_UP decimal cast rounds from.
        m = int(Decimal(str(r.l_extendedprice
                            * (1 - r.l_discount))).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP) * 1_000_000)
        rev[r.l_partkey] += m
    parts = sorted(rev.items(), key=lambda kv: (-kv[1], kv[0]))
    tot = sum(v for _, v in parts)
    seg = {"A": [0, 0], "B": [0, 0], "C": [0, 0]}
    cum = 0
    for _, m in parts:
        cum += m
        cls = "A" if cum * 5 <= tot * 4 else \
            ("B" if cum * 20 <= tot * 19 else "C")
        seg[cls][0] += 1
        seg[cls][1] += m
    for cls, (np_, m_) in seg.items():
        if np_ == 0:
            assert cls not in rows
            continue
        assert rows[cls].n_parts == np_, cls
        assert rows[cls].revenue_micros == m_, cls
    assert sum(v[0] for v in seg.values()) == len(parts)


def test_ks_matches_direct_cdf_max(spark, sf_dir):
    row = _q_ks_two_sample_sources(spark, sf_dir).collect()[0]
    docs = load_table(spark, sf_dir, "documents") \
        .select("source", "n_chars").collect()
    a = sorted(r.n_chars for r in docs if r.source == _KS_SRC_A)
    b = sorted(r.n_chars for r in docs if r.source == _KS_SRC_B)
    n1, n2 = len(a), len(b)
    support = sorted(set(a) | set(b))
    import bisect
    d = max(abs(bisect.bisect_right(a, x) * n2
                - bisect.bisect_right(b, x) * n1)
            for x in support)
    assert (row.n1, row.n2, row.d_scaled) == (n1, n2, d)
    assert abs(row.ks_distance - round(d / (n1 * n2), 6)) < 1e-9


def test_stream_topk_equals_batch(spark, sf_dir):
    """The streaming leaderboard must equal the batch restatement of
    the same window + rank over the same files (exactly-once of the
    availableNow run, determinism of the tie-break)."""
    from etl_dados_ibge_sp_spark.streaming.windowed import (
        stream_windowed_topk)
    got = {(r.window_start, r.rnk): (r.event_type, r.n_events)
           for r in stream_windowed_topk(spark, sf_dir).collect()}
    e = load_table(spark, sf_dir, "events")
    batch = (e.groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
             .agg(F.count(F.lit(1)).alias("n_events"))
             .select(F.col("w.start").alias("ws"), "event_type",
                     "n_events").collect())
    per_w = defaultdict(list)
    for r in batch:
        per_w[r.ws].append((-r.n_events, r.event_type))
    expected = {}
    for ws, v in per_w.items():
        for i, (neg, t) in enumerate(sorted(v)[:3], start=1):
            expected[(ws, i)] = (t, -neg)
    assert got == expected

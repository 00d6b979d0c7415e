"""Hypothesis laws for the sixth tranche: randomized inputs sweep the
tie and boundary cases the fixed fixtures cannot — equal CUSUM
deviations (earliest-day tie-break), duplicate gaps across users
(rank-selection determinism), revenue ties at the exact ABC threshold
(integer-compare inclusivity), and arbitrary token overlaps for
containment.  Each law compares the full query against a pure-Python
brute force on the same synthetic tables."""

from __future__ import annotations

import bisect
import datetime
from collections import Counter, defaultdict

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from etl_dados_ibge_sp_spark.queries.analytics import (
    _q_abc_classification, _q_ks_two_sample_sources)
from etl_dados_ibge_sp_spark.queries.dedup import _q_dedup_containment
from etl_dados_ibge_sp_spark.queries.events import (
    _q_cusum_changepoint, _q_session_gap_stats)

T0 = datetime.datetime(2024, 1, 1)
_SET = dict(max_examples=6, deadline=None,
            suppress_health_check=[HealthCheck.function_scoped_fixture])


def _events(spark, tmp_path, rows):
    spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double, props string") \
        .write.mode("overwrite") \
        .parquet(str(tmp_path / "events.parquet"))
    return str(tmp_path)


# (type_idx, day, count) cells; duplicates collapse via the counter.
CELLS = st.lists(
    st.tuples(st.integers(0, 1), st.integers(0, 9), st.integers(1, 5)),
    min_size=1, max_size=12)


@given(CELLS)
@settings(**_SET)
def test_cusum_random_series_and_tie_break(spark, tmp_path, cells):
    daily = defaultdict(Counter)
    for t, d, c in cells:
        daily[f"t{t}"][d] += c
    rows = []
    eid = 0
    for t, cnts in daily.items():
        for d, c in cnts.items():
            for i in range(c):
                eid += 1
                rows.append((eid, T0 + datetime.timedelta(days=d,
                                                          minutes=i),
                             1, t, 0.0, "{}"))
    sf = _events(spark, tmp_path, rows)
    got = {r.event_type: (r.cp_day, r.max_dev_scaled, r.n_days,
                          r.total_events)
           for r in _q_cusum_changepoint(spark, sf).collect()}
    epoch0 = (T0 - datetime.datetime(1970, 1, 1)).days
    for t, cnts in daily.items():
        days = sorted(cnts)
        n, tot = len(days), sum(cnts.values())
        best = None
        cum = 0
        for k, d in enumerate(days, start=1):
            cum += cnts[d]
            dev = abs(n * cum - k * tot)
            if best is None or dev > best[1]:  # strict >: earliest wins
                best = (d, dev)
        assert got[t] == (epoch0 + best[0], best[1], n, tot), t


# (user, type_idx, minute) events; unique so gaps are well defined
# per (user, type) yet freely collide ACROSS them.
EVTS = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 1),
              st.integers(0, 30)),
    min_size=2, max_size=16, unique=True)


@given(EVTS)
@settings(**_SET)
def test_gap_quantiles_random(spark, tmp_path, evts):
    rows = [(i, T0 + datetime.timedelta(minutes=m), u, f"t{t}",
             0.0, "{}")
            for i, (u, t, m) in enumerate(evts)]
    sf = _events(spark, tmp_path, rows)
    got = {r.event_type: r
           for r in _q_session_gap_stats(spark, sf).collect()}
    per = defaultdict(list)
    for u, t, m in evts:
        per[(u, f"t{t}")].append(m * 60_000_000)
    gaps = defaultdict(list)
    for (u, t), v in per.items():
        v.sort()
        gaps[t].extend(b - a for a, b in zip(v, v[1:]))
    assert set(got) == {t for t, xs in gaps.items() if xs}
    for t, xs in gaps.items():
        if not xs:
            continue
        xs.sort()
        n = len(xs)
        r = got[t]
        assert (r.n_gaps, r.min_gap_us, r.max_gap_us) == \
            (n, xs[0], xs[-1])
        assert r.median_gap_us == xs[(n + 1) // 2 - 1]
        assert r.p90_gap_us == xs[(9 * n + 9) // 10 - 1]


# Per-part 2-dp prices (discount 0 -> micros are exactly price*1e6);
# small integer space makes exact cum*5 == tot*4 threshold hits
# reachable.
PARTS = st.lists(st.integers(1, 8), min_size=1, max_size=10)


@given(PARTS)
@settings(**_SET)
def test_abc_random_with_threshold_ties(spark, tmp_path, prices):
    rows = [(i, i, 1, 1, 1.0, float(p), 0.0, 0.0, "N", "O", T0)
            for i, p in enumerate(prices)]
    spark.createDataFrame(
        rows, "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
              "l_linenumber int, l_quantity double, "
              "l_extendedprice double, l_discount double, "
              "l_tax double, l_returnflag string, "
              "l_linestatus string, l_shipdate timestamp") \
        .write.mode("overwrite") \
        .parquet(str(tmp_path / "lineitem.parquet"))
    got = {r.abc_class: (r.n_parts, r.revenue_micros)
          for r in _q_abc_classification(spark, str(tmp_path))
          .collect()}
    micros = sorted(((p * 1_000_000, i) for i, p in enumerate(prices)),
                    key=lambda x: (-x[0], x[1]))
    tot = sum(m for m, _ in micros)
    seg = defaultdict(lambda: [0, 0])
    cum = 0
    for m, _ in micros:
        cum += m
        cls = "A" if cum * 5 <= tot * 4 else \
            ("B" if cum * 20 <= tot * 19 else "C")
        seg[cls][0] += 1
        seg[cls][1] += m
    assert got == {c: tuple(v) for c, v in seg.items()}


# Two samples over a tiny value domain -> heavy ties, shared and
# disjoint support mixes.
SAMPLES = st.tuples(
    st.lists(st.integers(0, 4), min_size=1, max_size=12),
    st.lists(st.integers(0, 4), min_size=1, max_size=12))


@given(SAMPLES)
@settings(**_SET)
def test_ks_random(spark, tmp_path, samples):
    a, b = samples
    rows = [(i, "x", "en", "src0", v) for i, v in enumerate(a)] \
        + [(100 + i, "x", "en", "src1", v) for i, v in enumerate(b)]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, "
              "source string, n_chars bigint") \
        .write.mode("overwrite") \
        .parquet(str(tmp_path / "documents.parquet"))
    r = _q_ks_two_sample_sources(spark, str(tmp_path)).collect()[0]
    a.sort()
    b.sort()
    n1, n2 = len(a), len(b)
    d = max(abs(bisect.bisect_right(a, x) * n2
                - bisect.bisect_right(b, x) * n1)
            for x in sorted(set(a) | set(b)))
    assert (r.n1, r.n2, r.d_scaled) == (n1, n2, d)


# Docs as token-index lists over a 6-token alphabet: arbitrary overlap
# structure, repeated tokens, and sub-3-token degenerates.
DOCS = st.lists(
    st.lists(st.integers(0, 5), min_size=1, max_size=10),
    min_size=2, max_size=6)


@given(DOCS)
@settings(**_SET)
def test_containment_random(spark, tmp_path, docs):
    rows = [(i, " ".join(f"w{t}" for t in toks), "en", "s", len(toks))
            for i, toks in enumerate(docs)]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, "
              "source string, n_chars bigint") \
        .write.mode("overwrite") \
        .parquet(str(tmp_path / "documents.parquet"))
    got = {(r.id_a, r.id_b): (r.n_shared, r.containment)
           for r in _q_dedup_containment(spark, str(tmp_path))
           .collect()}
    sets = {}
    for i, toks in enumerate(docs):
        sets[i] = {" ".join(f"w{t}" for t in toks[j:j + 3])
                   for j in range(len(toks) - 2)}
    expected = {}
    for x, sx in sets.items():
        if not sx:
            continue
        for y, sy in sets.items():
            if x == y:
                continue
            i = len(sx & sy)
            c = round(i / len(sx), 6)
            if c >= 0.5:
                expected[(x, y)] = (i, c)
    assert set(got) == set(expected)
    for k, (i, c) in expected.items():
        assert got[k][0] == i
        assert abs(got[k][1] - c) < 1e-9

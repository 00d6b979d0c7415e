"""Property laws for the fifth pending tranche, independent of the
DuckDB oracles (which prove engine parity, not algorithmic intent):
apportionment must satisfy the exact-sum and quota properties that
define the Hamilton method; the sweep-line must agree with a brute
force over interval overlaps; the weighted median must equal the
plain median of the weight-replicated multiset; interpolated values
must stay inside their segment's value envelope."""

from __future__ import annotations

from collections import defaultdict

from etl_dados_ibge_sp_spark.queries.analytics import (
    _SEATS, _q_basket_pair_support, _q_benford_digit_audit,
    _q_revenue_apportionment, _q_weighted_median_value)
from etl_dados_ibge_sp_spark.queries.events import (
    _q_event_chisq_cells, _q_events_interpolate_linear,
    _q_max_concurrent_sessions, _q_rolling_corr_counts_7d)
from etl_dados_ibge_sp_spark.sources.parquet_source import load_table

from pyspark.sql import functions as F


def test_apportionment_exact_sum_and_quota(spark, sf_dir):
    """The two properties that DEFINE largest-remainder apportionment:
    (1) allocated slots sum to exactly the house size — the property
    float-quota rounding violates; (2) every nation receives floor or
    ceil of its exact quota (Hamilton satisfies quota)."""
    rows = _q_revenue_apportionment(spark, sf_dir).collect()
    total_slots = sum(r.slots for r in rows)
    assert total_slots == _SEATS, f"sum {total_slots} != {_SEATS}"
    total_cents = sum(r.rev_cents for r in rows)
    for r in rows:
        base = (_SEATS * r.rev_cents) // total_cents
        assert r.slots in (base, base + 1), \
            f"{r.nation}: {r.slots} outside quota [{base}, {base + 1}]"


def test_sweepline_matches_bruteforce(spark, sf_dir):
    """Max concurrency per day must equal the brute force: for each
    day, evaluate the overlap count at every interval start (the max
    of a step function is attained at a +1 step)."""
    e = load_table(spark, sf_dir, "events")
    iv = (e.select("user_id", F.unix_micros("ts").alias("us"))
          .withColumn("day", F.expr("us div 86400000000"))
          .groupBy("user_id", "day")
          .agg(F.min("us").alias("s"), F.max("us").alias("e"))
          .collect())
    by_day = defaultdict(list)
    for r in iv:
        by_day[r.day].append((r.s, r.e))
    expect = {
        day: max(sum(1 for (s2, e2) in spans if s2 <= s <= e2)
                 for (s, _) in spans)
        for day, spans in by_day.items()
    }
    got = {r.day: r.max_concurrent
           for r in _q_max_concurrent_sessions(spark, sf_dir).collect()}
    assert got == expect


def test_weighted_median_equals_replicated_median(spark, sf_dir):
    """The weighted median (smallest v with 2·cumweight ≥ total) must
    equal the lower median of the multiset where each value appears
    weight times — the definition the window formulation rewrites."""
    li = load_table(spark, sf_dir, "lineitem")
    rows = (li.select("l_returnflag",
                      (F.col("l_extendedprice").cast("decimal(32,6)")
                       * 100).cast("bigint").alias("cents"),
                      F.col("l_quantity").cast("bigint").alias("w"))
            .collect())
    groups = defaultdict(list)
    for r in rows:
        groups[r.l_returnflag].append((r.cents, r.w))
    expect = {}
    for flag, vw in groups.items():
        vw.sort()
        total = sum(w for _, w in vw)
        cum = 0
        for v, w in vw:
            cum += w
            if 2 * cum >= total:
                expect[flag] = (v, total)
                break
    got = {r.l_returnflag: (r.weighted_median_cents, r.total_weight)
           for r in _q_weighted_median_value(spark, sf_dir).collect()}
    assert got == expect


def test_interpolation_stays_in_segment_envelope(spark, sf_dir):
    """Linear interpolation can never leave [min(v₀,v₁), max(v₀,v₁)]
    on its segment, and the mixing fraction is in [0, 1) by the
    half-open segment semantics; verified against the segment
    endpoints recomputed independently."""
    out = _q_events_interpolate_linear(spark, sf_dir)
    assert out.count() > 0
    e = load_table(spark, sf_dir, "events")
    evu = (e.select("user_id", F.unix_micros("ts").alias("us"),
                    "value", "event_id")
           .groupBy("user_id", "us")
           .agg(F.max_by("value", "event_id").alias("v"))
           .collect())
    points = defaultdict(dict)
    for r in evu:
        points[r.user_id][r.us] = r.v
    for r in out.collect():
        series = sorted(points[r.user_id])
        assert r.prev_us in points[r.user_id]
        assert r.next_us in points[r.user_id]
        # prev/next are CONSECUTIVE samples bracketing the grid point
        i = series.index(r.prev_us)
        assert series[i + 1] == r.next_us
        assert r.prev_us <= r.grid_us < r.next_us
        v0 = points[r.user_id][r.prev_us]
        v1 = points[r.user_id][r.next_us]
        lo, hi = min(v0, v1), max(v0, v1)
        assert lo - 1e-6 <= r.value_interp <= hi + 1e-6, \
            (r.user_id, r.grid_us, v0, v1, r.value_interp)


def test_chisq_marginal_consistency(spark, sf_dir):
    """Expected counts must reproduce the observed marginals: summing
    e = r·c/g over a row gives r, over a column gives c (up to the
    6-dp output rounding) — the defining property of the
    independence model."""
    rows = _q_event_chisq_cells(spark, sf_dir).collect()
    by_type, by_dow = defaultdict(float), defaultdict(float)
    obs_type = defaultdict(int)
    obs_dow = defaultdict(int)
    for r in rows:
        by_type[r.event_type] += r.expected
        by_dow[r.dow] += r.expected
        obs_type[r.event_type] += r.observed
        obs_dow[r.dow] += r.observed
    for t in by_type:
        assert abs(by_type[t] - obs_type[t]) < 1e-4 * max(obs_type[t], 1)
    for d in by_dow:
        assert abs(by_dow[d] - obs_dow[d]) < 1e-4 * max(obs_dow[d], 1)


def test_benford_shares_sum_to_one(spark, sf_dir):
    rows = _q_benford_digit_audit(spark, sf_dir).collect()
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-5
    assert abs(sum(r.benford_p for r in rows) - 1.0) < 1e-4
    assert {r.digit for r in rows} <= set(range(1, 10))


def test_rolling_corr_matches_bruteforce(spark, sf_dir):
    """The windowed moment formulation must equal textbook Pearson r
    computed per trailing 7-day frame in Python (statistics module,
    independent float path), and must be NULL exactly when either
    series is constant within the frame."""
    from math import isclose, sqrt

    rows = _q_rolling_corr_counts_7d(spark, sf_dir).collect()
    daily = {r.day: (r.n_clicks, r.n_purchases) for r in rows}
    for r in rows:
        frame = [daily[d] for d in range(r.day - 6, r.day + 1)
                 if d in daily]
        assert len(frame) == r.n_days
        xs = [x for x, _ in frame]
        ys = [y for _, y in frame]
        n = len(frame)
        vx = n * sum(x * x for x in xs) - sum(xs) ** 2
        vy = n * sum(y * y for y in ys) - sum(ys) ** 2
        if vx <= 0 or vy <= 0:
            assert r.corr_7d is None
            continue
        expect = (n * sum(x * y for x, y in frame)
                  - sum(xs) * sum(ys)) / (sqrt(vx) * sqrt(vy))
        assert r.corr_7d is not None
        assert isclose(r.corr_7d, expect, abs_tol=5e-6), \
            (r.day, r.corr_7d, expect)
        assert -1.0 <= r.corr_7d <= 1.0


def test_basket_pairs_match_bruteforce(spark, sf_dir):
    """In-row pair generation must reproduce the naive per-order
    combination count (python brute force — independent of both the
    Spark rewrite and the DuckDB self-join oracle)."""
    from itertools import combinations

    li = load_table(spark, sf_dir, "lineitem")
    orders = defaultdict(set)
    for r in li.select("l_orderkey", "l_partkey").collect():
        orders[r.l_orderkey].add(r.l_partkey)
    support = defaultdict(int)
    for parts in orders.values():
        for a, b in combinations(sorted(parts), 2):
            support[(a, b)] += 1
    expect = {k: v for k, v in support.items() if v >= 3}
    got = {(r.part_a, r.part_b): r.support
           for r in _q_basket_pair_support(spark, sf_dir).collect()}
    assert got == expect

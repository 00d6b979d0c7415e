"""Laws for the eighth tranche (attribution / FD profiling /
seasonal-naive backtest / survival table / LTV triangle), independent
of the DuckDB oracles: each query must reproduce a pure-Python
brute-force computation of the same definition on the real tables,
and the survival table must additionally obey its structural
invariants (suffix-sum at-risk counts, conservation of customers).
A Hypothesis sweep pins the survival bucketing and censoring edges
(ties, same-day second orders, horizon-day firsts) on synthetic
orders."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from etl_dados_ibge_sp_spark.queries.analytics import (
    _FD_CANDIDATES, _q_fd_approx_audit, _q_ltv_cohort_triangle)
from etl_dados_ibge_sp_spark.queries.events import (
    _BUCKET_DAYS, _DAY_US, _q_attribution_touch_credit,
    _q_seasonal_naive_error, _q_survival_second_order)
from etl_dados_ibge_sp_spark.sources.parquet_source import load_table

from pyspark.sql import functions as F


def _tdiv(a: int, b: int) -> int:
    """Truncating integer division (toward zero), matching Spark's
    ``div`` and DuckDB's ``//`` — Python's ``//`` floors instead,
    which diverges on negative values (e.g. -15: engines give -2,
    Python -3).  The brute forces must pin ENGINE semantics."""
    q = abs(a) // b
    return q if a >= 0 else -q


def _events_rows(spark, sf_dir):
    return (load_table(spark, sf_dir, "events")
            .select("user_id", "event_id", "event_type",
                    F.expr("unix_micros(cast(ts as timestamp))")
                    .alias("us"))
            .collect())


def test_attribution_matches_brute_force(spark, sf_dir):
    by_user = defaultdict(list)
    for r in _events_rows(spark, sf_dir):
        by_user[r.user_id].append((r.us, r.event_id, r.event_type))
    first_c, last_c = Counter(), Counter()
    tot = 0
    for seq in by_user.values():
        hist = []
        for _, _, etype in sorted(seq):
            if etype == "purchase":
                if hist:
                    first_c[hist[0]] += 1
                    last_c[hist[-1]] += 1
                    tot += 1
            elif etype is not None:
                # NULL touches never earn credit: the query's CASE +
                # IGNORE NULLS skips them, so the brute force must too.
                hist.append(etype)
    got = {r.touch_type: r for r in
           _q_attribution_touch_credit(spark, sf_dir).collect()}
    assert set(got) == set(first_c) | set(last_c)
    for t, r in got.items():
        assert r.n_first == first_c.get(t, 0)
        assert r.n_last == last_c.get(t, 0)
        assert r.first_share == pytest.approx(
            round(first_c.get(t, 0) / tot, 6), abs=1e-9)
        assert r.last_share == pytest.approx(
            round(last_c.get(t, 0) / tot, 6), abs=1e-9)
    assert sum(r.n_first for r in got.values()) == tot
    assert sum(r.n_last for r in got.values()) == tot


def test_fd_g3_matches_brute_force(spark, sf_dir):
    got = {r.fd: r for r in _q_fd_approx_audit(spark, sf_dir).collect()}
    assert set(got) == {c[0] for c in _FD_CANDIDATES}
    for label, table, det, dep in _FD_CANDIDATES:
        cnt = Counter(
            (r[0], r[1]) for r in
            load_table(spark, sf_dir, table).select(det, dep).collect())
        per_det = defaultdict(list)
        for (d, _), c in cnt.items():
            per_det[d].append(c)
        n = sum(cnt.values())
        g3 = n - sum(max(cs) for cs in per_det.values())
        r = got[label]
        assert r.n_rows == n
        assert r.n_det == len(per_det)
        assert r.n_violating_det == sum(
            1 for cs in per_det.values() if len(cs) > 1)
        assert r.g3_remove == g3
        assert r.g3_ratio == pytest.approx(round(g3 / n, 6), abs=1e-9)
        # g3 bounds: 0 <= g3 <= n - |det| (keep one row per det).
        assert 0 <= g3 <= n - len(per_det)


def test_seasonal_naive_matches_brute_force(spark, sf_dir):
    daily = Counter()
    for r in _events_rows(spark, sf_dir):
        if r.event_type is None:
            continue  # the query's equality self-join drops NULL keys
        daily[(r.event_type, _tdiv(r.us, _DAY_US))] += 1
    exp = defaultdict(lambda: [0, 0, 0])  # n, abs, bias
    for (etype, day), c in daily.items():
        prev = daily.get((etype, day - 7))
        if prev is not None:
            exp[etype][0] += 1
            exp[etype][1] += abs(c - prev)
            exp[etype][2] += c - prev
    got = {r.event_type: r for r in
           _q_seasonal_naive_error(spark, sf_dir).collect()}
    assert set(got) == set(exp)
    for etype, (n, tae, bias) in exp.items():
        r = got[etype]
        assert (r.n_days, r.total_abs_err, r.bias) == (n, tae, bias)
        assert r.mae == pytest.approx(round(tae / n, 6), abs=1e-9)


def _brute_survival(cust_orders):
    """cust_orders: {cust: sorted [(us, key), ...]} -> bucket rows."""
    horizon = max(us for seq in cust_orders.values() for us, _ in seq)
    span = _DAY_US * _BUCKET_DAYS
    events, censored = Counter(), Counter()
    for seq in cust_orders.values():
        t1 = seq[0][0]
        if len(seq) >= 2:
            events[_tdiv(seq[1][0] - t1, span)] += 1
        else:
            censored[_tdiv(horizon - t1, span)] += 1
    buckets = sorted(set(events) | set(censored))
    out = {}
    for b in buckets:
        n_risk = sum(events[x] + censored[x]
                     for x in buckets if x >= b)
        out[b] = (events[b], censored[b], n_risk,
                  round(events[b] / n_risk, 6))
    return out


def _survival_frame_to_dict(rows):
    return {r.bucket: (r.d_k, r.c_k, r.n_risk, r.hazard) for r in rows}


def test_survival_matches_brute_force_and_invariants(spark, sf_dir):
    cust = defaultdict(list)
    for r in (load_table(spark, sf_dir, "orders")
              .select("o_custkey", "o_orderkey",
                      F.expr("unix_micros(cast(o_orderdate as timestamp))")
                      .alias("us")).collect()):
        cust[r.o_custkey].append((r.us, r.o_orderkey))
    for seq in cust.values():
        seq.sort()
    exp = _brute_survival(cust)
    rows = _q_survival_second_order(spark, sf_dir).collect()
    got = _survival_frame_to_dict(rows)
    assert {b: v[:3] for b, v in got.items()} == \
           {b: v[:3] for b, v in exp.items()}
    for b in exp:
        assert got[b][3] == pytest.approx(exp[b][3], abs=1e-9)
    # Invariants: at-risk counts decrease as buckets advance, the
    # first bucket holds every customer, exits conserve customers.
    ordered = sorted(got)
    risks = [got[b][2] for b in ordered]
    assert risks == sorted(risks, reverse=True)
    assert risks[0] == len(cust)
    assert sum(got[b][0] + got[b][1] for b in got) == len(cust)


def test_ltv_triangle_conserves_revenue_and_cohorts(spark, sf_dir):
    orders = (load_table(spark, sf_dir, "orders")
              .select("o_custkey", "o_totalprice",
                      F.year("o_orderdate").alias("yr")).collect())
    total_cents = sum(math.floor(r.o_totalprice * 100) for r in orders)
    first_yr = {}
    for r in orders:
        first_yr[r.o_custkey] = min(
            first_yr.get(r.o_custkey, r.yr), r.yr)
    rows = _q_ltv_cohort_triangle(spark, sf_dir).collect()
    assert sum(r.revenue_cents for r in rows) == total_cents
    assert sum(r.n_orders for r in rows) == len(orders)
    assert all(r.age >= 0 for r in rows)
    # Age-0 actives per cohort = cohort sizes (every customer is
    # active in their first year by construction).
    coh = Counter(first_yr.values())
    age0 = {r.cohort_year: r.n_active for r in rows if r.age == 0}
    assert age0 == dict(coh)


# Synthetic survival sweep: customers with 1-3 orders at controlled
# day offsets, exercising same-day second orders (bucket 0), exact
# bucket boundaries, and firsts on the horizon day (censored at 0).
ORDERS = st.lists(
    st.tuples(st.integers(0, 4),               # customer id
              st.lists(st.integers(0, 400),    # order day offsets
                       min_size=1, max_size=3)),
    min_size=1, max_size=5)


@given(ORDERS)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_survival_random_synthetic(spark, tmp_path, spec):
    rows = []
    key = 0
    for cust, days in spec:
        for d in days:
            rows.append((cust, key, float(d)))
            key += 1
    # Build timestamps as day offsets from the epoch.
    df = spark.createDataFrame(
        rows, "o_custkey bigint, o_orderkey bigint, day double")
    df = df.select(
        "o_custkey", "o_orderkey",
        F.expr("timestamp_micros(cast(day as bigint) * 86400000000)")
        .alias("o_orderdate"))
    df.write.mode("overwrite").parquet(
        str(tmp_path / "orders.parquet"))
    cust = defaultdict(list)
    for c, k, d in rows:
        cust[c].append((int(d) * _DAY_US, k))
    for seq in cust.values():
        seq.sort()
    exp = _brute_survival(cust)
    got = _survival_frame_to_dict(
        _q_survival_second_order(spark, str(tmp_path)).collect())
    assert {b: v[:3] for b, v in got.items()} == \
           {b: v[:3] for b, v in exp.items()}
    for b in exp:
        assert got[b][3] == pytest.approx(exp[b][3], abs=1e-9)

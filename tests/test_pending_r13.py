"""Numerics queries: oracle parity, independent pure-Python
reimplementation laws for every exact-arithmetic claim (a bug shared by
the Spark plan and the SQL string survives the hash compare but not an
arithmetic recomputation), plan-shape pins, and the rotation simulation
for their registration round."""

from __future__ import annotations

import hashlib
import math

import pytest

from etl_dados_ibge_sp_spark.queries.analytics import _B, _POISSON_CDF, _RING
from etl_dados_ibge_sp_spark.queries.embeddings import _SCALE
from etl_dados_ibge_sp_spark.registry import STALE_BOUND, all_queries

from .oracle_compare import assert_registered_matches_oracle
from .rotation_sim import simulate

QUERIES = all_queries()

TRANCHE13 = (
    "bootstrap_poisson_revenue", "embed_covariance_scaled",
    "epoch_mix_schedule", "events_autocorr_daily",
    "qi_generalization_ladder")


@pytest.mark.parametrize("name", sorted(TRANCHE13))
def test_gated13_query_matches_oracle(name, spark, sf_dir):
    assert_registered_matches_oracle(name, spark, sf_dir)


def _embeddings_scaled(sf_dir):
    import pyarrow.parquet as pq
    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet",
                        columns=["embedding"])
    out = []
    for vec in tbl.column("embedding").to_pylist():
        # float32 -> python float is the same widening both engines do
        out.append([round(x * _SCALE) for x in vec])
    return out


def test_covariance_matches_pure_python(spark, sf_dir):
    """Recompute three cells — a variance (0,0), a mid off-diagonal
    (3,17), and the last cell (63,63) — from the raw parquet in
    arbitrary-precision Python ints.  Exact agreement through the one
    final division; plus the structural facts: d(d+1)/2 rows and
    non-negative diagonal."""
    vecs = _embeddings_scaled(sf_dir)
    n = len(vecs)

    def cell(i, j):
        si = sum(v[i] for v in vecs)
        sj = sum(v[j] for v in vecs)
        sij = sum(v[i] * v[j] for v in vecs)
        return round((n * sij - si * sj) / n / (n - 1) / 1.0e12, 9)

    fn = QUERIES["embed_covariance_scaled"]
    rows = {(r["i"], r["j"]): r for r in fn(spark, sf_dir).collect()}
    assert len(rows) == 64 * 65 // 2
    for i, j in ((0, 0), (3, 17), (63, 63)):
        assert rows[(i, j)]["n_vecs"] == n
        assert rows[(i, j)]["cov"] == cell(i, j), (i, j)
    for (i, j), r in rows.items():
        if i == j:
            assert r["cov"] >= 0.0, f"negative variance at {i}"


def test_autocorr_matches_pure_python(spark, sf_dir):
    """Recompute all seven lags from the daily counts in exact Python
    integer arithmetic (duckdb supplies the counts; the formula is
    reimplemented, not reused)."""
    import duckdb
    con = duckdb.connect()
    daily = dict(con.execute(
        f"SELECT epoch_us(ts) // 86400000000, COUNT(*) FROM "
        f"'{sf_dir}/events.parquet' GROUP BY 1").fetchall())
    n = len(daily)
    s = sum(daily.values())
    q = sum(c * c for c in daily.values())
    expect = {}
    for k in range(1, 8):
        pairs = [(daily[d], daily[d + k]) for d in daily
                 if d + k in daily]
        p = len(pairs)
        pk = sum(a * b for a, b in pairs)
        ak = sum(a for a, _ in pairs)
        bk = sum(b for _, b in pairs)
        num = n * n * pk - n * s * (ak + bk) + p * s * s
        den = n * (n * q - s * s)
        expect[k] = (n, p, round(num / den, 6))

    fn = QUERIES["events_autocorr_daily"]
    got = {r["k"]: (r["n_days"], r["n_pairs"], r["autocorr"])
           for r in fn(spark, sf_dir).collect()}
    assert got == expect
    # lag-correlation is a correlation: bounded (loose IEEE slack)
    for _n, _p, r in got.values():
        assert -1.000001 <= r <= 1.000001


def _poisson_weight_py(orderkey: int, b: int) -> int:
    digest = hashlib.md5(
        f"boot:{orderkey}\x1f{b}".encode()).hexdigest()
    bucket = int(digest[:15], 16) % _RING
    for w, t in enumerate(_POISSON_CDF):
        if bucket < t:
            return w
    return 5


def test_bootstrap_matches_pure_python_and_is_calibrated(spark, sf_dir):
    """Resample 7's total recomputed row-by-row with hashlib md5 and
    the same literal CDF thresholds — exact equality proves both the
    hash-ring construction and the weight drawing.  Calibration: the
    mean of the 32 totals sits within 5 standard errors of the true
    total (Poisson bootstrap is unbiased; the SE bound is loose
    enough to be deterministic-fixture-safe), and every n_eff is
    within 5*sqrt(n) of n."""
    import duckdb
    con = duckdb.connect()
    orders = con.execute(
        f"SELECT o_orderkey, CAST(round(o_totalprice*100) AS BIGINT) "
        f"FROM '{sf_dir}/orders.parquet'").fetchall()
    true_total = sum(m for _k, m in orders)
    n = len(orders)
    expect7 = sum(_poisson_weight_py(k, 7) * m for k, m in orders)

    fn = QUERIES["bootstrap_poisson_revenue"]
    rows = {r["resample_id"]: r for r in fn(spark, sf_dir).collect()}
    assert len(rows) == _B
    assert rows[7]["total_cents"] == expect7
    mean = sum(r["total_cents"] for r in rows.values()) / _B
    se = math.sqrt(sum(m * m for _k, m in orders) / _B)
    assert abs(mean - true_total) <= 5 * se
    for r in rows.values():
        assert abs(r["n_eff"] - n) <= 5 * math.sqrt(n)
    # resamples must actually differ (degenerate weights would
    # trivially hash-match an equally degenerate oracle)
    assert len({r["total_cents"] for r in rows.values()}) > 1


def test_schedule_sums_to_budget_and_is_monotone(spark, sf_dir):
    """Per source: 4 epoch rows, non-increasing token series, epoch 1
    serves min(unique, alloc), and the series sums exactly to the
    budget query's tokens_served."""
    fnb = QUERIES["epoch_repeat_budget"]
    budget = {r["source"]: r for r in fnb(spark, sf_dir).collect()}
    fn = QUERIES["epoch_mix_schedule"]
    rows = fn(spark, sf_dir).collect()
    by_src: dict[str, dict[int, int]] = {}
    for r in rows:
        by_src.setdefault(r["source"], {})[r["epoch"]] = \
            r["tokens_in_epoch"]
    assert set(by_src) == set(budget)
    for src, epochs in by_src.items():
        b = budget[src]
        assert sorted(epochs) == [1, 2, 3, 4]
        series = [epochs[e] for e in (1, 2, 3, 4)]
        assert series[0] == min(b["unique_tokens"], b["alloc_tokens"])
        assert all(a >= c for a, c in zip(series, series[1:]))
        assert sum(series) == b["tokens_served"]


def test_ladder_is_a_coarsening_chain(spark, sf_dir):
    """The ladder's partitions must be nested (widths 100 -> 500 ->
    1000, attributes only dropped), so along the levels: n_classes
    non-increasing, min_k non-decreasing, docs-below-5 non-increasing
    — the monotonicity a generalization ladder exists to exhibit.
    Also: every level partitions the whole corpus."""
    from etl_dados_ibge_sp_spark.sources.parquet_source import load_table

    n = load_table(spark, sf_dir, "documents").count()
    fn = QUERIES["qi_generalization_ladder"]
    rows = sorted(fn(spark, sf_dir).collect(), key=lambda r: r["level"])
    assert [r["level"] for r in rows] == [0, 1, 2, 3]
    for a, b in zip(rows, rows[1:]):
        assert a["n_classes"] >= b["n_classes"]
        assert a["min_k"] <= b["min_k"]
        assert a["docs_below_5"] >= b["docs_below_5"]
    for r in rows:
        assert 1 <= r["min_k"] <= n
        assert r["classes_below_5"] <= r["n_classes"]
        assert r["docs_below_5"] <= n


@pytest.mark.parametrize("name,max_shuffles,n_scans", [
    ("embed_covariance_scaled", 2, 1),
    ("events_autocorr_daily", 4, 1),
    ("bootstrap_poisson_revenue", 2, 1),
    ("epoch_mix_schedule", 3, 1),
    ("qi_generalization_ladder", 3, 1),
])
def test_tranche13_plan_shape(name, max_shuffles, n_scans, spark,
                              sf_dir):
    """Executable scale story: one scan per query (the autocorrelation
    reuses its persisted daily frame rather than re-reading the fact
    table — tools/plan_audit's formatted-explain counting, which
    numbers only live nodes, not cached lineage), no row-at-a-time
    Python, bounded shuffles.  The session cache is cleared first:
    the law pins the FIRST-build plan — a prior invocation in the
    same session (the oracle-parity test) leaves an InMemoryRelation
    whose stored AQE stages formatted-explain then numbers as extra
    (already-executed, zero-cost) Exchange nodes."""
    import contextlib
    import io
    import re

    spark.catalog.clearCache()
    fn = QUERIES[name]
    df = fn(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) <= n_scans, \
        f"{name}: too many scans\n{plan[:1200]}"
    assert not re.search(r"BatchEvalPython(?!UDTF)", plan), name
    assert "CartesianProduct" not in plan, name
    n_shuffles = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_shuffles <= max_shuffles + 1, \
        f"{name}: {n_shuffles} shuffles > pinned {max_shuffles}+1"


def test_round13_admission_holds_5_round_bound():
    """The round-12 simulation with five more queries registered in
    round 13 (N = 221, today's registry size): each group gets driver
    rows in the round it arrives, and no verified query exceeds the
    5-round bound."""
    # Round 10's budget re-verified e0, the five tranche-10 queries
    # and 44 of the r6 cohort; the other 6 of that cohort are the
    # round-11 class-0 front.
    names = (["e0"]
             + [f"f{i}" for i in range(50)]
             + [f"g{i}" for i in range(50)]
             + [f"h{i}" for i in range(50)]
             + [f"i{i}" for i in range(50)]
             + [f"t10{c}" for c in "abcde"])
    last_green = ({"e0": 10}
                  | {f"f{i}": 10 for i in range(44)}
                  | {f"f{i}": 6 for i in range(44, 50)}
                  | {f"g{i}": 7 for i in range(50)}
                  | {f"h{i}": 8 for i in range(50)}
                  | {f"i{i}": 9 for i in range(50)}
                  | {f"t10{c}": 10 for c in "abcde"})
    first_green, max_gap = simulate(
        names, last_green,
        {11: [f"t11{c}" for c in "abcde"],
         12: [f"t12{c}" for c in "abcde"],
         13: [f"t13{c}" for c in "abcde"]},
        start=11, rounds=12)
    for c in "abcde":
        assert first_green[f"t11{c}"] == 11
        assert first_green[f"t12{c}"] == 12
        assert first_green[f"t13{c}"] == 13
    assert max_gap <= STALE_BOUND, \
        f"bound broken: a query went {max_gap} rounds"


from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=10**6),
                min_size=3, max_size=40),
       st.integers(min_value=1, max_value=7))
def test_autocorr_integer_algebra_matches_float_reference(counts, k):
    """The multiplied-through integer estimator must equal the
    textbook float formula (mean-centered products over the lag
    pairs, normalized by the full-series centered sum of squares) on
    ANY series — the algebraic identity the Spark plan and the SQL
    string both encode.  Pure Python on random series: independent of
    both engines, so a shared algebra bug cannot hide."""
    from hypothesis import assume

    n = len(counts)
    s = sum(counts)
    q = sum(c * c for c in counts)
    assume(n * q != s * s)  # constant series: correlation undefined
    pairs = list(zip(counts, counts[k:]))
    assume(pairs)
    p = len(pairs)
    pk = sum(a * b for a, b in pairs)
    ak = sum(a for a, _ in pairs)
    bk = sum(b for _, b in pairs)
    num = n * n * pk - n * s * (ak + bk) + p * s * s
    den = n * (n * q - s * s)

    m = s / n
    ref_num = sum((a - m) * (b - m) for a, b in pairs)
    ref_den = sum((c - m) ** 2 for c in counts)
    assert abs(num / den - ref_num / ref_den) <= 1e-9 * max(
        1.0, abs(ref_num / ref_den))

"""Laws for the seventh tranche (model inference + evaluation),
independent of the DuckDB oracles: scores must equal the pure-Python
sigmoid of the same sequential fold, the decision must be the
margin's sign (never the exp'd score), calibration bins must
partition and reproduce dict-built statistics, and the midrank AUC
must equal the O(n²) pairwise definition — including a synthetic
sweep with controlled margin ties."""

from __future__ import annotations

import math
from collections import defaultdict

import pytest
from hypothesis import HealthCheck, assume, given, settings
from hypothesis import strategies as st

from etl_dados_ibge_sp_spark.queries.embeddings import (
    _B, _LOGIT, _W, _q_classifier_auc_exact, _q_embed_score_logreg,
    _q_score_calibration_bins)
from etl_dados_ibge_sp_spark.sources.parquet_source import load_table


def _brute_z(spark, sf_dir):
    rows = load_table(spark, sf_dir, "embeddings") \
        .select("vec_id", "embedding", "label").collect()
    out = {}
    for r in rows:
        z = 0.0
        for x, w in zip(r.embedding, _W):  # same sequential fold
            z += float(x) * w
        out[r.vec_id] = (z + _B, r.label % 2)
    return out


def _pairwise_auc(zs):
    """O(n²) definition: P(z_pos > z_neg) + ½·P(tie)."""
    pos = [z for z, t in zs if t == 1]
    neg = [z for z, t in zs if t == 0]
    wins = sum((p > n) + 0.5 * (p == n) for p in pos for n in neg)
    return wins / (len(pos) * len(neg))


def test_scores_match_python_sigmoid_and_sign_rule(spark, sf_dir):
    bz = _brute_z(spark, sf_dir)
    rows = _q_embed_score_logreg(spark, sf_dir).collect()
    assert {r.vec_id for r in rows} == set(bz)
    for r in rows:
        z, target = bz[r.vec_id]
        assert r.target == target
        assert r.predicted == (1 if z >= 0 else 0)
        assert r.score == pytest.approx(
            round(1.0 / (1.0 + math.exp(-z)), 6), abs=1e-9)


def test_calibration_bins_partition_and_match(spark, sf_dir):
    bz = _brute_z(spark, sf_dir)
    seg = defaultdict(lambda: [0, 0, 0])  # n, pos, score_micro
    for z, t in bz.values():
        b = sum(1 for lo in _LOGIT if lo <= z)
        seg[b][0] += 1
        seg[b][1] += t
        seg[b][2] += math.floor(1.0 / (1.0 + math.exp(-z)) * 1_000_000)
    got = {r.bin: r for r in
           _q_score_calibration_bins(spark, sf_dir).collect()}
    assert set(got) == set(seg)
    assert sum(r.n for r in got.values()) == len(bz)
    for b, (n, pos, micro) in seg.items():
        assert got[b].n == n
        assert got[b].pos_rate == pytest.approx(round(pos / n, 6))
        assert got[b].mean_score == pytest.approx(
            round(micro / (n * 1_000_000), 6), abs=1e-9)


def test_auc_matches_pairwise_definition(spark, sf_dir):
    zs = list(_brute_z(spark, sf_dir).values())
    r = _q_classifier_auc_exact(spark, sf_dir).collect()[0]
    assert r.n_pos == sum(t for _, t in zs)
    assert r.n_neg == len(zs) - r.n_pos
    assert r.auc == pytest.approx(round(_pairwise_auc(zs), 6), abs=1e-9)


# Controlled margins: embedding [c*128, 0, ...] makes z = c + 0.125
# exactly (w_0 = 1/128), so equal c values are exact z ties.
CASES = st.lists(st.tuples(st.integers(-3, 3), st.integers(0, 1)),
                 min_size=2, max_size=14)


@given(CASES)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_auc_random_with_ties(spark, tmp_path, cases):
    assume(any(t == 1 for _, t in cases)
           and any(t == 0 for _, t in cases))
    rows = [(i, [float(c * 128)] + [0.0] * 63, lab)
            for i, (c, lab) in enumerate(cases)]
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int") \
        .write.mode("overwrite") \
        .parquet(str(tmp_path / "embeddings.parquet"))
    r = _q_classifier_auc_exact(spark, str(tmp_path)).collect()[0]
    zs = [(c + 0.125, lab % 2) for c, lab in cases]
    assert r.auc == pytest.approx(round(_pairwise_auc(zs), 6), abs=1e-9)

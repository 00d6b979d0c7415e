"""Oracle parity and registration wiring for the lakehouse-loop,
vtable-sink, dataset-split, PNG-codec, governance, data-mix and
numerics queries."""

from __future__ import annotations

import pytest

from .oracle_compare import assert_registered_matches_oracle, assert_wired

GATED = (
    "bootstrap_poisson_revenue", "embed_covariance_scaled",
    "epoch_mix_schedule", "epoch_repeat_budget",
    "events_autocorr_daily", "gopher_rule_attribution",
    "k_anonymity_audit", "l_diversity_audit",
    "lakehouse_incremental_loop", "multimodal_decode_real",
    "multimodal_png_roundtrip", "near_dup_rate_by_source",
    "ngram_novelty", "qi_generalization_ladder", "quality_gopher_rules",
    "quality_token_tradeoff", "source_datacard", "split_leakage_pairs",
    "split_length_curriculum", "split_psi_drift",
    "split_train_valid_test", "vtable_sink_roundtrip")


@pytest.mark.parametrize("name", sorted(GATED))
def test_gated_query_matches_oracle(name, spark, sf_dir):
    assert_registered_matches_oracle(name, spark, sf_dir)


def test_gated_wiring():
    assert_wired(GATED)

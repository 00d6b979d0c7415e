"""Dataset-split and PNG-codec queries: oracle parity, the
non-degeneracy guards the driver's 0-row-hash-match caveat requires,
the split, leakage and novelty laws, and a rotation simulation showing
that registering five queries in one round keeps the 5-round staleness
bound."""

from __future__ import annotations

import pytest

from etl_dados_ibge_sp_spark.registry import STALE_BOUND, all_queries

from .oracle_compare import assert_registered_matches_oracle
from .rotation_sim import simulate

QUERIES = all_queries()

TRANCHE10 = (
    "multimodal_decode_real", "multimodal_png_roundtrip",
    "ngram_novelty", "split_leakage_pairs", "split_train_valid_test")


@pytest.mark.parametrize("name", sorted(TRANCHE10))
def test_gated10_query_matches_oracle(name, spark, sf_dir):
    assert_registered_matches_oracle(name, spark, sf_dir)


def test_split_is_total_deterministic_and_8_1_1ish(spark, sf_dir):
    """Every document lands in exactly one split; the assignment is a
    pure function of the id (two invocations agree row-for-row); and
    the multiplicative hash actually balances: each bucket holds
    within [half, double] of its nominal share — loose on purpose,
    the law is about gross skew (e.g. a modulus accidentally
    correlated with the id pattern), not sampling variance."""
    fn = QUERIES["split_train_valid_test"]
    rows = {r["split"]: r for r in fn(spark, sf_dir).collect()}
    assert set(rows) == {"train", "valid", "test"}
    n = sum(r["n_docs"] for r in rows.values())
    assert rows["train"]["n_docs"] >= 0.4 * n
    for s, share in (("train", 0.8), ("valid", 0.1), ("test", 0.1)):
        assert 0.5 * share * n <= rows[s]["n_docs"] <= 2 * share * n, \
            f"{s}: {rows[s]['n_docs']} of {n} vs nominal {share}"
    again = {r["split"]: r["n_docs"]
             for r in fn(spark, sf_dir).collect()}
    assert again == {s: r["n_docs"] for s, r in rows.items()}


def test_leakage_pairs_nondegenerate_and_consistent(spark, sf_dir):
    """The fixture corpus plants near-dups that straddle the hash
    split (7 pairs at the test scale) — if this ever returns empty the
    oracle comparison is vacuously green and the query must be
    re-fixtured.  Every reported pair straddles, orders doc_a < doc_b,
    and carries jaccard >= 0.8."""
    fn = QUERIES["split_leakage_pairs"]
    rows = fn(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["doc_a"] < r["doc_b"]
        assert r["split_a"] != r["split_b"]
        assert r["jaccard"] >= 0.8


def test_leakage_lsh_candidates_subset_of_exact(spark, sf_dir):
    """The 100 TB candidate path: LSH-banded discovery must return a
    SUBSET of the exact inverted-index result with IDENTICAL jaccard
    and split values (the verdict join is shared, so false positives
    are impossible — only band-miss false negatives), and on the
    planted fixture the deterministic MinHash must in fact recover
    every pair (the planted near-dups sit far above the 0.8 band
    threshold, where P(miss) ≈ (1−J²)⁴ is negligible — and the hash
    is seedless md5, so this is a fixed outcome, not a flaky one)."""
    from etl_dados_ibge_sp_spark.queries._shared import leakage_pairs

    exact = {(r["doc_a"], r["doc_b"]):
             (r["split_a"], r["split_b"], r["jaccard"])
             for r in leakage_pairs(spark, sf_dir,
                                    candidates="inverted").collect()}
    lsh = {(r["doc_a"], r["doc_b"]):
           (r["split_a"], r["split_b"], r["jaccard"])
           for r in leakage_pairs(spark, sf_dir,
                                  candidates="lsh").collect()}
    assert set(lsh) <= set(exact)
    for pair, vals in lsh.items():
        assert vals == exact[pair]
    assert lsh == exact, (
        "planted fixture pairs lost by the banding — recall on "
        f"high-J fixtures should be total: {set(exact) - set(lsh)}")


def test_leakage_unknown_strategy_raises(spark, sf_dir):
    from etl_dados_ibge_sp_spark.queries._shared import leakage_pairs

    with pytest.raises(ValueError, match="unknown candidate strategy"):
        leakage_pairs(spark, sf_dir, candidates="bogus")


def test_novelty_bounds_and_batch_scope(spark, sf_dir):
    """novelty ∈ [0, 1], n_novel <= n_grams, and only arrival-batch
    docs (doc_id % 7 == 0, >= 3 tokens) appear."""
    fn = QUERIES["ngram_novelty"]
    rows = fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["doc_id"] % 7 == 0
        assert 0 <= r["n_novel"] <= r["n_grams"]
        assert 0.0 <= r["novelty"] <= 1.0


def test_round10_admission_holds_5_round_bound():
    """Forward-simulate the post-round-9 state: cohorts green in
    r5(1 straggler)/r6(50)/r7(50)/r8(50)/r9(50), and five queries
    registered in round 10 (N = 206).  They must get driver rows
    immediately (class 1 outranks the steady-state cohort), and no
    verified query may ever exceed the 5-round staleness bound — the
    displaced rows bubble up as class 0."""
    names = (["e0"]                                    # r5 straggler
             + [f"f{i}" for i in range(50)]            # r6 cohort
             + [f"g{i}" for i in range(50)]            # r7
             + [f"h{i}" for i in range(50)]            # r8
             + [f"i{i}" for i in range(50)])           # r9
    last_green = ({"e0": 5}
                  | {f"f{i}": 6 for i in range(50)}
                  | {f"g{i}": 7 for i in range(50)}
                  | {f"h{i}": 8 for i in range(50)}
                  | {f"i{i}": 9 for i in range(50)})
    first_green, max_gap = simulate(
        names, last_green,
        {10: [f"t10{c}" for c in "abcde"]},
        start=10, rounds=12)
    for c in "abcde":
        assert first_green[f"t10{c}"] == 10
    assert max_gap <= STALE_BOUND, \
        f"bound broken: a query went {max_gap} rounds"

"""Data-mix-engineering queries: oracle parity, non-degeneracy guards
(the driver's 0-row-hash-match caveat), arithmetic-identity and
cross-query consistency laws, plan-shape pins, and the rotation
simulation for their registration round."""

from __future__ import annotations

import pytest

from etl_dados_ibge_sp_spark.registry import STALE_BOUND, all_queries

from .oracle_compare import assert_registered_matches_oracle
from .rotation_sim import simulate

QUERIES = all_queries()

TRANCHE12 = (
    "epoch_repeat_budget", "gopher_rule_attribution",
    "l_diversity_audit", "quality_token_tradeoff", "source_datacard")


@pytest.mark.parametrize("name", sorted(TRANCHE12))
def test_gated12_query_matches_oracle(name, spark, sf_dir):
    assert_registered_matches_oracle(name, spark, sf_dir)


def test_epoch_budget_arithmetic_identities(spark, sf_dir):
    """Every derived column is a pure integer function of
    (stored_tokens, unique_tokens) — recompute all of them in Python
    and require equality; plus the structural bounds (unique <= stored,
    epochs >= 2 because alloc = 2x stored >= 2x unique)."""
    fn = QUERIES["epoch_repeat_budget"]
    rows = fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        stored, unique = r["stored_tokens"], r["unique_tokens"]
        assert 0 < unique <= stored
        alloc = 2 * stored
        assert r["alloc_tokens"] == alloc
        epochs = -(-alloc // unique)  # exact ceil-div
        assert r["epochs_needed"] == epochs >= 2
        assert r["epochs_capped"] == min(epochs, 4)
        served = min(alloc, 4 * unique)
        assert r["tokens_served"] == served
        assert r["shortfall"] == alloc - served
        assert abs(r["dup_rate"]
                   - round(1.0 - unique / stored, 6)) <= 1e-9


def test_epoch_budget_masses_match_direct_scan(spark, sf_dir):
    """stored_tokens per source must equal a direct (fingerprint-free)
    per-source token sum — an independent path through the data that a
    bug in the content-key grouping could not also break."""
    from pyspark.sql import functions as F

    from etl_dados_ibge_sp_spark.operators import text as T
    from etl_dados_ibge_sp_spark.sources.parquet_source import load_table

    direct = {r["source"]: r["s"] for r in (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.sum(T.token_count(F.col("text"))).cast("bigint")
             .alias("s"))).collect()}
    fn = QUERIES["epoch_repeat_budget"]
    got = {r["source"]: r["stored_tokens"]
           for r in fn(spark, sf_dir).collect()}
    assert got == direct


def test_rule_attribution_matches_per_doc_verdicts(spark, sf_dir):
    """Recompute every census cell from the tranche-11 per-document
    verdict frame in plain Python: n_fail and n_fail_exclusive per
    rule must agree exactly (the two queries share thresholds by
    construction — this law catches a drift in either)."""
    fn11 = QUERIES["quality_gopher_rules"]
    docs = fn11(spark, sf_dir).collect()
    bits = [(r["r_words"], r["r_wordlen"], r["r_alpha"], r["r_stop"])
            for r in docs]
    rules = ("words", "wordlen", "alpha", "stop")
    expect = {}
    for i, rule in enumerate(rules):
        n_fail = sum(1 - b[i] for b in bits)
        n_excl = sum((1 - b[i]) * b[(i + 1) % 4] * b[(i + 2) % 4]
                     * b[(i + 3) % 4] for b in bits)
        expect[rule] = (n_fail, n_excl)

    fn = QUERIES["gopher_rule_attribution"]
    got = {r["rule"]: (r["n_fail"], r["n_fail_exclusive"])
           for r in fn(spark, sf_dir).collect()}
    assert got == expect
    # the fixture must exercise the census: some rule actually removes
    assert any(v[0] > 0 for v in got.values())


def test_l_diversity_partitions_the_corpus(spark, sf_dir):
    """Every document lands in exactly one l bucket; l is at least 1
    and never exceeds the corpus language count; sizes respect their
    bucket's bounds."""
    from etl_dados_ibge_sp_spark.sources.parquet_source import load_table

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    n_langs = docs.select("lang").distinct().count()
    fn = QUERIES["l_diversity_audit"]
    rows = fn(spark, sf_dir).collect()
    assert rows
    assert sum(r["n_docs"] for r in rows) == n
    for r in rows:
        assert 1 <= r["l"] <= n_langs
        assert 1 <= r["min_sz"] <= r["max_sz"]
        assert r["l"] <= r["max_sz"], \
            "a class cannot hold more distinct langs than members"


def test_datacard_consistent_with_epoch_budget(spark, sf_dir):
    """The datacard's token masses are the budget query's stored
    masses; shares sum to 1 within rounding; dup-rate and mean are
    exact functions of the row's own integers."""
    fn = QUERIES["source_datacard"]
    cards = fn(spark, sf_dir).collect()
    assert cards
    fnb = QUERIES["epoch_repeat_budget"]
    budget = {r["source"]: r for r in fnb(spark, sf_dir).collect()}
    assert {c["source"] for c in cards} == set(budget)
    share_sum = 0.0
    for c in cards:
        b = budget[c["source"]]
        assert c["sum_tokens"] == b["stored_tokens"]
        assert 0 < c["n_unique"] <= c["n_docs"]
        assert abs(c["exact_dup_rate"]
                   - round(1.0 - c["n_unique"] / c["n_docs"], 6)) <= 1e-9
        assert abs(c["mean_tokens"]
                   - round(c["sum_tokens"] / c["n_docs"], 6)) <= 1e-9
        share_sum += c["corpus_share"]
    assert abs(share_sum - 1.0) <= 1e-4


def test_tradeoff_frontier_laws(spark, sf_dir):
    """Grades partition the corpus; cum_tokens is the suffix sum from
    the best grade down (worst grade's cum equals the corpus total);
    cum_share ends at exactly 1.0; and the histogram matches the
    per-document verdict frame."""
    fn11 = QUERIES["quality_gopher_rules"]
    verdicts = fn11(spark, sf_dir).collect()
    from collections import Counter
    hist = Counter(r["r_words"] + r["r_wordlen"] + r["r_alpha"]
                   + r["r_stop"] for r in verdicts)
    mass = Counter()
    for r in verdicts:
        mass[r["r_words"] + r["r_wordlen"] + r["r_alpha"]
             + r["r_stop"]] += r["n_tok"]

    fn = QUERIES["quality_token_tradeoff"]
    rows = sorted(fn(spark, sf_dir).collect(),
                  key=lambda r: -r["grade"])
    assert {r["grade"] for r in rows} == set(hist)
    cum = 0
    for r in rows:
        assert r["n_docs"] == hist[r["grade"]]
        assert r["sum_tokens"] == mass[r["grade"]]
        cum += r["sum_tokens"]
        assert r["cum_tokens"] == cum
    total = sum(mass.values())
    assert rows[-1]["cum_tokens"] == total
    assert abs(rows[-1]["cum_share"] - 1.0) <= 1e-9


@pytest.mark.parametrize("name,max_shuffles", [
    ("epoch_repeat_budget", 3),
    ("gopher_rule_attribution", 2),
    ("l_diversity_audit", 4),
    ("source_datacard", 5),
    ("quality_token_tradeoff", 3),
])
def test_tranche12_plan_shape(name, max_shuffles, spark, sf_dir):
    """The tranche's scale story, as an executable law: every query is
    ONE documents scan (a datasheet must never read the corpus twice —
    the first source_datacard draft compiled its agg+crossJoin total
    as a second full scan), zero joins of any strategy (grids and
    windows only after the aggregate), and a bounded shuffle count
    (scan fan-out + the pinned aggregation levels)."""
    import re

    fn = QUERIES[name]
    plan = fn(spark, sf_dir)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Scan parquet") == 1, \
        f"{name}: corpus scanned more than once\n{plan[:1200]}"
    assert not re.search(r"(SortMergeJoin|BroadcastHashJoin|"
                         r"ShuffledHashJoin|BroadcastNestedLoopJoin|"
                         r"CartesianProduct)", plan), \
        f"{name}: unexpected join in a grid-aggregation plan"
    n_shuffles = len(re.findall(r"\bExchange (hash|range|Single)", plan))
    assert n_shuffles <= max_shuffles, \
        f"{name}: {n_shuffles} shuffles > pinned {max_shuffles}"


def test_round12_admission_holds_5_round_bound():
    """Forward-simulate the post-round-10 state (the round-11
    simulation advanced one round) with five queries registered in
    round 11 and five in round 12 (N = 216): each group gets driver
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
         12: [f"t12{c}" for c in "abcde"]},
        start=11, rounds=12)
    for c in "abcde":
        assert first_green[f"t11{c}"] == 11
        assert first_green[f"t12{c}"] == 12
    assert max_gap <= STALE_BOUND, \
        f"bound broken: a query went {max_gap} rounds"

"""Dataset-governance queries: oracle parity, non-degeneracy guards
(the driver's 0-row-hash-match caveat), independent-reimplementation
laws for the two numeric audits, and the rotation simulation for their
registration round."""

from __future__ import annotations

import math

import pytest

from etl_dados_ibge_sp_spark.registry import STALE_BOUND, all_queries

from .oracle_compare import assert_registered_matches_oracle
from .rotation_sim import simulate

QUERIES = all_queries()

TRANCHE11 = (
    "k_anonymity_audit", "near_dup_rate_by_source",
    "quality_gopher_rules", "split_length_curriculum", "split_psi_drift")


@pytest.mark.parametrize("name", sorted(TRANCHE11))
def test_gated11_query_matches_oracle(name, spark, sf_dir):
    assert_registered_matches_oracle(name, spark, sf_dir)


def test_gopher_rules_exact_and_nondegenerate(spark, sf_dir):
    """Composite pass = product of the four rule bits; every rule bit
    is reproducible from the row's own integer measures (the
    cross-multiplied thresholds can never disagree with the reported
    ratios); and the fixture corpus must split on the filter — an
    all-pass or all-fail corpus would make the oracle comparison
    vacuous on the interesting column."""
    fn = QUERIES["quality_gopher_rules"]
    rows = fn(spark, sf_dir).collect()
    assert rows
    n_pass = sum(r["passes"] for r in rows)
    assert 0 < n_pass < len(rows), "filter is degenerate on fixture"
    for r in rows:
        assert r["passes"] == (r["r_words"] * r["r_wordlen"]
                               * r["r_alpha"] * r["r_stop"])
        assert r["r_words"] == int(r["n_tok"] >= 50)
        assert r["r_stop"] == int(r["stop_hits"] >= 2)
        # ratio columns are display-only but must agree in direction
        # with the exact-integer verdicts
        if r["r_alpha"]:
            assert r["alpha_ratio"] >= 0.799999
        assert 0.0 <= r["alpha_ratio"] <= 1.0


def test_psi_matches_independent_reimplementation(spark, sf_dir):
    """Recompute PSI from raw (split, bin) counts in plain Python —
    same grid, same Laplace smoothing — and require agreement to 1e-9
    before rounding noise.  This is an oracle-independent law: a bug
    shared by the Spark plan and the SQL string (e.g. a wrong
    smoothing constant) would survive the hash compare but not an
    arithmetic reimplementation."""
    from pyspark.sql import functions as F

    from etl_dados_ibge_sp_spark.queries._shared import _split_col
    from etl_dados_ibge_sp_spark.sources.parquet_source import load_table

    docs = load_table(spark, sf_dir, "documents")
    raw = (docs.select(_split_col().alias("split"),
                       F.least(F.floor(F.col("n_chars") / F.lit(250)),
                               F.lit(9)).cast("bigint").alias("b"))
           .groupBy("split", "b").count().collect())
    cnt = {(r["split"], r["b"]): r["count"] for r in raw}
    tot = {s: sum(v for (sp, _b), v in cnt.items() if sp == s)
           for s in ("train", "valid", "test")}

    def share(s, b):
        return (cnt.get((s, b), 0) + 0.5) / (tot[s] + 5.0)

    expect = {}
    for s in ("valid", "test"):
        expect[s] = sum(
            (share("train", b) - share(s, b))
            * math.log(share("train", b) / share(s, b))
            for b in range(10))

    fn = QUERIES["split_psi_drift"]
    got = {r["split"]: (r["n_docs"], r["psi"])
           for r in fn(spark, sf_dir).collect()}
    assert set(got) == {"valid", "test"}
    for s in ("valid", "test"):
        assert got[s][0] == tot[s]
        assert abs(got[s][1] - round(expect[s], 6)) <= 1e-6
        assert got[s][1] > 0.0, "identical splits on this fixture " \
            "would be a miracle; 0 smells like a broken join"


def test_k_anonymity_partitions_the_corpus(spark, sf_dir):
    """Every document lands in exactly one class-size bucket, and the
    reported min/max class sizes respect their bucket's bounds."""
    fn = QUERIES["k_anonymity_audit"]
    rows = {r["size_class"]: r for r in fn(spark, sf_dir).collect()}
    from etl_dados_ibge_sp_spark.sources.parquet_source import load_table
    n = load_table(spark, sf_dir, "documents").count()
    assert sum(r["n_docs"] for r in rows.values()) == n
    bounds = {"1": (1, 1), "2-4": (2, 4), "5-19": (5, 19),
              "20+": (20, 10**18)}
    for sc, r in rows.items():
        lo, hi = bounds[sc]
        assert lo <= r["min_k"] <= r["max_k"] <= hi
        assert r["n_classes"] * lo <= r["n_docs"] <= r["n_classes"] * hi


def test_near_dup_census_consistent_and_nondegenerate(spark, sf_dir):
    """Rates are n_near_dup / n_docs exactly; the fixture's planted
    near-dups must make the census non-zero somewhere (else the
    interesting column is vacuously hash-green); and no source can
    report more near-dup docs than docs."""
    fn = QUERIES["near_dup_rate_by_source"]
    rows = fn(spark, sf_dir).collect()
    assert rows
    assert sum(r["n_near_dup"] for r in rows) > 0
    for r in rows:
        assert 0 <= r["n_near_dup"] <= r["n_docs"]
        assert abs(r["near_dup_rate"]
                   - round(r["n_near_dup"] / r["n_docs"], 6)) <= 1e-9


def test_curriculum_partitions_the_corpus(spark, sf_dir):
    """(split, len_bin) cells partition the corpus: doc counts sum to
    the table size and every cell's token mass is positive."""
    fn = QUERIES["split_length_curriculum"]
    rows = fn(spark, sf_dir).collect()
    from etl_dados_ibge_sp_spark.sources.parquet_source import load_table
    n = load_table(spark, sf_dir, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n
    assert {r["split"] for r in rows} == {"train", "valid", "test"}
    for r in rows:
        assert r["n_docs"] > 0 and r["sum_tokens"] > 0
        assert r["len_bin"] in {"xs", "sm", "md", "lg", "xl"}


def test_round11_admission_holds_5_round_bound():
    """The round-10 simulation with five more queries registered in
    round 11 (N = 211): each group gets driver rows in the round it
    arrives, and no verified query exceeds the 5-round bound."""
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
        {10: [f"t10{c}" for c in "abcde"],
         11: [f"t11{c}" for c in "abcde"]},
        start=10, rounds=12)
    for c in "abcde":
        assert first_green[f"t10{c}"] == 10
        assert first_green[f"t11{c}"] == 11
    assert max_gap <= STALE_BOUND, \
        f"bound broken: a query went {max_gap} rounds"

"""Every registered query must match its DuckDB oracle — the local
mirror of the driver's CORRECTNESS gate (BASELINE.md)."""

from __future__ import annotations

import pytest

from etl_dados_ibge_sp_spark.registry import all_queries, all_oracle_sql

from .oracle_compare import compare, duckdb_run

QUERIES = all_queries()
ORACLES = all_oracle_sql()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, sf_dir):
    df = QUERIES[name](spark, sf_dir)
    assert df is not None
    oracle = duckdb_run(ORACLES[name], sf_dir)
    # A 0-row result trivially hash-matches; compare() then pins the
    # Spark side to the same (non-zero) row count.
    assert len(oracle) > 0, f"{name}: empty result is a weak test"
    errors = compare(df, oracle, name=name)
    assert not errors, "\n".join(errors)

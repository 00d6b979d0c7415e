"""Mirror of the driver's correctness gate: run a Spark query and its
DuckDB oracle on the same parquet tables, compare row count, schema
shape, and order-insensitive values.

Used by tests/test_oracle_parity.py (every registered query) so parity
breaks locally before the driver ever sees them.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd

TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")


def duckdb_run(sql: str, sf_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        return con.execute(sql).fetchdf()
    finally:
        con.close()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]").astype(str)
        elif s.dtype == object:
            df[c] = s.astype(str)
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
    sort_cols = list(df.columns)
    return df.sort_values(sort_cols, kind="mergesort").reset_index(drop=True)


def compare(spark_df, oracle_df: pd.DataFrame, float_tol: float = 1e-9,
            name: str = "") -> list[str]:
    """Return a list of mismatch descriptions (empty == parity)."""
    errors: list[str] = []
    sp = spark_df.toPandas()
    if len(sp) != len(oracle_df):
        errors.append(f"{name}: row count {len(sp)} != {len(oracle_df)}")
        return errors
    if sorted(c.lower() for c in sp.columns) != \
            sorted(c.lower() for c in oracle_df.columns):
        errors.append(f"{name}: columns {sorted(sp.columns)} != "
                      f"{sorted(oracle_df.columns)}")
        return errors
    a, b = _canon(sp), _canon(oracle_df)
    for c in a.columns:
        ca, cb = a[c], b[c]
        if pd.api.types.is_float_dtype(ca) or pd.api.types.is_float_dtype(cb):
            ca = pd.to_numeric(ca, errors="coerce")
            cb = pd.to_numeric(cb, errors="coerce")
            bad = 0
            for x, y in zip(ca, cb):
                if pd.isna(x) and pd.isna(y):
                    continue
                if pd.isna(x) or pd.isna(y):
                    bad += 1
                    continue
                if not math.isclose(x, y, rel_tol=float_tol,
                                    abs_tol=float_tol):
                    bad += 1
            if bad:
                errors.append(f"{name}.{c}: {bad} float mismatches "
                              f"(e.g. {ca.iloc[0]} vs {cb.iloc[0]})")
        else:
            neq = (ca.astype(str) != cb.astype(str))
            if neq.any():
                i = int(neq.idxmax())
                errors.append(f"{name}.{c}: {int(neq.sum())} mismatches "
                              f"(e.g. row {i}: {ca.iloc[i]!r} != {cb.iloc[i]!r})")
    return errors


def assert_registered_matches_oracle(name: str, spark, sf_dir: str) -> None:
    """Run registered query ``name`` and its oracle; fail on an empty
    Spark result (a 0-row result trivially hash-matches) or on any
    mismatch."""
    from etl_dados_ibge_sp_spark.registry import REGISTRY, _load_queries

    _load_queries()
    spec = REGISTRY[name]
    df = spec.fn(spark, sf_dir)
    assert df.count() > 0, f"{name}: empty result is a weak test"
    errors = compare(df, duckdb_run(spec.sql, sf_dir), name=name)
    assert not errors, "\n".join(errors)


def assert_wired(names) -> None:
    """Each of ``names`` is registered once, through ``register``, with
    a non-empty oracle and a callable."""
    from etl_dados_ibge_sp_spark.registry import REGISTRY, _load_queries

    assert len(names) == len(set(names)), "duplicate names"
    _load_queries()
    for name in names:
        spec = REGISTRY[name]
        assert isinstance(spec.sql, str) and spec.sql.strip(), \
            f"{name}: no oracle"
        assert callable(spec.fn), f"{name}: fn not callable"

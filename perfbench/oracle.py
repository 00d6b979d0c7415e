"""Correctness gate: each job's rows against its DuckDB oracle.

The compare is the engine's driver contract, taken from
``tools/driver_sim.py`` rather than restated: both sides go through
pandas (``toPandas()`` / ``fetchdf()``), then equal row count, equal
column names (case-insensitive) and an equal ``driver_sim.table_hash``.
An error raised by the oracle itself is labelled ``oracle_error`` and
never counts as a job failure.
"""

from __future__ import annotations

import importlib.util
import os

import duckdb

from datagen import TABLES


def _driver_sim(root: str):
    spec = importlib.util.spec_from_file_location(
        "driver_sim", os.path.join(root, "tools", "driver_sim.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _rows(pdf) -> tuple[list[str], list[tuple]]:
    return list(pdf.columns), [tuple(r) for r in pdf.itertuples(index=False)]


def _oracle(sql: str, sf_dir: str):
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{sf_dir}/{t}.parquet'")
        return _rows(con.execute(sql).fetchdf())
    finally:
        con.close()


def check(table_hash, df, sql: str, sf_dir: str) -> tuple[str, str]:
    """(status, detail) of one job's frame over the inputs under
    ``sf_dir``."""
    try:
        s_cols, s_rows = _rows(df.toPandas())
    except Exception as exc:  # the job failed: reported, run continues
        return "error", f"{type(exc).__name__}: {str(exc)[:200]}"
    try:
        o_cols, o_rows = _oracle(sql, sf_dir)
    except Exception as exc:  # the oracle failed: labelled, not a failure
        return "oracle_error", f"{type(exc).__name__}: {str(exc)[:200]}"
    if len(s_rows) != len(o_rows):
        return "mismatch", f"rows {len(s_rows)} != {len(o_rows)}"
    if sorted(c.lower() for c in s_cols) != sorted(c.lower() for c in o_cols):
        return "mismatch", f"columns {sorted(s_cols)} != {sorted(o_cols)}"
    if table_hash(s_cols, s_rows) != table_hash(o_cols, o_rows):
        return "mismatch", "value hash"
    return "ok", f"{len(s_rows)} rows"


def verify(root: str, frames: dict, oracles, jobs,
           sf_dir: str) -> list[dict]:
    """Check every job's frame; a job with no frame failed every pass."""
    table_hash = _driver_sim(root).table_hash
    out = []
    for job in sorted(jobs):
        status, detail = (check(table_hash, frames[job], oracles[job],
                                sf_dir)
                          if job in frames else ("error", "no frame"))
        out.append({"job": job, "status": status, "detail": detail})
    return out

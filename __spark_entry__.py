"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in the ``etl_dados_ibge_sp_spark`` package
(registry.py and the query families under queries/); this file stays
a thin adapter.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# Self-locate: the driver may import this file from any cwd.
_HERE = os.path.dirname(os.path.abspath(__file__))
if _HERE not in sys.path:
    sys.path.insert(0, _HERE)

from etl_dados_ibge_sp_spark.plans.caged_pipeline import incremental_enrichment
from etl_dados_ibge_sp_spark.registry import all_oracle_sql, all_queries
from etl_dados_ibge_sp_spark.session import tune_for_oracle


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The reference's production DAG (SURVEY §3.1) restated on the star
    schema: incremental anti-join dedup + broadcast enrichment +
    repair + allowlist projection.
    """
    tune_for_oracle(spark)
    return incremental_enrichment(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return all_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent ANSI SQL for each queries() entry."""
    return all_oracle_sql()

#!/usr/bin/env python
"""Dump `.explain("formatted")` for named queries to plans/<tag>/.

Usage: python tools/explain_dump.py <tag> <suffix> q1 [q2 ...]

Writes plans/<tag>/<query>_<suffix>.txt for each query — the
optimization-round evidence format (`<query>_before.txt` /
`<query>_after.txt`).  AQE is disabled for the EXPLAIN itself (same
rationale as tools/plan_audit.py: the static plan hides codegen ids
behind isFinalPlan=false) and re-enabled afterwards; the dump is the
FULL formatted plan, not the summarized skeleton PLANS.md keeps.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if HERE not in sys.path:
    sys.path.insert(0, HERE)

from etl_dados_ibge_sp_spark.registry import all_queries  # noqa: E402
from etl_dados_ibge_sp_spark.session import get_spark  # noqa: E402


def main() -> None:
    tag, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(HERE, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="explain-dump")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        # Restore the PRIOR AQE value exception-safely (a failing
        # explain must not leave AQE off for the rest of the process).
        prior = spark.conf.get("spark.sql.adaptive.enabled")
        buf = io.StringIO()
        try:
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", prior)
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(buf.getvalue())
        print(f"wrote {path}")


if __name__ == "__main__":
    main()

#!/usr/bin/env python
"""Generate PLANS.md: the physical-plan audit for the headline queries.

For each audited query the report extracts the scale-relevant evidence
from ``explain("formatted")``:

* **PushedFilters / ReadSchema** — predicate pushdown and column
  pruning reached the parquet scan (a scan reading all columns for a
  2-column projection is a bug);
* **join strategies** — small dimensions must broadcast
  (BroadcastHashJoin), only genuinely large-large joins may
  sort-merge;
* **WholeStageCodegen spans** — the hot expressions stay JVM-side;
* **Exchange count** — every shuffle at 100 TB is minutes of wall
  clock; the audit counts them so a regression is visible in diff.

Run: ``python tools/plan_audit.py [sf_dir]`` (writes PLANS.md).
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if HERE not in sys.path:
    sys.path.insert(0, HERE)

from etl_dados_ibge_sp_spark.registry import all_queries  # noqa: E402
from etl_dados_ibge_sp_spark.session import get_spark  # noqa: E402

# The audit covers the FULL query surface, same as bench.py: both
# enumerate all_queries in sorted order — one source of truth, no
# hand-maintained lists to drift.
AUDITED = sorted(all_queries())

_KEEP = re.compile(
    r"^\s*(\*|\+-|:-|==)|PushedFilters|ReadSchema|PartitionFilters")


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def summarize(plan: str) -> tuple[str, dict[str, int]]:
    lines = [ln.rstrip()[:160] for ln in plan.splitlines()
             if _KEEP.search(ln)]
    # "(N) Op" detail headers count each physical node exactly once.
    stats = {
        "shuffles": len(re.findall(r"\(\d+\) Exchange", plan)),
        "reused_exchanges": len(re.findall(r"\(\d+\) ReusedExchange", plan)),
        "broadcast_joins": len(re.findall(r"\(\d+\) BroadcastHashJoin",
                                          plan)),
        "sortmerge_joins": len(re.findall(r"\(\d+\) SortMergeJoin", plan)),
        "scans": len(re.findall(r"\(\d+\) Scan parquet", plan)),
        "codegen_spans": len(set(re.findall(r"\[codegen id : (\d+)\]",
                                            plan))),
        "python_evals": len(re.findall(r"\(\d+\) (?:ArrowEvalPython"
                                       r"|BatchEvalPython"
                                       r"|FlatMapGroupsInPandas"
                                       r"|MapInPandas)", plan)),
    }
    return "\n".join(lines), stats


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()

    out = [
        "# PLANS — physical-plan audit of the headline queries",
        "",
        f"Generated by `python tools/plan_audit.py {sf_dir}`.  What the",
        "numbers mean: every `Exchange` is a cluster-wide shuffle (the",
        "unit of pain at 100 TB); `BroadcastHashJoin` is the required",
        "strategy for dim joins; `PushedFilters`/`ReadSchema` prove the",
        "scan reads only what the query needs; `WholeStageCodegen`",
        "spans show the expression work staying JVM-side; Python",
        "evaluation nodes appear only in the deliberately-Python",
        "operators (multimodal decode, stateful sessionization).",
        "",
    ]
    for name in AUDITED:
        df = qs[name](spark, sf_dir)
        # AQE re-plans at runtime and marks the static plan
        # isFinalPlan=false, hiding codegen ids; turn it off for the
        # EXPLAIN and restore the prior value exception-safely (the
        # tune_for_oracle once-guard means nothing re-enables it for
        # us if an explain throws mid-audit).
        prior = spark.conf.get("spark.sql.adaptive.enabled")
        try:
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            skeleton, stats = summarize(plan_of(df))
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", prior)
        stat_line = ", ".join(f"{k}={v}" for k, v in stats.items())
        out += [f"## {name}", "", f"`{stat_line}`", "",
                "```", skeleton, "```", ""]
    path = os.path.join(HERE, "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path}")


if __name__ == "__main__":
    main()

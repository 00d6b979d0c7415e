#!/usr/bin/env python
"""Generate QUERIES.md: one line per query in the engine's surface —
what it does (first docstring sentence), which rounds the driver
hash-verified it, and its pinned sf0.1 min-of-3 seconds.  Every query
is registered and carries a DuckDB oracle.

Run: ``python tools/query_index.py`` (writes QUERIES.md).  Pure
metadata pass — no SparkSession is created.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if HERE not in sys.path:
    sys.path.insert(0, HERE)

from etl_dados_ibge_sp_spark.registry import all_queries  # noqa: E402


def first_sentence(doc: str | None) -> str:
    if not doc:
        return "(no docstring)"
    text = " ".join(doc.strip().split())
    m = re.match(r"(.+?\.)(\s|$)", text)
    return (m.group(1) if m else text)[:220]


def main() -> None:
    queries = all_queries()

    verified: dict[str, list[int]] = {}
    newest_round = 0
    for path in sorted(glob.glob(os.path.join(HERE,
                                              "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r(\d+)", os.path.basename(path)).group(1))
        newest_round = max(newest_round, rnd)
        for name in json.load(open(path)):
            verified.setdefault(name, []).append(rnd)

    bench: dict[str, float] = {}
    bpath = os.path.join(HERE, "BENCH_full.json")
    if os.path.exists(bpath):
        bench = json.load(open(bpath)).get("queries", {})

    lines = [
        "# QUERIES — the full query surface, one line each",
        "",
        "Generated by `tools/query_index.py`; do not edit by hand.",
        "",
        "* **driver-verified** — rounds with a green CORRECTNESS row, "
        f"as of CORRECTNESS_r{newest_round:02d} (a query re-generated "
        "at bench time, before the round's driver verification lands, "
        "shows its previous rounds only — regenerate after the driver "
        "round to pick up the newest rows).",
        "* **sf0.1 s** — pinned min-of-3 seconds from BENCH_full.json.",
        "",
        "| query | driver-verified | sf0.1 s | what |",
        "|---|---|---|---|",
    ]
    for name in sorted(queries):
        rounds = ",".join(f"r{r}" for r in verified.get(name, [])) or "—"
        secs = f"{bench[name]:.2f}" if name in bench else "—"
        what = first_sentence(queries[name].__doc__).replace("|", "\\|")
        lines.append(f"| `{name}` | {rounds} | {secs} | {what} |")

    n_all = len(queries)
    lines += [
        "",
        f"{n_all} queries total; "
        f"{sum(1 for n in queries if n in verified)} have at least "
        "one green driver CORRECTNESS row "
        "(every query is oracle-checked in pytest each CI run "
        "regardless).",
        "",
    ]
    out = os.path.join(HERE, "QUERIES.md")
    with open(out, "w") as fh:
        fh.write("\n".join(lines))
    print(f"wrote {out} ({n_all} queries)")


if __name__ == "__main__":
    main()

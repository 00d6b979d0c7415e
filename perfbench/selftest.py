#!/usr/bin/env python3
"""Self-test of the benchmark's definitions; no Spark session needed.

    python3 perfbench/selftest.py

Run from the repository root.  Fails (exit 1) when a workload lists a
job that ``__spark_entry__.queries()`` no longer registers or that has
no ``oracle_sql()`` entry, so a registry change cannot silently shrink
a workload; when ``BENCHMARK.json`` and ``workloads.py`` name different
workloads; or when a job's family has no ``<family>.job_s`` metric.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from workloads import WORKLOADS, unregistered  # noqa: E402


def problems() -> list[str]:
    import __spark_entry__ as entry

    queries, oracles = entry.queries(), entry.oracle_sql()
    out = [f"{wl}: {p}" for wl, w in WORKLOADS.items()
           for p in unregistered(w.jobs, queries, oracles)]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if sorted(w["name"] for w in bench["workloads"]) != sorted(WORKLOADS):
        out.append("BENCHMARK.json workloads differ from workloads.py")
    per_layer = {m["name"] for m in bench["per_layer"]}
    out += [f"{wl}: {job}'s family has no {fam}.job_s metric"
            for wl, w in WORKLOADS.items() for job, fam in w.jobs.items()
            if fam and f"{fam}.job_s" not in per_layer]
    return out


if __name__ == "__main__":
    found = problems()
    for p in found:
        print(p, file=sys.stderr)
    print("FAIL" if found else "ok")
    sys.exit(1 if found else 0)

#!/usr/bin/env python
"""One PROFILED whole-suite bench pass — the round-9 instrument for
the three-round bench-mean drift (0.94 -> 0.98 -> 1.02 at host_factor
1.00/1.00/1.01 with byte-identical plans; VERDICT r08 'Next round' #5).

Per-query triage was exhausted in rounds 7-8 (solo min-of-3 re-runs +
plan diffs all came back noise-class), so this tool measures the
SUITE-LEVEL constants the per-query gate cannot see:

* per-PASS per-query walls (not min-of-3) — if the same query slows
  from pass 1 to pass 3 inside one run, the session itself is aging
  (codegen cache, CacheManager, GC heap growth); if pass walls are
  flat, the cross-round drift is external (host), not ours;
* within-pass POSITION effect — first-suite-quartile vs last-quartile
  mean wall per pass: a growing gap means per-query residue
  accumulates as a pass progresses (leaked cache entries, /tmp fill);
* JVM samples between every SAMPLE_EVERY queries: cumulative GC time,
  heap used, cached-RDD count (the CacheManager signal the SemDeDup
  unpersist fix should have flattened), /tmp usage, driver-python RSS.

Writes BENCH_profile.json at the repo root and prints one compact
JSON line.  Run ALONE on the host — any concurrent Spark session
contaminates exactly the constants being measured.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if HERE not in sys.path:
    sys.path.insert(0, HERE)

from etl_dados_ibge_sp_spark.registry import all_queries  # noqa: E402
from etl_dados_ibge_sp_spark.session import get_spark  # noqa: E402

SAMPLE_EVERY = 25
N_PASSES = 3


def jvm_sample(spark) -> dict:
    out: dict = {}
    try:
        jvm = spark.sparkContext._jvm
        mf = jvm.java.lang.management.ManagementFactory
        gc_ms = 0
        for b in mf.getGarbageCollectorMXBeans():
            gc_ms += b.getCollectionTime()
        out["gc_ms"] = int(gc_ms)
        heap = mf.getMemoryMXBean().getHeapMemoryUsage()
        out["heap_used_mb"] = int(heap.getUsed() / (1 << 20))
    except Exception as e:  # never fail the run for a sample
        out["jvm_err"] = str(e)[:80]
    try:
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        out["cached_rdds"] = len(infos)
    except Exception:
        out["cached_rdds"] = -1
    try:
        import shutil
        import tempfile
        du = shutil.disk_usage(tempfile.gettempdir())
        out["tmp_used_gb"] = round((du.total - du.free) / (1 << 30), 2)
    except Exception:
        pass
    try:
        with open("/proc/self/status") as fh:
            for line in fh:
                if line.startswith("VmRSS"):
                    out["py_rss_mb"] = int(line.split()[1]) // 1024
                    break
    except Exception:
        pass
    return out


def run_once(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def quartile_means(names: list[str], walls: dict[str, float]) -> list:
    """Mean wall of each suite-position quartile (sorted name order —
    the order the pass actually ran)."""
    q = max(1, len(names) // 4)
    return [round(sum(walls[n] for n in names[i * q:(i + 1) * q])
                  / q, 3) for i in range(4)]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="etl-ibge-bench-profile")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    names = sorted(queries)

    for t in ("lineitem", "orders", "customer", "supplier", "part",
              "nation", "region", "documents", "events", "embeddings"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet") \
            .write.mode("overwrite").format("noop").save()

    samples: list[dict] = []
    t_run0 = time.perf_counter()

    def sample(tag: str) -> None:
        s = jvm_sample(spark)
        s["at"] = tag
        s["run_sec"] = round(time.perf_counter() - t_run0, 1)
        samples.append(s)

    sample("start")
    for name in names:  # warm pass (same as bench.py)
        run_once(queries[name](spark, sf_dir))
    sample("after_warm")

    passes: list[dict[str, float]] = []
    for p in range(N_PASSES):
        walls: dict[str, float] = {}
        for i, name in enumerate(names):
            t0 = time.perf_counter()
            run_once(queries[name](spark, sf_dir))
            walls[name] = round(time.perf_counter() - t0, 3)
            if (i + 1) % SAMPLE_EVERY == 0:
                sample(f"pass{p + 1}_q{i + 1}")
        passes.append(walls)
        sample(f"end_pass{p + 1}")

    pass_totals = [round(sum(w.values()), 1) for w in passes]
    # Same-query pass-to-pass ratio distribution: median of
    # wall(pass3)/wall(pass1) per query — the session-aging signal.
    ratios = sorted(passes[-1][n] / passes[0][n]
                    for n in names if passes[0][n] > 0)
    full = {
        "metric": "profiled_suite",
        "sf": sf_dir,
        "n_queries": len(names),
        "pass_totals_sec": pass_totals,
        "quartile_means_per_pass": [quartile_means(names, w)
                                    for w in passes],
        "median_pass3_over_pass1": round(ratios[len(ratios) // 2], 3),
        "p90_pass3_over_pass1": round(ratios[int(len(ratios) * 0.9)], 3),
        "samples": samples,
        "per_pass_walls": passes,
    }
    with open(os.path.join(HERE, "BENCH_profile.json"), "w") as fh:
        json.dump(full, fh, indent=1, sort_keys=True)
        fh.write("\n")
    compact = {k: full[k] for k in
               ("metric", "pass_totals_sec", "median_pass3_over_pass1",
                "p90_pass3_over_pass1", "quartile_means_per_pass")}
    gc = [s.get("gc_ms") for s in samples
          if s["at"].startswith(("start", "after_warm", "end_pass"))]
    compact["gc_ms_checkpoints"] = gc
    compact["cached_rdds_end"] = samples[-1].get("cached_rdds")
    print(json.dumps(compact))


if __name__ == "__main__":
    main()

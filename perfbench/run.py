#!/usr/bin/env python3
"""Closed-loop benchmark of the engine's registered queries.

    python3 perfbench/run.py --workload olap_sf01 --seed 1 --seconds 10 \\
        --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

Run from the repository root.  One run, in one process:

1. generates the workload's inputs from ``--seed`` (cached per seed in
   ``.perfbench_cache/``; generation is logged, not counted as set-up);
2. set-up: imports the driver contract (``__spark_entry__``), builds the
   engine's session on ``local[<cpus>]`` and ships the package;
3. checks that every job of the workload is registered in ``queries()``
   and has an ``oracle_sql()`` entry, so a registry change cannot
   silently shrink a workload;
4. the first pass runs every job once in the fresh session, noop sink,
   one closed-loop client: codegen, Python worker start and every staged
   ``session_memo`` build are paid here and counted;
5. steady passes repeat until ``--seconds`` have passed; the seed fixes
   the job order inside every pass;
6. outside the timed passes, every job's output is compared with its
   DuckDB oracle on the same inputs, by the driver contract's compare
   (``oracle.py``): the frame each job returned in the last pass is
   collected, so eager work (streams, commits, memo builds) is not
   repeated for the check.

With ``--trace 0`` the last stdout line carries the end-to-end metrics.
A job's latency is the median of its steady executions; ``job_p50_s``
is the median of those latencies over the workload's jobs and
``slowest_job_s`` their maximum.  A run has only 1-5 steady passes of
4-5 jobs, too few executions for a pooled tail percentile, so the tail
is reported per job; the sample count goes to stderr.

With ``--trace 1`` the run traces the layers (see ``layers.py``) and
carries the per-layer metrics.  ``session.*`` counts the first pass,
where staged intermediates are built; every other layer metric is the
median per steady traced pass, and ``trace.overhead_s`` is the traced
minus the untraced median pass wall of the same run (steady passes run
untraced, traced, traced, untraced, ...).  Per-family ``*.job_s`` sum
the untraced steady walls of the jobs tagged with the module they
exercise.

Metric names and units are read from ``BENCHMARK.json``.  A readable
table of every metric goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import subprocess
import sys
import time

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache", f"uid{os.getuid()}")

sys.path.insert(0, HERE)
from workloads import WORKLOADS, unregistered  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    _BENCH = json.load(_fh)
END_TO_END = {m["name"]: m["unit"] for m in _BENCH["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _BENCH["per_layer"]}
FAMILIES = [k[:-len(".job_s")] for k in PER_LAYER if k.endswith(".job_s")]


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - T_START:6.1f} s] {msg}", file=sys.stderr,
          flush=True)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs so far.  Steal is time
    the hypervisor gave the vCPUs to other guests; it inflates every
    wall this benchmark takes, so each run logs its share."""
    with open("/proc/stat") as fh:
        ticks = [int(v) for v in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def isolate_temp() -> None:
    """Keep every file the engine, Spark and its workers write inside
    the checkout's cache dir."""
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ.setdefault("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0))))


def build_session():
    from etl_dados_ibge_sp_spark.session import get_spark, tune_for_oracle

    tmp = os.environ["TMPDIR"]
    spark = get_spark(app_name="perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
    })
    spark.sparkContext.setLogLevel("ERROR")
    tune_for_oracle(spark)
    return spark


def stop_session(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the launched JVM exits when stdin closes
        proc.wait(timeout=60)


def live_mem_mb(spark) -> float:
    """The driver JVM's heap after a full GC (persisted frames, broadcasts,
    cached plans) plus the Python driver's resident set, in MB."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean() \
        .getHeapMemoryUsage().getUsed() / 2**20
    with open("/proc/self/status") as fh:
        rss = next(int(line.split()[1]) for line in fh
                   if line.startswith("VmRSS:")) / 1024.0
    log(f"live memory: JVM heap {heap:.1f} MB, Python RSS {rss:.1f} MB")
    return heap + rss


class Runner:
    """Runs the passes of one workload and keeps their timings."""

    def __init__(self, spark, queries, jobs, sf_dir: str, seed: int):
        self.spark, self.queries, self.jobs = spark, queries, jobs
        self.sf_dir = sf_dir
        self.order_rng = random.Random(seed)
        self.attempted = self.failed = 0
        self.frames: dict = {}  # each job's frame from the latest pass

    def run_pass(self) -> dict:
        """One pass over every job in seeded order; returns the pass wall
        and per-job (build, action) seconds."""
        order = sorted(self.jobs)
        self.order_rng.shuffle(order)
        walls: dict[str, tuple[float, float]] = {}
        t0 = time.perf_counter()
        for name in order:
            self.attempted += 1
            try:
                tb = time.perf_counter()
                df = self.queries[name](self.spark, self.sf_dir)
                ta = time.perf_counter()
                df.write.mode("overwrite").format("noop").save()
                walls[name] = (ta - tb, time.perf_counter() - ta)
                self.frames[name] = df
            except Exception as exc:  # a failing job must not end the run
                self.failed += 1
                log(f"FAIL {name}: {type(exc).__name__}: {str(exc)[:300]}")
        return {"wall": time.perf_counter() - t0, "jobs": walls}


def group_walls(groups: dict[str, list[str]], passes: list[dict]) -> dict:
    """Median over ``passes`` of each group's summed job walls."""
    return {g: statistics.median(
        sum(sum(p["jobs"].get(n, ())) for n in names) for p in passes)
        for g, names in groups.items()}


def run_workload(args) -> dict:
    import datagen

    wl = WORKLOADS[args.workload]
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        raise SystemExit(f"no __spark_entry__.py under {ROOT}: run from "
                         f"the repository root")
    isolate_temp()
    sf_dir, gen_s = datagen.ensure_inputs(CACHE, wl.sf, args.seed)
    log(f"inputs: {sf_dir} (generated in {gen_s:.2f} s, not in setup_s)")

    sys.path.insert(0, ROOT)
    import __spark_entry__ as entry

    queries, oracles = entry.queries(), entry.oracle_sql()
    missing = unregistered(wl.jobs, queries, oracles)
    if missing:
        raise SystemExit(f"workload {args.workload}: {missing}")
    spark = build_session()
    if not datagen.complete(sf_dir, wl.sf):
        raise SystemExit(f"inputs missing under {sf_dir}")
    t_ready = time.perf_counter()
    setup_s = t_ready - T_START - gen_s

    steal0, total0 = cpu_ticks()
    runner = Runner(spark, queries, wl.jobs, sf_dir, args.seed)
    tracer = None
    if args.trace:
        from layers import Tracer
        tracer = Tracer(spark)
        tracer.install()
    first = runner.run_pass()
    log("first pass: " + " ".join(f"{n}={sum(w):.2f}"
                                  for n, w in first["jobs"].items()))
    first_layers = {}
    if tracer:
        first_layers = tracer.take()
        tracer.uninstall()

    steady, traced, traced_layers = [], [], []
    deadline = time.perf_counter() + args.seconds
    for i in range(10**6):
        # Traced runs alternate untraced and traced passes in ABBA blocks,
        # so warm-up still under way in the first steady pass does not
        # bias the tracing overhead.
        on = bool(tracer) and i % 4 in (1, 2)
        if on:
            tracer.install()
            tracer.mark()
        p = runner.run_pass()
        if on:
            layers = tracer.take()
            layers.update(tracer.spark_counts())
            tracer.uninstall()
            traced.append(p)
            traced_layers.append(layers)
        else:
            steady.append(p)
        if time.perf_counter() >= deadline and (not tracer or i % 4 == 3):
            break

    live_mem = live_mem_mb(spark)
    steal1, total1 = cpu_ticks()
    log(f"{len(steady)} steady passes done; host CPU steal during the "
        f"passes: {100 * (steal1 - steal0) / max(total1 - total0, 1):.1f}%")

    import oracle
    checks = oracle.verify(ROOT, runner.frames, oracles, wl.jobs, sf_dir)
    stop_session(spark)
    log("session stopped")
    runner.attempted += len(checks)
    bad = [c for c in checks if c["status"] in ("mismatch", "error")]
    runner.failed += len(bad)
    for c in checks:
        log(f"verify {c['job']}: {c['status']} ({c['detail']})")

    samples = sum(len(p["jobs"]) for p in steady)
    job_lat = group_walls({n: [n] for n in sorted(wl.jobs)}, steady)
    log("steady median: " + " ".join(
        f"{n}={w:.2f}" for n, w in job_lat.items()))
    if args.trace:
        per_pass = {k: statistics.median(
            float(lay.get(k, 0.0)) for lay in traced_layers)
            for k in PER_LAYER if not k.startswith("session.")}
        metrics = {**per_pass,
                   **{k: first_layers.get(k, 0.0) for k in PER_LAYER
                      if k.startswith("session.")}}
        metrics["registry.first_build_s"] = sum(
            b for b, _ in first["jobs"].values())
        metrics["registry.build_s"] = statistics.median(
            sum(b for b, _ in p["jobs"].values()) for p in steady)
        metrics["registry.action_s"] = statistics.median(
            sum(a for _, a in p["jobs"].values()) for p in steady)
        metrics.update(group_walls(
            {f"{fam}.job_s": [n for n, f in wl.jobs.items() if f == fam]
             for fam in FAMILIES}, steady))
        metrics["trace.overhead_s"] = (
            statistics.median(p["wall"] for p in traced)
            - statistics.median(p["wall"] for p in steady))
        units = PER_LAYER
        log(f"memo by key prefix (builds, hits, build_s): "
            f"{first_layers.get('session.by_prefix')}")
    else:
        metrics = {
            "setup_s": setup_s,
            "first_pass_s": first["wall"],
            "pass_s": statistics.median(p["wall"] for p in steady),
            "job_p50_s": statistics.median(job_lat.values()),
            "slowest_job_s": max(job_lat.values()),
            "live_mem_mb": live_mem,
        }
        units = END_TO_END
    log(f"workload {args.workload}: seed {args.seed}, {len(wl.jobs)} jobs, "
        f"{len(steady)} steady passes, {samples} job samples, "
        f"failed {runner.failed}/{runner.attempted}")
    for k, v in metrics.items():
        log(f"  {k:36s} {v:14.4f} {units[k]}")
    return {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }


def run_all(args) -> int:
    """Every workload, untraced then traced, each in its own process."""
    rc = 0
    for name in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__),
                   "--workload", name, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(trace)]
            log(f"== {name} trace={trace}")
            rc |= subprocess.run(cmd, cwd=ROOT).returncode
    return rc


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "all":
        return run_all(args)
    print(json.dumps(run_workload(args)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

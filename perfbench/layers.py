"""Layer tracing from outside the engine.

``Tracer`` times the engine's layers without changing its code:

* it wraps public functions (``session.session_memo``,
  ``parquet_source.load_table`` and the versioned-table commits) and
  patches every module attribute that names the original, because many
  modules import these functions by name at module level;
* it registers a ``StreamingQueryListener`` for micro-batch progress;
* it reads Spark's status tracker and the UI's REST ``/stages`` and
  ``/sql`` endpoints for the stages and SQL executions a pass ran.

Counters accumulate into ``Tracer.counts`` while installed; ``take()``
returns and clears them.  Each wrapper records a span on a per-thread
stack, so a nested call (``merge_version`` commits through
``write_version``; a staged build loads its tables) is charged once,
to the outermost span, and a build's time is its self time.
"""

from __future__ import annotations

import json
import os
import re
import sys
import threading
import time
import urllib.request
from collections import defaultdict
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

PKG = "etl_dados_ibge_sp_spark"
COMMIT_FUNCS = ("write_version", "append_version", "merge_version",
                "delete_where")
PYTHON_NODE = re.compile(r"Python|Pandas|Arrow")
UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
MB = 1 << 20


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def _metric_total(value: str) -> float:
    """Total of a Spark SQL UI metric string, in bytes or seconds.

    Values read either ``"12"`` or ``"total (min, med, max ...)\\n1.2 MiB
    (...)"``; the first number-with-unit after the header is the total.
    """
    m = re.search(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB|ms|s|m|h)\b",
                  value.split("\n")[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * UNITS[m.group(2)]


def _iso(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class _StreamListener(StreamingQueryListener):
    """Counts queries and micro-batches.  ``startup_s`` runs from a
    query's start event to the trigger start of its first progress
    event; ``trigger_s`` sums every batch's trigger execution."""

    def __init__(self, tracer: "Tracer") -> None:
        self.tracer = tracer
        self.started: dict[str, float] = {}
        self.open = 0

    def onQueryStarted(self, event) -> None:
        self.started[str(event.id)] = _iso(event.timestamp)
        self.open += 1
        self.tracer._add(streaming__queries=1)

    def onQueryProgress(self, event) -> None:
        p = event.progress
        t0 = self.started.pop(str(p.id), None)
        self.tracer._add(
            streaming__batches=1,
            streaming__trigger_s=p.durationMs.get("triggerExecution", 0) / 1e3,
            streaming__startup_s=0.0 if t0 is None
            else max(_iso(p.timestamp) - t0, 0.0))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        self.started.pop(str(event.id), None)
        self.open -= 1


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.counts: dict[str, float] = defaultdict(float)
        self.memo_by_prefix: dict[str, list[float]] = defaultdict(
            lambda: [0, 0, 0.0])
        self.table_bytes: dict[str, int] = {}
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self._listener = _StreamListener(self)
        sc = spark.sparkContext
        self._rest = (f"{sc.uiWebUrl}/api/v1/applications/"
                      f"{sc.applicationId}")
        self._last_job = self._last_stage = self._last_sql = -1
        self._sql_seen = 0

    # -- spans ----------------------------------------------------------
    def _span(self, name: str, fn):
        """Run ``fn`` as a span; returns (result, elapsed, self time,
        whether no enclosing span has the same name)."""
        stack = self._local.__dict__.setdefault("stack", [])
        outermost = all(n != name for n, _ in stack)
        stack.append([name, 0.0])
        t0 = time.perf_counter()
        try:
            out = fn()
        finally:
            dt = time.perf_counter() - t0
            _, child = stack.pop()
            if stack:
                stack[-1][1] += dt
        return out, dt, dt - child, outermost

    def _add(self, **kv: float) -> None:
        with self._lock:
            for k, v in kv.items():
                self.counts[k.replace("__", ".")] += v

    # -- wrappers -------------------------------------------------------
    def _wrap_memo(self, orig):
        def session_memo(spark, key, build):
            prefix = key.split(":", 1)[0]
            built = []

            def timed_build():
                out, _, self_s, _ = self._span("memo", build)
                built.append(self_s)
                return out

            out = orig(spark, key, timed_build)
            with self._lock:
                rec = self.memo_by_prefix[prefix]
                if built:
                    rec[0] += 1
                    rec[2] += built[0]
                else:
                    rec[1] += 1
            return out
        return session_memo

    def _wrap_load_table(self, orig):
        def load_table(*a, **kw):
            out, dt, _, _ = self._span("load_table", lambda: orig(*a, **kw))
            self._add(sources__load_table_calls=1, sources__load_table_s=dt)
            return out
        return load_table

    def _wrap_commit(self, orig):
        def commit(*a, **kw):
            table_dir = kw.get("table_dir", a[1] if len(a) > 1 else None)
            before = _dir_bytes(table_dir) if table_dir else 0
            out, dt, _, outer = self._span("commit", lambda: orig(*a, **kw))
            if outer and table_dir:
                after = _dir_bytes(table_dir)
                with self._lock:
                    self.table_bytes[table_dir] = after
                self._add(sinks__versioned__commits=1,
                          sinks__versioned__commit_s=dt,
                          sinks__versioned__bytes_written=max(after - before,
                                                              0))
            return out
        commit.__name__ = orig.__name__
        return commit

    def install(self) -> None:
        from etl_dados_ibge_sp_spark import session
        from etl_dados_ibge_sp_spark.sinks import versioned
        from etl_dados_ibge_sp_spark.sources import parquet_source

        wraps = [(session.session_memo, self._wrap_memo),
                 (parquet_source.load_table, self._wrap_load_table)]
        wraps += [(getattr(versioned, n), self._wrap_commit)
                  for n in COMMIT_FUNCS]
        targets = {id(orig): (orig, wrap(orig)) for orig, wrap in wraps}
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (modname.startswith(PKG)
                                   or modname == "__spark_entry__"):
                continue
            for attr, value in list(vars(mod).items()):
                hit = targets.get(id(value))
                if hit and hit[0] is value:
                    setattr(mod, attr, hit[1])
                    self._patched.append((mod, attr, value))
        self.spark.streams.addListener(self._listener)

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._patched):
            setattr(mod, attr, orig)
        self._patched.clear()
        self.wait_streams()
        self.spark.streams.removeListener(self._listener)

    def wait_streams(self, timeout: float = 5.0) -> None:
        """Listener events arrive asynchronously: wait for every started
        query's termination event."""
        end = time.monotonic() + timeout
        while self._listener.open > 0 and time.monotonic() < end:
            time.sleep(0.05)

    # -- Spark's own monitoring -----------------------------------------
    def _get(self, path: str):
        with urllib.request.urlopen(self._rest + path, timeout=30) as r:
            return json.load(r)

    def mark(self) -> None:
        """Remember the newest job, stage and SQL execution ids, so the
        next ``spark_counts`` covers only what ran after this call."""
        self._settle()
        jobs = self.spark.sparkContext.statusTracker().getJobIdsForGroup()
        self._last_job = max(jobs, default=-1)
        self._last_stage = max((s["stageId"] for s in self._get("/stages")),
                               default=-1)
        execs = self._get(f"/sql?details=false&offset={self._sql_seen}"
                          f"&length=100000")
        self._sql_seen += len(execs)

    def _settle(self, timeout: float = 10.0) -> None:
        tracker = self.spark.sparkContext.statusTracker()
        end = time.monotonic() + timeout
        while tracker.getActiveStageIds() and time.monotonic() < end:
            time.sleep(0.05)
        time.sleep(0.25)  # the REST store trails the listener bus

    def spark_counts(self) -> dict[str, float]:
        self._settle()
        jobs = self.spark.sparkContext.statusTracker().getJobIdsForGroup()
        c: dict[str, float] = defaultdict(float)
        c["spark.jobs"] = sum(1 for j in jobs if j > self._last_job)
        for s in self._get("/stages"):
            if s["stageId"] <= self._last_stage or s["status"] == "SKIPPED":
                continue
            c["spark.stages"] += 1
            c["spark.tasks"] += s.get("numCompleteTasks", 0)
            c["spark.executor_run_s"] += s.get("executorRunTime", 0) / 1e3
            c["spark.executor_cpu_s"] += s.get("executorCpuTime", 0) / 1e9
            c["spark.gc_s"] += s.get("jvmGcTime", 0) / 1e3
            c["spark.input_mb"] += s.get("inputBytes", 0) / MB
            c["spark.shuffle_write_mb"] += s.get("shuffleWriteBytes", 0) / MB
            c["spark.shuffle_read_mb"] += s.get("shuffleReadBytes", 0) / MB
            c["spark.spill_mb"] += (s.get("memoryBytesSpilled", 0)
                                    + s.get("diskBytesSpilled", 0)) / MB
        execs = self._get(f"/sql?details=true&planDescription=false"
                          f"&offset={self._sql_seen}&length=100000")
        self._sql_seen += len(execs)
        for e in execs:
            for node in e.get("nodes", []):
                metrics = node.get("metrics", [])
                c["spark.python_nodes"] += bool(
                    PYTHON_NODE.search(node.get("nodeName", ""))
                    or any("Python" in m["name"] for m in metrics))
                for m in metrics:
                    if m["name"] == "scan time":
                        c["spark.scan_s"] += _metric_total(m["value"])
                    elif m["name"] == "data sent to Python workers":
                        c["spark.python_sent_mb"] += \
                            _metric_total(m["value"]) / MB
        return dict(c)

    def take(self) -> dict[str, float]:
        """Return the layer counters gathered since the last call, then
        clear them."""
        self.wait_streams()
        with self._lock:
            out = dict(self.counts)
            out["sinks.versioned.table_bytes"] = float(
                sum(self.table_bytes.values()))
            self.table_bytes.clear()
            memo = {p: list(v) for p, v in self.memo_by_prefix.items()}
            self.counts.clear()
            self.memo_by_prefix.clear()
        staged = [v for p, v in memo.items()
                  if p not in ("load_table", "tune_for_oracle")]
        out["session.memo_builds"] = float(sum(v[0] for v in staged))
        out["session.memo_hits"] = float(sum(v[1] for v in staged))
        out["session.memo_build_s"] = sum(v[2] for v in staged)
        out["session.load_table_memo_builds"] = float(
            memo.get("load_table", [0])[0])
        out["session.by_prefix"] = memo
        return out

#!/usr/bin/env python
"""Parameterized scale-curve runner — the ONE tool for generated-scale
measurements (replaces scale_curve_r9.py / scale_curve_sf10.py /
scale_curve_r10.py, which each hard-coded one round's question).

Methodology (shared by every curve row since round 8, so new rows stay
like-for-like with the ledger in BENCH_sf1.json / SCALE.md):

* data from the shape-preserving generator (tools/make_scale_data.py:
  key-offset replication keeps joins referential and per-key fanout
  constant; per-copy token bijections decorrelate cross-copy shingles;
  signed coordinate permutations preserve cosine geometry);
* warm pass + min-of-N timed passes (default N=2 — at generated-scale
  walls host noise is proportionally small and the run must fit a
  round), noop sink, local[32], default 8g driver heap (comparability
  with every earlier curve run);
* one FRESH session per scale so shuffle residue and session memos
  reset identically at each decade;
* a query that hits a measured scale boundary records a DNF
  ``{"error": ..., "completed_passes": n}`` instead of killing the
  run — a DNF at a scale point is evidence (the single-box boundary),
  not a tool failure.  DNF records and timing records share ONE shape:
  both live at the query's top level, never nested under "sec";
* after each query the session is probed; a driver-fatal OOM kills the
  JVM, so everything still queued in that session would fail with
  connection errors.  The probe replaces a dead session — and if even
  the REPLACEMENT fails (py4j gateway gone with the JVM), the
  remaining queries in that scale are recorded as unrecoverable-DNFs
  rather than crashing the pass;
* known boundary queries (--boundary-last) run LAST within each scale
  so their fatal mode cannot poison earlier measurements.

Run ALONE (one Spark session on the host); merge the printed JSON into
BENCH_sf1.json / SCALE.md by hand — scale runs are evidence artifacts,
not CI.

Usage examples:
  python tools/scale_curve.py --scales 1.0 3.0 --queries dedup_minhash_lsh
  python tools/scale_curve.py --scales 1.0 3.0 10.0 \
      --queries fuzzy_join_names_k2 bloom_filter_join corpus_curate \
      --extras leakage --extras-at-max kmeans \
      --boundary-last corpus_curate
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if HERE not in sys.path:
    sys.path.insert(0, HERE)

from pyspark.sql import functions as F  # noqa: E402

from etl_dados_ibge_sp_spark.session import get_spark  # noqa: E402
from etl_dados_ibge_sp_spark.workdirs import work_root  # noqa: E402


# ---------------------------------------------------------------------------
# Timing primitives
# ---------------------------------------------------------------------------

def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _min_of(fn, spark, sf_dir, n_passes: int) -> dict:
    """warm + min-of-N → ``{"sec": t}``, or a same-level DNF record
    ``{"error": ..., "completed_passes": n}`` — one shape for every
    consumer (the old r10 tool nested errors under "sec" for some
    queries and not others; ADVICE r10 flagged the inconsistency)."""
    samples: list[float] = []
    try:
        for _ in range(1 + n_passes):  # first is the warm pass
            t0 = time.monotonic()
            _noop(fn(spark, sf_dir))
            samples.append(time.monotonic() - t0)
    except Exception as exc:  # noqa: BLE001
        return {"error": _exc_summary(exc),
                "completed_passes": len(samples)}
    return {"sec": round(min(samples[1:]), 3)}


def _exc_summary(exc: Exception) -> str:
    """First line of the message PLUS the root-cause line: py4j
    errors open with a generic 'An error occurred while calling …'
    and bury the actual OutOfMemoryError / ENOSPC lines below — a DNF
    record that omits the failure MODE is not evidence."""
    lines = [ln.strip() for ln in str(exc).split("\n") if ln.strip()]
    head = lines[0][:200] if lines else repr(exc)[:200]
    cause = next(
        (ln for ln in lines[1:]
         if any(k in ln for k in (
             "Error", "Exception", "No space left", "ENOSPC"))
         and "An error occurred" not in ln),
        None)
    return head if cause is None else f"{head} | cause: {cause[:250]}"


class _Session:
    """Session holder with OOM recovery.  ``alive()`` probes after each
    measurement; if the driver JVM died, it tries ONE fresh session —
    and if even that fails (the py4j gateway dies with the JVM, so
    ``getOrCreate`` can raise connection errors rather than recover),
    marks the holder dead so the caller records the remaining queries
    as DNFs instead of crashing the pass."""

    def __init__(self) -> None:
        self.spark = None
        self.dead_reason: str | None = None
        self._ensure()

    def _ensure(self) -> None:
        self.spark = get_spark()
        self.spark.sparkContext.setLogLevel("ERROR")

    def alive(self) -> bool:
        if self.dead_reason:
            return False
        try:
            self.spark.sql("SELECT 1").collect()
            return True
        except Exception:  # noqa: BLE001
            try:
                self.spark.stop()
            except Exception:  # noqa: BLE001
                pass
            try:
                self._ensure()
                self.spark.sql("SELECT 1").collect()
                return True
            except Exception as exc:  # noqa: BLE001
                self.dead_reason = ("session unrecoverable: "
                                    + str(exc).split("\n")[0][:200])
                return False

    def stop(self) -> None:
        try:
            from pyspark.sql import SparkSession
            active = SparkSession.getActiveSession()
            (active or self.spark).stop()
        except Exception:  # noqa: BLE001
            pass


# ---------------------------------------------------------------------------
# Extra (non-registered) measurements — corpus builders shared by the
# round-8/9/10 curve rows, kept verbatim so re-runs stay comparable.
# ---------------------------------------------------------------------------

def _semdedup_corpus(spark, sf_dir):
    from etl_dados_ibge_sp_spark.queries._shared import planted_clusters
    from etl_dados_ibge_sp_spark.sources.parquet_source import load_table
    pl = planted_clusters(load_table(spark, sf_dir, "embeddings"))
    copies = pl.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.1).alias("embedding"))
    return pl.unionByName(copies)


def _neardup_corpus(spark, sf_dir):
    from etl_dados_ibge_sp_spark.sources.parquet_source import load_table
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select("vec_id",
                      F.col("embedding").cast("array<double>")
                       .alias("embedding"))
    planted = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(F.col("embedding").cast("array<double>"),
                    lambda x: x * 1.1).alias("embedding"))
    return base.unionByName(planted)


def _extra_leakage(sess: _Session, sf_dir: str, n_passes: int) -> dict:
    """Exact inverted-index vs LSH-banded candidate discovery for the
    cross-split leakage report (the r10 100 TB-substitution claim)."""
    from etl_dados_ibge_sp_spark.queries._shared import leakage_pairs
    out = {}
    for strat in ("inverted", "lsh"):
        out[f"leakage_pairs_{strat}"] = _min_of(
            lambda sp, d, s=strat: leakage_pairs(sp, d, candidates=s),
            sess.spark, sf_dir, n_passes)
    return out


def _extra_semdedup(sess: _Session, sf_dir: str, n_passes: int) -> dict:
    """semantic_dedup at auto-k: fit once (reported separately — the
    ingest-time cost the registered query memoizes), dedup min-of-N."""
    from etl_dados_ibge_sp_spark.operators.similarity import (
        auto_semdedup_k, kmeans_fit, semantic_dedup)
    corpus = _semdedup_corpus(sess.spark, sf_dir)
    k = auto_semdedup_k(corpus)
    t0 = time.monotonic()
    cents = kmeans_fit(corpus, k=k, n_iter=3)
    fit_sec = round(time.monotonic() - t0, 3)
    rec = _min_of(lambda sp, d: semantic_dedup(
        corpus, threshold=0.9999, k=k, centroids=cents),
        sess.spark, sf_dir, n_passes)
    return {"semantic_dedup_auto_k": {"k": k, "fit_sec": fit_sec, **rec}}


def _extra_neardup(sess: _Session, sf_dir: str, n_passes: int) -> dict:
    """embed_near_dup_pairs at auto n_bits (recomputed inside every
    timed pass — the one cheap count() IS part of the auto path)."""
    from etl_dados_ibge_sp_spark.operators.similarity import (
        auto_sign_bits, embed_near_dup_pairs)
    nd = _neardup_corpus(sess.spark, sf_dir)
    rec = _min_of(lambda sp, d: embed_near_dup_pairs(
        nd, threshold=0.9, n_bits="auto"), sess.spark, sf_dir, n_passes)
    return {"dedup_embed_neardup_auto_bits":
            {"n_bits": auto_sign_bits(nd), **rec}}


def _extra_kmeans(sess: _Session, sf_dir: str, n_passes: int) -> dict:
    """Full vs sampled k-means fit at auto-k — the regime-boundary
    evidence (sample pays off once the corpus scan term dominates the
    fixed k*d codegen overhead)."""
    from etl_dados_ibge_sp_spark.operators.similarity import (
        auto_semdedup_k, kmeans_fit, kmeans_fit_sampled)
    try:
        corpus = _semdedup_corpus(sess.spark, sf_dir)
        k = auto_semdedup_k(corpus)
        t0 = time.monotonic()
        full = kmeans_fit(corpus, k=k, n_iter=3)
        full_sec = round(time.monotonic() - t0, 3)
        t0 = time.monotonic()
        sampled = kmeans_fit_sampled(corpus, k=k, n_iter=3)
        sampled_sec = round(time.monotonic() - t0, 3)
        rec = {"k": k, "full_fit_sec": full_sec,
               "sampled_fit_sec": sampled_sec,
               "speedup": round(full_sec / max(sampled_sec, 1e-9), 2),
               "centroid_sets_equal_len": len(full) == len(sampled)}
    except Exception as exc:  # noqa: BLE001
        rec = {"error": str(exc).split("\n")[0][:300]}
    return {"kmeans_full_vs_sampled": rec}


EXTRAS = {"leakage": _extra_leakage, "semdedup": _extra_semdedup,
          "neardup": _extra_neardup, "kmeans": _extra_kmeans}


# ---------------------------------------------------------------------------
# Per-scale measurement loop
# ---------------------------------------------------------------------------

def measure(sess: _Session, sf_dir: str, queries: list[str],
            extras: list[str], n_passes: int) -> dict:
    from etl_dados_ibge_sp_spark.registry import all_queries
    out: dict = {}
    qs = all_queries()
    tag = os.path.basename(sf_dir)

    def emit(name: str, rec) -> None:
        out[name] = rec
        print(json.dumps({tag: {name: rec}}), flush=True)

    # Extras first (they are never the fatal-boundary queries), then
    # registered queries with --boundary-last ones at the end.
    work: list[tuple[str, object]] = (
        [(x, EXTRAS[x]) for x in extras]
        + [(n, qs[n]) for n in queries])
    for name, item in work:
        if not sess.alive():
            emit(name, {"error": sess.dead_reason})
            continue
        if name in EXTRAS:
            for k, rec in item(sess, sf_dir, n_passes).items():
                emit(k, rec)
        else:
            emit(name, _min_of(item, sess.spark, sf_dir, n_passes))
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--scales", nargs="+", default=["1.0", "3.0"],
                    help="generated scale factors (sfN dirs under the "
                         "work root); '0.1' means the driver testdata")
    ap.add_argument("--queries", nargs="+", default=[],
                    help="registered query names (all_queries_with_"
                         "pending resolution)")
    ap.add_argument("--extras", nargs="+", default=[],
                    choices=sorted(EXTRAS),
                    help="named non-registered measurements at EVERY "
                         "scale")
    ap.add_argument("--extras-at-max", nargs="+", default=[],
                    choices=sorted(EXTRAS),
                    help="named measurements at the LARGEST scale only"
                         " (e.g. the kmeans regime-boundary probe)")
    ap.add_argument("--boundary-last", nargs="+", default=[],
                    help="queries with a known fatal scale boundary — "
                         "reordered to run last within each scale")
    ap.add_argument("--passes", type=int, default=2,
                    help="timed passes after the warm pass (min taken)")
    args = ap.parse_args()

    ordered = ([q for q in args.queries if q not in args.boundary_last]
               + [q for q in args.queries if q in args.boundary_last])
    max_scale = max(args.scales, key=float)

    root = work_root()
    result = {"metric": "scale_curve",
              "tool": "tools/scale_curve.py",
              "queries": ordered, "extras": args.extras,
              "extras_at_max": args.extras_at_max,
              "passes": args.passes,
              "method": ("warm + min-of-%d, noop sink, local[32], "
                         "default 8g heap; one FRESH session per "
                         "scale; DNFs recorded as {error} at the same "
                         "level as {sec}; boundary queries last; dead "
                         "sessions replaced once then marked "
                         "unrecoverable" % args.passes),
              "scales": {}}
    for sf in args.scales:
        d = ("/root/testdata/sf0.1" if sf == "0.1"
             else os.path.join(root, f"sf{sf}"))
        if not os.path.isdir(d):
            print(f"skip sf{sf}: {d} missing", file=sys.stderr)
            continue
        extras = list(args.extras)
        if sf == max_scale:
            extras += [x for x in args.extras_at_max if x not in extras]
        sess = _Session()
        result["scales"][sf] = measure(sess, d, ordered, extras,
                                       args.passes)
        sess.stop()
    print(json.dumps(result))


if __name__ == "__main__":
    main()

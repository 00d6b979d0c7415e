"""Seeded generator for the benchmark's input tables.

Writes the ten tables the engine's queries read (the TPC-H-like star
schema plus ``events``, ``documents`` and ``embeddings``) as one parquet
file each, with the schemas, parquet types and value shapes of the
engine's sf0.01/sf0.1 driver test data: 0-based dense keys, uniform
measures and categories, dates at midnight, ``events.ts`` as a sorted
microsecond TIMESTAMP over 30 days, documents of 10-99 tokens from a
30-word vocabulary where ~5% are an earlier text plus the token ``dup``
(chains of these form 2-4 document near-duplicate groups; two copies of
one text are the only exact duplicates), and unit-norm 64-d embeddings
with 10 labels.  Row counts scale linearly with ``sf``; the same
(sf, seed) always gives the same bytes.

Generated sets are cached under the caller's cache root, keyed by
(sf, seed) and a digest of this file, and reused when every table's row
count matches.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["red", "new", "hot", "small", "cold", "large", "blue", "old"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
EMB_DIM = 64
MAX_KEEP = 6  # cached (sf, seed) sets kept per cache root


def row_counts(sf: float) -> dict[str, int]:
    return {
        "region": 5, "nation": 25,
        "customer": round(150_000 * sf), "supplier": round(10_000 * sf),
        "part": round(200_000 * sf), "orders": round(1_500_000 * sf),
        "lineitem": round(6_000_000 * sf), "events": round(1_000_000 * sf),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _pick(rng, choices, n, p=None) -> pa.Array:
    return pa.array(np.array(choices)[rng.choice(len(choices), n, p=p)])


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, span_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    days = rng.integers(0, span_days + 1, n).astype("timedelta64[D]")
    return pa.array(base + days, pa.timestamp("us"))


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in range(n)])


def _documents(rng, n: int) -> pa.Table:
    words = np.array(WORDS)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:      # near duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(words[rng.integers(0, len(words), k)]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(0.0, 0.6, (10, EMB_DIM))
    vecs = rng.normal(0.0, 1.0, (n, EMB_DIM)) + centroids[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM), pa.int32()),
            flat),
        "label": pa.array(labels, pa.int32()),
    })


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    n = row_counts(sf)
    rng = np.random.default_rng([seed, int(sf * 1000)])
    nc, ns, np_, no, nl, ne = (n["customer"], n["supplier"], n["part"],
                               n["orders"], n["lineitem"], n["events"])
    out = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": _names("Customer", nc),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": _pick(rng, SEGMENTS, nc),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": _names("Supplier", ns),
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(np_), pa.int64()),
            "p_name": pa.array([f"{a} {b}" for a, b in zip(
                rng.choice(PART_ADJ, np_), rng.choice(PART_NOUN, np_))]),
            "p_brand": pa.array([f"Brand#{b}" for b in
                                 rng.integers(1, 26, np_)]),
            "p_type": _pick(rng, PART_TYPES, np_),
            "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(np_) % 1000) / 10, 1),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
            "o_orderdate": _days(rng, "1995-01-01", 2404, no),
            "o_orderpriority": _pick(rng, PRIORITIES, no),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": _pick(rng, ["F", "O"], nl),
            "l_shipdate": _days(rng, "1995-01-02", 2498, nl),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + np.sort(
                rng.integers(0, 30 * 86_400_000_000, ne)).astype(
                    "timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(nc // 10, 1), ne),
                                pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in
                               rng.integers(0, 100, ne)]),
        }),
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }
    return out


def complete(path: str, sf: float) -> bool:
    want = row_counts(sf)
    try:
        return all(pq.read_metadata(os.path.join(path, f"{t}.parquet"))
                   .num_rows == want[t] for t in TABLES)
    except (OSError, pa.ArrowInvalid):
        return False


def ensure_inputs(cache_root: str, sf: float, seed: int) -> tuple[str, float]:
    """Directory holding the (sf, seed) input set, and the seconds spent
    generating it (0.0 when a complete cached set was reused)."""
    with open(__file__, "rb") as fh:
        version = hashlib.sha1(fh.read()).hexdigest()[:8]
    path = os.path.join(cache_root, f"sf{sf}-seed{seed}-{version}")
    if complete(path, sf):
        os.utime(path)
        return path, 0.0
    t0 = time.perf_counter()
    shutil.rmtree(path, ignore_errors=True)
    tmp = path + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build_tables(sf, seed).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.replace(tmp, path)
    _evict_old(cache_root)
    return path, time.perf_counter() - t0


def _evict_old(cache_root: str) -> None:
    sets = sorted((os.path.getmtime(os.path.join(cache_root, d)), d)
                  for d in os.listdir(cache_root) if d.startswith("sf")
                  and not d.endswith(".partial"))
    for _, d in sets[:-MAX_KEEP]:
        shutil.rmtree(os.path.join(cache_root, d), ignore_errors=True)

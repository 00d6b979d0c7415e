"""Aggregation operators (SURVEY §2.7 A1-A4 + the standard agg surface).

Two design points:

* **Deterministic floating-point sums.**  Distributed double summation
  is order-dependent; to make results reproducible across partition
  counts (and bit-comparable against DuckDB oracles) the helpers
  ``dsum``/``davg`` accumulate in DECIMAL and cast the final value back
  to double.  Decimal aggregation is exact and associative, so the
  answer is independent of parallelism — the right default for a
  1000-executor cluster, and barely slower than double sums under
  whole-stage codegen.
* **Rollup/cube** produce the reference's dataset shape natively
  (SURVEY §1.4: NULL-marked subtotal levels); ``grouping()`` columns
  distinguish subtotal-NULL from data-NULL.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

# Wide enough for sums over ~1e12 rows of 1e6-magnitude values.
_ACC = DecimalType(32, 6)


def dsum(col: Column | str) -> Column:
    """Order-independent sum of a double column (decimal-accumulated),
    returned as double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(_ACC)).cast("double")


def davg(col: Column | str) -> Column:
    """Order-independent mean of a double column, returned as double."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(c.cast(_ACC)).cast("double") /
            F.count(F.when(c.isNotNull(), F.lit(1))))


def distinct_keys(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """A1 — multi-column DISTINCT (map-side partial dedup then a keys-
    only shuffle; at 100 TB this is how the warehouse snapshot stays
    cheap)."""
    return df.select(*keys).distinct()


def _grouping_level(cols: Sequence[str]) -> Column:
    """Explicit grouping-level id: bit i set when cols[i] is rolled up.
    Computed from ``grouping()`` per column (identical semantics in
    Spark and ANSI SQL engines, unlike engine-specific grouping_id
    bit orders)."""
    out = F.lit(0)
    for c in cols:
        out = out * 2 + F.grouping(c)
    return out.cast("int")


def rollup_agg(df: DataFrame, dims: Sequence[str],
               aggs: Sequence[Column]) -> DataFrame:
    """A4 — GROUP BY ROLLUP over the dim hierarchy with a level tag
    (the §1.4 dataset shape)."""
    return (
        df.rollup(*dims)
        .agg(_grouping_level(dims).alias("grp_level"), *aggs)
    )


def cube_agg(df: DataFrame, dims: Sequence[str],
             aggs: Sequence[Column]) -> DataFrame:
    """GROUP BY CUBE with a level tag."""
    return (
        df.cube(*dims)
        .agg(_grouping_level(dims).alias("grp_level"), *aggs)
    )


def grouping_sets_agg(df: DataFrame, sets: Sequence[Sequence[str]],
                      dims: Sequence[str],
                      aggs: Sequence[Column]) -> DataFrame:
    """GROUP BY GROUPING SETS — the general form of rollup/cube: only
    the requested levels are computed (a rollup at 100 TB that needs 3
    of 8 levels shouldn't pay for the other 5)."""
    return (
        df.groupingSets([[F.col(c) for c in s] for s in sets], *dims)
        .agg(_grouping_level(dims).alias("grp_level"), *aggs)
    )


def approx_percentiles(df: DataFrame, group_cols: Sequence[str],
                       value_col: str,
                       percentiles: Sequence[float],
                       accuracy: int = 10_000) -> DataFrame:
    """The 100-TB percentile path: ``approx_percentile`` sketches.

    Exact ``percentile`` shuffles every value to its group's reducer
    and sorts; the sketch is map-side combinable — each task condenses
    its partition into a bounded-size summary (error <= 1/accuracy in
    rank), so the exchange carries KBs per group no matter how many
    rows feed it.  This is the switch the exact operator's docstring
    prescribes (``queries.analytics.q_value_percentiles``); keep the exact
    form for oracle-checkable correctness at test scale.

    Output columns: ``p<pct*100:g>`` per requested percentile
    (p50, p90, p99, ...), matching the exact operator's naming.
    """
    arr = F.percentile_approx(
        value_col, [float(p) for p in percentiles], accuracy)
    out = df.groupBy(*group_cols).agg(arr.alias("__ps"))
    return out.select(
        *group_cols,
        *[F.element_at("__ps", i + 1).alias(f"p{p * 100:g}")
          for i, p in enumerate(percentiles)])


def heavy_hitters_exact(items: DataFrame, col: str, k: int) -> DataFrame:
    """Exact phi = 1/k heavy hitters WITHOUT a full-vocabulary shuffle.

    Two passes:

    1. **Candidate generation** — per Arrow batch, keep the items whose
       LOCAL count clears the local quota (``count_b * k > n_b``).  By
       the averaging argument an item with global count > n/k must
       clear the quota in at least one batch (if it missed every local
       quota, summing gives global count <= n/k), so the union of
       per-batch candidates is a PROVABLE superset of the true heavy
       hitters — the same guarantee a Misra-Gries summary gives, but
       fully vectorized (one pandas ``value_counts`` per batch, no
       per-row Python).  Each batch emits < k rows, so the candidate
       set is bounded by batches x k, independent of vocabulary size.
    2. **Exact recount** — the tiny candidate set broadcasts; a
       left-semi join prunes the stream to candidate items, a plain
       groupBy counts them exactly (map-side combine leaves ~one row
       per candidate per task on the wire), and the global threshold
       ``count * k > n`` filters.

    The 100-TB point: ``groupBy(col).count()`` shuffles the full
    vocabulary — billions of distinct token keys for a web corpus —
    while this shuffles only candidate keys and a scalar.  Integer
    thresholds on both passes, so results are exact and engine-
    independent (no phi * n float boundary).

    Returns (``col``, cnt) for every item with count * k > n.
    """
    def _local_candidates(batches):
        import pandas as pd
        for pdf in batches:
            vc = pdf[col].dropna().value_counts()
            n_b = int(vc.sum())
            yield pd.DataFrame({col: vc.index[vc * k > n_b]})

    src = items.select(col)
    cand = src.mapInPandas(
        _local_candidates, schema=f"{col} {src.schema[col].dataType.simpleString()}"
    ).distinct()
    total = src.agg(F.count(col).alias("__n"))
    return (src.join(F.broadcast(cand), col, "left_semi")
            .groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
            .join(F.broadcast(total))
            .filter(F.col("cnt") * k > F.col("__n"))
            .select(col, "cnt"))


def cms_build(items: DataFrame, col: str, depth: int = 4,
              width: int = 1024) -> DataFrame:
    """Count-min sketch as a DataFrame: (d, bucket, cnt) rows.

    Each item increments one bucket per hash row (xxhash64 with the
    row index as seed — JVM-side, no UDF); the build is one
    posexplode + one map-side-combinable groupBy, so the exchange
    carries at most depth x width rows per task regardless of input
    size.  Sketches MERGE by union + re-aggregation (counts add) —
    the property that lets a 1000-executor cluster sketch per
    partition/day/source and combine summaries instead of raw keys
    (same family as the HLL cardinality path).  Point estimates are
    biased UP only: min over d of cnt[d, h_d(x)] >= true count, with
    overshoot <= n/width per row in expectation.  Laws pytest-pinned.
    """
    hashes = F.array(*[
        (F.abs(F.xxhash64(F.col(col), F.lit(d))) % width).cast("int")
        for d in range(depth)])
    return (items.select(F.posexplode(hashes).alias("d", "bucket"))
            .groupBy("d", "bucket")
            .agg(F.count(F.lit(1)).alias("cnt")))


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Combine sketches built with the same (depth, width): counts
    add bucket-wise."""
    from functools import reduce
    u = reduce(lambda a, b: a.unionAll(b), sketches)
    return u.groupBy("d", "bucket").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(sketch: DataFrame, probes: DataFrame, col: str,
                 depth: int = 4, width: int = 1024) -> DataFrame:
    """Estimated count per distinct probe value: min over the depth
    rows of the probed buckets.  A broadcast of the sketch (depth x
    width rows — KBs) keeps the probe side shuffle-free except the
    final per-item min."""
    hashes = F.array(*[
        (F.abs(F.xxhash64(F.col(col), F.lit(d))) % width).cast("int")
        for d in range(depth)])
    probed = (probes.select(col).distinct()
              .select(col, F.posexplode(hashes).alias("d", "bucket")))
    return (probed.join(F.broadcast(sketch), ["d", "bucket"], "left")
            .groupBy(col)
            .agg(F.min(F.coalesce("cnt", F.lit(0))).cast("bigint")
                 .alias("est")))

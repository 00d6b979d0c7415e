"""Engine-wide physical-plan hygiene: every registered AND pending
query must obey the global scale rules the per-query audits check by
hand.  This is the lint that keeps a 151st query from quietly shipping
a cartesian product or a row-at-a-time Python eval.

Rules:
* no ``CartesianProduct`` — a non-broadcast cross join is never
  acceptable at 100 TB (broadcast nested-loop joins of tiny
  single-row/statistics frames are fine and appear as
  BroadcastNestedLoopJoin);
* no ``BatchEvalPython`` — row-at-a-time Python UDFs are banned from
  every query path (Arrow-batched ``MapInPandas`` / ``ArrowEvalPython``
  / ``FlatMapGroupsInPandas`` are the sanctioned Python boundary);
* no ``RoundRobinPartitioning`` other than the documented
  ``ensure_parallelism`` fan-out, i.e. never as a mid-plan reshuffle.
"""

from __future__ import annotations

import pytest

from etl_dados_ibge_sp_spark.registry import all_queries

QUERIES = all_queries()

# Streaming queries execute a real availableNow run when the callable
# is invoked — they are covered by their own tests and their plan is
# the inner batch plan anyway; building them here would re-run streams
# ~10x for no new evidence.  The lakehouse loop likewise runs its
# whole stream-merge pipeline on invocation (its returned plan is a
# trivial local-relation aggregate; the real plans are law-tested in
# tests/test_lakehouse_loop.py).
_SKIP = tuple(n for n in QUERIES if n.startswith("stream_")) \
    + ("lakehouse_incremental_loop", "vtable_sink_roundtrip")


@pytest.mark.parametrize("name",
                         sorted(n for n in QUERIES if n not in _SKIP))
def test_physical_plan_hygiene(name, spark, sf_dir):
    df = QUERIES[name](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    assert "CartesianProduct" not in plan, \
        f"{name}: non-broadcast cartesian product\n{plan[:1500]}"
    # BatchEvalPythonUDTF is the (sanctioned) Spark-4 Python
    # table-function node — only the row-at-a-time scalar-UDF node
    # BatchEvalPython is banned.
    assert not re.search(r"BatchEvalPython(?!UDTF)", plan), \
        f"{name}: row-at-a-time Python UDF\n{plan[:1500]}"
    # RoundRobin may appear only via the scan fan-out (directly over a
    # file scan / project of one); any other occurrence is a mid-plan
    # blind reshuffle.  The fan-out exchange sits within 2 plan lines
    # of its FileScan in every legitimate use.
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "RoundRobinPartitioning" not in ln:
            continue
        below = "\n".join(lines[i:i + 4])
        assert "Scan parquet" in below or "LocalTableScan" in below \
            or "Scan ExistingRDD" in below, \
            f"{name}: RoundRobin reshuffle not at a scan:\n{below}"


# ----------------------------------------------------------------------
# Shuffle-count pins for the most expensive queries (round-6 verdict
# ask #8): a plan regression that adds an Exchange to one of these
# should fail CI immediately instead of waiting for the bench gate.
# Bounds are the plan_audit-measured shuffle counts (formatted-explain
# "(N) Exchange" headers — true shuffles only, broadcast exchanges and
# cached-subtree internals excluded, same metric as PLANS.md) in a
# fresh session at the test scale.  Upper bounds: an optimizer or
# cache reuse that REMOVES a shuffle never fails them.
# ----------------------------------------------------------------------

_MAX_SHUFFLES = {
    # 10 -> 16 in round 9: the exact-recheck joins now pin SMJ via
    # merge hints (operators/dedup.py incremental_neardup_verdict) —
    # the sf10.0 curve point measured the old auto-broadcast of the
    # shingle-array sides OOM-ing the driver (arr_w is O(corpus)).
    # The extra exchanges move skinny pair rows and each per-doc
    # array once; the removed broadcasts moved the whole corpus's
    # arrays to every executor.  14 in a fresh session; 16 when the
    # session-memoized warehouse-signature cache is materialized and
    # the InMemoryRelation substitution re-shapes the subtree (the
    # fuzzy_join_names_k2 effect below) — the pin is the worst case.
    "dedup_incremental_load": 16,
    "dedup_containment": 11,
    "bloom_filter_join": 2,
    "weighted_median_value": 3,
    "dedup_minhash_lsh": 7,
    "corpus_curate": 8,
    "profile_tables": 8,
    "events_interpolate_linear": 5,
    "basket_pair_support": 2,
    "nation_pair_trade": 1,
    # fuzzy_join_names_k2 deliberately NOT pinned: its physical shape
    # depends on which session-memoized frames earlier tests left
    # cached (4 shuffles fresh, 7 when the q-gram block frames are
    # cache-substituted), so a fixed bound flaps with test order.
    "nation_pagerank": 5,
}


@pytest.mark.parametrize("name", sorted(_MAX_SHUFFLES))
def test_shuffle_count_pinned(name, spark, sf_dir):
    import contextlib
    import io
    import re

    from etl_dados_ibge_sp_spark.session import session_memo_clear

    # Pin the first-build plan, as plan_audit measures it: once an
    # earlier test in this session has materialized the query's
    # memoized frames, formatted explain also numbers the executed
    # Exchanges inside their cached plans (19 for
    # dedup_incremental_load right after its oracle-parity run).
    session_memo_clear(spark)
    spark.catalog.clearCache()
    df = QUERIES[name](spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    shuffles = len(re.findall(r"\(\d+\) Exchange", plan))
    assert shuffles <= _MAX_SHUFFLES[name], (
        f"{name}: {shuffles} shuffles, audited bound is "
        f"{_MAX_SHUFFLES[name]} — a plan regression added an "
        f"Exchange; see PLANS.md §{name}\n{plan[:2000]}")


# ----------------------------------------------------------------------
# Component plan pins for the two stream-EXECUTING queries (round-6
# verdict ask #5): `lakehouse_incremental_loop` and
# `vtable_sink_roundtrip` are exempt from the sweep above (invoking
# them runs real streams; their returned plan is a local-relation
# aggregate), so their legs are pinned here COMPONENT by component —
# the same formatted-explain Exchange metric, on the exact frames the
# loop executes.
# ----------------------------------------------------------------------

def test_lakehouse_loop_component_plans_pinned(spark, sf_dir, tmp_path):
    import contextlib
    import io
    import re

    from etl_dados_ibge_sp_spark.plans.lakehouse_loop import (
        arrival_batches, latest_per_key)
    from etl_dados_ibge_sp_spark.sinks.versioned import (
        _merge_frame, append_version, read_version, table_changes,
        write_version)
    from etl_dados_ibge_sp_spark.sources.parquet_source import load_table
    from pyspark.sql import functions as F

    def shuffles(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return len(re.findall(r"\(\d+\) Exchange", buf.getvalue()))

    ev = arrival_batches(
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type", "ts"), 3)

    # Winner-selection leg: one groupBy shuffle on user_id (+ the
    # sanctioned scan fan-out exchange).
    assert shuffles(latest_per_key(ev)) <= 2

    # MERGE leg: the tag-union/max_by frame merge_version executes —
    # one key shuffle over the union on top of the two input legs,
    # never a snapshot-vs-delta join.
    t = str(tmp_path / "state")
    write_version(latest_per_key(ev.filter(F.col("b") == 0)), t)
    merged = _merge_frame(read_version(spark, t),
                          latest_per_key(ev.filter(F.col("b") == 1)),
                          ["user_id"])
    assert shuffles(merged) <= 3

    # CDC leg: table_changes is exactly two exceptAll anti-diffs.
    append_version(latest_per_key(ev.filter(F.col("b") == 2))
                   .limit(10), t)
    assert shuffles(table_changes(spark, t, 1)) <= 2

    # Sink-roundtrip read leg: the aggregate the query returns over
    # the copied table (count-distinct expand + final combine).
    agg = (read_version(spark, t).groupBy("event_type")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"),
                F.countDistinct("user_id").cast("bigint")
                 .alias("n_users"),
                F.sum("event_id").cast("bigint").alias("sum_event_id"),
                F.sum("ts_us").cast("bigint").alias("sum_ts_us")))
    assert shuffles(agg) <= 2


def test_fuzzy_join_k2_fresh_session_plan_pinned(spark, sf_dir):
    """fuzzy_join_names_k2's fresh-session plan shape (cache cleared
    so CacheManager substitution of session-memoized frames can't
    reshape it with test order).  Since round 10 the query runs k=2
    deletion-neighborhood blocking: 5 shuffles — 2 fan-out
    repartitions (per-row-heavy explode must not serialize on a
    1-row-group scan), 2 hint-pinned SMJ exchanges on the variant
    key, 1 pair-dedup aggregate — and ZERO broadcasts of an exploded
    side (the round-10 catch below)."""
    import contextlib
    import io
    import re

    from etl_dados_ibge_sp_spark.session import session_memo_clear

    session_memo_clear(spark)
    spark.catalog.clearCache()
    df = QUERIES["fuzzy_join_names_k2"](spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    shuffles = len(re.findall(r"\(\d+\) Exchange", plan))
    assert shuffles <= 5, (
        f"fuzzy_join_names_k2: {shuffles} shuffles in the "
        f"fresh-session plan, audited bound is 5 — a regression "
        f"added an Exchange; see PLANS.md\n{plan[:2000]}")


def test_fuzzy_deletes_never_broadcasts_variant_sides(spark, sf_dir):
    """The round-10 scale catch, pinned as a law (the r9
    incremental-recheck bug's second appearance): Catalyst's stats
    pass the PRE-explode size through Generate, so it sizes each
    deletion-neighborhood side at ~the input scan and auto-broadcasts
    an O(rows·L^k) relation — measured BuildRight on a 35M-row side
    at sf3.0, OOM-ing the 8 GB local JVM (UNABLE_TO_ACQUIRE_MEMORY).
    The merge hints make the variant join SORT-MERGE deterministically
    at every scale; if a refactor drops them, the small-SF plan
    reverts to broadcast and this fails long before any scale run."""
    import contextlib
    import io
    import re

    from pyspark.sql import functions as F

    from etl_dados_ibge_sp_spark.operators.joins import fuzzy_join_deletes
    from etl_dados_ibge_sp_spark.sources.parquet_source import load_table

    cust = load_table(spark, sf_dir, "customer", fan_out=False)
    nm = F.concat(F.md5(F.col("c_custkey").cast("string"))
                  .substr(1, 10), F.lit("#"),
                  (F.col("c_custkey") % 4).cast("string"))
    a = cust.select(nm.alias("name_a"))
    b = cust.select(nm.alias("name_b"))
    df = fuzzy_join_deletes(a, b, "name_a", "name_b", max_dist=2)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert len(re.findall(r"SortMergeJoin", plan)) >= 1, plan[:2000]
    bad = re.findall(
        r"\(\d+\) BroadcastExchange\s*\nInput \[\d+\]: \[[^\]]*__k",
        plan)
    assert not bad, (
        "a deletion-variant side reverted to broadcast — the shape "
        "that OOMs at the 30x curve point\n" + plan[:2000])


def test_incremental_recheck_never_broadcasts_array_sides(spark, sf_dir):
    """The round-9 sf10.0 finding, pinned as a law: the exact-recheck
    joins in incremental_neardup_verdict must be SORT-MERGE, never
    broadcast.  Catalyst sizes the shingle-array projection from the
    scan's STRING stats — blind to the ~text-length× array expansion —
    so absent the merge hints the static planner broadcasts both
    sides, including the O(corpus) warehouse one, and the exchange
    build OOMs the driver at the 100× curve point (BENCH_sf1.json →
    round9_sf10).  The hint makes the shape deterministic, so this pin
    cannot flap: if a refactor drops the hints, the small-SF plan
    reverts to broadcast and this fails long before any scale run."""
    import contextlib
    import io
    import re

    from pyspark.sql import functions as F

    from etl_dados_ibge_sp_spark.operators.dedup import (
        incremental_neardup_verdict)
    from etl_dados_ibge_sp_spark.sources.parquet_source import load_table

    docs = load_table(spark, sf_dir, "documents")
    nb = docs.filter(F.col("doc_id") % 7 == 0)
    wh = docs.filter(F.col("doc_id") % 7 != 0)
    df = incremental_neardup_verdict(nb, wh, threshold=0.8,
                                     max_bucket=500)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # Both recheck joins SMJ: >= 3 SortMergeJoins total (2 recheck +
    # the final left-outer verdict join), and no BroadcastExchange
    # may carry a shingle-array column (__sn / __sw).  The band-key
    # join staying broadcast at small SF is fine — its build side is
    # skinny posexploded strings whose size estimate is off by a
    # BOUNDED factor (~n_bands x), so the planner demotes it to
    # shuffle as it grows; the array projection's estimate is off
    # UNBOUNDEDLY (string stats vs text-length x expansion), which is
    # why those two sides alone must be hint-pinned.
    assert len(re.findall(r"SortMergeJoin", plan)) >= 3, plan[:2000]
    bad = re.findall(
        r"\(\d+\) BroadcastExchange\s*\nInput \[\d+\]: \[[^\]]*__s[nw]",
        plan)
    assert not bad, (
        "a shingle-array side reverted to broadcast — the shape that "
        "OOMs at the 100x point:\n" + plan[:2000])

"""Plan laws for TPC-H and event query shapes (oracle parity runs in
test_oracle_parity.py; these pin the SCALE-relevant plan shapes the
docstrings claim)."""

from __future__ import annotations

import contextlib
import io

from etl_dados_ibge_sp_spark.registry import all_queries

QUERIES = all_queries()


def _plan(spark, df) -> str:
    # AQE hides codegen/exchange detail behind isFinalPlan=false; the
    # static plan is what the laws pin (same trick as plan_audit).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_q6_filters_push_to_scan_and_schema_prunes(spark, sf_dir):
    """The Q6 shape is a one-scan aggregate: every predicate must reach
    the parquet reader (min/max row-group skipping at 100 TB) and the
    ReadSchema must carry exactly the four referenced columns."""
    plan = _plan(spark, QUERIES["revenue_forecast_filter"](spark, sf_dir))
    scan = plan[plan.index("Scan parquet"):]
    pushed = scan[scan.index("PushedFilters"):].splitlines()[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed: {pushed}"
    schema = scan[scan.index("ReadSchema"):].splitlines()[0]
    assert set(
        c for c in ("l_shipdate", "l_discount", "l_quantity",
                    "l_extendedprice") if c in schema) == {
        "l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}
    for col in ("l_orderkey", "l_partkey", "l_returnflag", "l_tax"):
        assert col not in schema, f"unpruned column {col}: {schema}"


def test_q12_is_one_conditional_aggregation(spark, sf_dir):
    """Q12 classifies join output with ONE conditional aggregate —
    two filtered join passes would double the fact-fact join cost."""
    plan = _plan(spark,
                 QUERIES["returnflag_priority_counts"](spark, sf_dir))
    import re
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2
    # The date filter reaches the lineitem scan.
    assert "PushedFilters" in plan and "l_shipdate" in plan


def test_q20_scans_lineitem_once(spark, sf_dir):
    """The per-part total is a window sum over the per-(part,supplier)
    aggregate: exactly one lineitem scan + the supplier dim (the
    join-on-reaggregated-self form made Catalyst expand the
    unmaterialized aggregate and scan lineitem twice)."""
    plan = _plan(spark, QUERIES["dominant_part_suppliers"](spark, sf_dir))
    import re
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2, plan[:1200]


def test_group_sample_uses_window_group_limit(spark, sf_dir):
    """rank<=5 per group must plan as WindowGroupLimit (each task keeps
    its local top-5 BEFORE the exchange) — without it every row of
    every group shuffles and sorts, which is the difference between a
    top-k and a global sort at 100 TB."""
    plan = _plan(spark, QUERIES["group_sample_hash"](spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan[:1500]


def test_transitions_shuffle_budget(spark, sf_dir):
    """lead() needs one user_id exchange; the bigram groupBy's partial
    aggregation makes the second exchange |types|² rows.  More than
    two exchanges means something reshuffled needlessly."""
    plan = _plan(spark, QUERIES["event_transition_counts"](spark, sf_dir))
    import re
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2, plan[:1500]


def test_group_sample_is_stable_under_corpus_growth(spark, sf_dir):
    """Hash-order sampling law: restricting the corpus to a doc_id
    prefix and re-sampling keeps every sampled doc whose rank among
    the survivors is still <= k — determinism under growth is the
    point of hash sampling (no RNG state to replay)."""
    from pyspark.sql import functions as F

    full = QUERIES["group_sample_hash"](spark, sf_dir)
    from etl_dados_ibge_sp_spark.sources.parquet_source import load_table
    docs = load_table(spark, sf_dir, "documents", fan_out=False) \
        .filter(F.col("doc_id") < 250)
    from pyspark.sql import Window
    w = Window.partitionBy("source") \
        .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    sub = (docs.select("source", "doc_id",
                       F.row_number().over(w).alias("sample_rank"))
           .filter(F.col("sample_rank") <= 5))
    full_rows = {(r["source"], r["doc_id"]) for r in full.collect()
                 if r["doc_id"] < 250}
    sub_rows = {(r["source"], r["doc_id"]) for r in sub.collect()}
    # Every full-corpus pick that survives the cut is still picked.
    assert full_rows <= sub_rows

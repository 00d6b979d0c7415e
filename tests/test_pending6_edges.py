"""Edge-case pins for the sixth pending tranche on SYNTHETIC tables
(every query takes an sf_dir, so a tmp directory of hand-built parquet
files drives exactly the boundary the law tests can't reach in the
generated data): subset-duplication asymmetry, the 7-day deadline
boundary, a planted CUSUM step, KS identical/disjoint extremes,
degenerate quantile groups, the all-equal Gini zero, and a planted
orphan key."""

from __future__ import annotations

import datetime

import pytest

from etl_dados_ibge_sp_spark.queries.analytics import (
    _q_fk_integrity_audit, _q_ks_two_sample_sources, _q_revenue_gini_nation)
from etl_dados_ibge_sp_spark.queries.dedup import _q_dedup_containment
from etl_dados_ibge_sp_spark.queries.events import (
    _q_conversion_within_7d, _q_cusum_changepoint, _q_event_path_topk,
    _q_session_gap_stats)

T0 = datetime.datetime(2024, 1, 1, 0, 0, 0)


def _ts(days=0, hours=0, minutes=0, seconds=0):
    return T0 + datetime.timedelta(days=days, hours=hours,
                                   minutes=minutes, seconds=seconds)


def _write_events(spark, tmp_path, rows):
    spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double, props string") \
        .write.mode("overwrite") \
        .parquet(str(tmp_path / "events.parquet"))
    return str(tmp_path)


def _write_docs(spark, tmp_path, rows):
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, "
              "source string, n_chars bigint") \
        .write.mode("overwrite") \
        .parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def test_containment_flags_subset_that_jaccard_misses(spark, tmp_path):
    """The defining case: doc 2 is a strict prefix of the much larger
    doc 1 — containment(2→1) is 1.0 while Jaccard is far below the
    threshold; the reverse direction must NOT fire; and a <3-token doc
    yields no shingles and silently stays out."""
    words = [f"w{i}" for i in range(40)]
    big = " ".join(words)
    small = " ".join(words[:8])
    sf = _write_docs(spark, tmp_path, [
        (1, big, "en", "s", len(big)),
        (2, small, "en", "s", len(small)),
        (3, "just two", "en", "s", 8),
    ])
    rows = {(r.id_a, r.id_b): r
            for r in _q_dedup_containment(spark, sf).collect()}
    assert (2, 1) in rows
    r = rows[(2, 1)]
    assert r.containment == pytest.approx(1.0)
    assert r.n_shared == 6  # 8 tokens -> 6 trigram shingles
    jacc = r.n_shared / 38  # |A∪B| = 38 trigrams
    assert jacc < 0.5, "the pair only surfaces through containment"
    assert (1, 2) not in rows, "reverse direction is diluted by |big|"
    assert not any(3 in k for k in rows)


def test_conversion_deadline_boundary_is_inclusive(spark, tmp_path):
    """p.ts <= vt + 7d: a purchase exactly ON the deadline converts, a
    second later does not, and a purchase BEFORE the first view never
    counts."""
    sf = _write_events(spark, tmp_path, [
        # user 1: purchase exactly at +7d -> converts
        (1, _ts(), 1, "view", 0.0, "{}"),
        (2, _ts(days=7), 1, "purchase", 0.0, "{}"),
        # user 2: purchase one second past the deadline -> no
        (3, _ts(), 2, "view", 0.0, "{}"),
        (4, _ts(days=7, seconds=1), 2, "purchase", 0.0, "{}"),
        # user 3: purchase BEFORE the first view -> no
        (5, _ts(hours=5), 3, "view", 0.0, "{}"),
        (6, _ts(hours=1), 3, "purchase", 0.0, "{}"),
    ])
    rows = _q_conversion_within_7d(spark, sf).collect()
    assert len(rows) == 1  # all three cohort on day 0
    r = rows[0]
    assert (r.n_users, r.n_converted) == (3, 1)
    assert r.conversion == pytest.approx(round(1 / 3, 6))


def test_cusum_finds_a_planted_step(spark, tmp_path):
    """A level shift from 2/day to 10/day on day 10 (of 0..19): the
    CUSUM argmax must land on the last pre-shift day (cumulative
    deviation is most negative just before the mean catches up)."""
    rows = []
    eid = 0
    for day in range(20):
        n = 2 if day < 10 else 10
        for i in range(n):
            eid += 1
            rows.append((eid, _ts(days=day, minutes=i), 1, "click",
                         0.0, "{}"))
    sf = _write_events(spark, tmp_path, rows)
    r = {x.event_type: x for x in
         _q_cusum_changepoint(spark, sf).collect()}["click"]
    assert r.n_days == 20 and r.total_events == 120
    # exact scan: s_k = 20*cum_k - k*120; most deviant at k=10 (day 9)
    assert r.cp_day == (T0 + datetime.timedelta(days=9)
                        - datetime.datetime(1970, 1, 1)).days
    assert r.max_dev_scaled == abs(20 * 20 - 10 * 120)


def test_ks_extremes_zero_and_one(spark, tmp_path):
    """Identical length distributions -> D = 0; disjoint supports ->
    D = 1 (the two CDFs separate completely)."""
    same = [(i, "x", "en", "src0", 100 + (i % 3)) for i in range(30)] \
        + [(100 + i, "x", "en", "src1", 100 + (i % 3))
           for i in range(30)]
    sf = _write_docs(spark, tmp_path, same)
    r = _q_ks_two_sample_sources(spark, sf).collect()[0]
    assert (r.n1, r.n2, r.d_scaled) == (30, 30, 0)
    assert r.ks_distance == pytest.approx(0.0)

    disjoint = [(i, "x", "en", "src0", 10) for i in range(7)] \
        + [(100 + i, "x", "en", "src1", 99999) for i in range(5)]
    sf = _write_docs(spark, tmp_path, disjoint)
    r = _q_ks_two_sample_sources(spark, sf).collect()[0]
    assert r.ks_distance == pytest.approx(1.0)
    assert r.d_scaled == 7 * 5


def test_gap_stats_single_gap_group(spark, tmp_path):
    """One gap in a type: every quantile IS that gap (n=1 selects row
    1 for median and p90 alike)."""
    sf = _write_events(spark, tmp_path, [
        (1, _ts(), 1, "click", 0.0, "{}"),
        (2, _ts(minutes=5), 1, "click", 0.0, "{}"),
        (3, _ts(), 2, "view", 0.0, "{}"),  # 1 event: no gap, no row
    ])
    rows = {r.event_type: r
            for r in _q_session_gap_stats(spark, sf).collect()}
    assert set(rows) == {"click"}
    r = rows["click"]
    gap = 5 * 60 * 1_000_000
    assert (r.n_gaps, r.min_gap_us, r.median_gap_us,
            r.p90_gap_us, r.max_gap_us) == (1, gap, gap, gap, gap)


def test_gini_zero_for_equal_revenues(spark, tmp_path):
    """All customers of a nation with identical revenue -> Gini 0
    (the rank formula collapses exactly, not approximately)."""
    spark.createDataFrame(
        [(i, 10 + i, "O", 500.00, T0, "1-URGENT") for i in range(6)],
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, "
        "o_orderpriority string") \
        .write.parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        [(10 + i, f"c{i}", 0, 0.0, "BUILDING") for i in range(6)],
        "c_custkey bigint, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string") \
        .write.parquet(str(tmp_path / "customer.parquet"))
    spark.createDataFrame(
        [(0, "BRAZIL", 0)],
        "n_nationkey int, n_name string, n_regionkey int") \
        .write.parquet(str(tmp_path / "nation.parquet"))
    rows = _q_revenue_gini_nation(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    assert rows[0].n_customers == 6
    assert rows[0].gini == pytest.approx(0.0)


def test_fk_audit_counts_planted_orphans(spark, tmp_path):
    """A dangling o_custkey must be counted, per ROW not per key, and
    only on its own edge."""
    spark.createDataFrame(
        [(1, 10, "O", 1.0, T0, "x"), (2, 10, "O", 1.0, T0, "x"),
         (3, 99, "O", 1.0, T0, "x"), (4, 99, "O", 1.0, T0, "x"),
         (5, 11, "O", 1.0, T0, "x")],
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, "
        "o_orderpriority string") \
        .write.parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        [(10, "c", 0, 0.0, "B"), (11, "c", 0, 0.0, "B")],
        "c_custkey bigint, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string") \
        .write.parquet(str(tmp_path / "customer.parquet"))
    spark.createDataFrame(
        [(0, "BRAZIL", 0)],
        "n_nationkey int, n_name string, n_regionkey int") \
        .write.parquet(str(tmp_path / "nation.parquet"))
    spark.createDataFrame(
        [(0, "AMERICA")], "r_regionkey int, r_name string") \
        .write.parquet(str(tmp_path / "region.parquet"))
    spark.createDataFrame(
        [(1, "s", 0, 0.0)],
        "s_suppkey bigint, s_name string, s_nationkey int, "
        "s_acctbal double") \
        .write.parquet(str(tmp_path / "supplier.parquet"))
    spark.createDataFrame(
        [(1, "p", "B", "T", 1, 1.0)],
        "p_partkey bigint, p_name string, p_brand string, "
        "p_type string, p_size int, p_retailprice double") \
        .write.parquet(str(tmp_path / "part.parquet"))
    spark.createDataFrame(
        [(1, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", T0)],
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
        "l_linenumber int, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, l_shipdate timestamp") \
        .write.parquet(str(tmp_path / "lineitem.parquet"))
    rows = {r.relation: (r.n_rows, r.n_orphans)
            for r in _q_fk_integrity_audit(spark, str(tmp_path))
            .collect()}
    assert rows["orders.o_custkey->customer"] == (5, 2)
    assert rows["lineitem.l_orderkey->orders"] == (1, 0)
    assert sum(o for _, o in rows.values()) == 2


def test_short_history_paths_truncate(spark, tmp_path):
    """A user with fewer than 5 events contributes a short path; ties
    on count order lexicographically."""
    sf = _write_events(spark, tmp_path, [
        (1, _ts(), 1, "view", 0.0, "{}"),
        (2, _ts(minutes=1), 1, "click", 0.0, "{}"),
        (3, _ts(), 2, "signup", 0.0, "{}"),
    ])
    rows = [(r.path, r.n_users)
            for r in _q_event_path_topk(spark, sf).collect()]
    assert rows == [("signup", 1), ("view>click", 1)]

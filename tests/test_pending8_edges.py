"""Edge-case pins for the eighth pending tranche on SYNTHETIC tables:
the attribution boundaries the generated data can't isolate (a
purchase with NO preceding touch earns and counts nothing; a purchase
whose touch shares its timestamp is tie-broken by event_id; credit
windows do NOT reset at earlier purchases), and the seasonal-naive
join's gap behavior (a day whose day-7 is missing scores nothing,
including across a true hole in the calendar)."""

from __future__ import annotations

import datetime

import pytest

from etl_dados_ibge_sp_spark.queries.events import (
    _q_attribution_touch_credit, _q_seasonal_naive_error)

T0 = datetime.datetime(2024, 1, 1, 0, 0, 0)


def _ts(days=0, seconds=0):
    return T0 + datetime.timedelta(days=days, seconds=seconds)


def _write_events(spark, tmp_path, rows):
    spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double, props string") \
        .write.mode("overwrite") \
        .parquet(str(tmp_path / "events.parquet"))
    return str(tmp_path)


def test_attribution_edges(spark, tmp_path):
    rows = [
        # user 1: purchase FIRST (no credit, excluded from the
        # denominator), then a touch, then a second purchase that
        # credits it.
        (1, _ts(seconds=0), 1, "purchase", 1.0, "{}"),
        (2, _ts(seconds=10), 1, "click", 1.0, "{}"),
        (3, _ts(seconds=20), 1, "purchase", 1.0, "{}"),
        # user 2: touch and purchase share a TIMESTAMP; event_id
        # orders the touch first, so it still earns the credit.
        (4, _ts(seconds=30), 2, "view", 1.0, "{}"),
        (5, _ts(seconds=30), 2, "purchase", 1.0, "{}"),
        # user 2's second purchase: the window does NOT reset at the
        # first purchase — first touch stays 'view', last touch is
        # the later 'signup'.
        (6, _ts(seconds=40), 2, "signup", 1.0, "{}"),
        (7, _ts(seconds=50), 2, "purchase", 1.0, "{}"),
        # user 3: only purchases — contributes nothing at all.
        (8, _ts(seconds=60), 3, "purchase", 1.0, "{}"),
    ]
    sf = _write_events(spark, tmp_path, rows)
    got = {r.touch_type: r for r in
           _q_attribution_touch_credit(spark, sf).collect()}
    # 3 credited purchases total (user1 second, user2 both).
    assert set(got) == {"click", "view", "signup"}
    assert (got["click"].n_first, got["click"].n_last) == (1, 1)
    assert (got["view"].n_first, got["view"].n_last) == (2, 1)
    assert (got["signup"].n_first, got["signup"].n_last) == (0, 1)
    for r in got.values():
        assert r.first_share == pytest.approx(
            round(r.n_first / 3, 6), abs=1e-9)
        assert r.last_share == pytest.approx(
            round(r.n_last / 3, 6), abs=1e-9)


def test_seasonal_naive_gap_days(spark, tmp_path):
    # 'click' on days 0..14 except a HOLE at day 8: day 7 scores
    # (prev=day 0), day 8 is absent, day 15 absent so day 14 scores
    # against day 7; days 9..13 score too; day 8+7=15 never appears.
    rows = []
    eid = 0
    counts = {}
    for d in list(range(0, 8)) + list(range(9, 15)):
        for k in range(d + 1):  # count = day index + 1 (distinct)
            rows.append((eid, _ts(days=d, seconds=k), 7,
                         "click", 1.0, "{}"))
            eid += 1
        counts[d] = d + 1
    sf = _write_events(spark, tmp_path, rows)
    out = _q_seasonal_naive_error(spark, sf).collect()
    assert len(out) == 1
    r = out[0]
    scored = [(d, counts[d] - counts[d - 7]) for d in counts
              if d - 7 in counts]
    assert r.n_days == len(scored) == 7  # days 7, 9..14 minus day 8
    assert r.total_abs_err == sum(abs(e) for _, e in scored)
    assert r.bias == sum(e for _, e in scored)
    assert r.mae == pytest.approx(
        round(sum(abs(e) for _, e in scored) / len(scored), 6),
        abs=1e-9)

"""Percentile choice, self time by prefix subtraction and spread."""

from __future__ import annotations

import pytest

import stats


@pytest.mark.parametrize(
    "n, pct",
    [(19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, pct):
    values = [float(i) for i in range(1, n + 1)]
    tail = stats.tail_percentile(values)
    if pct is None:
        assert tail is None
        return
    got_pct, value = tail
    assert got_pct == pct
    # nearest rank: `value` is the rank-th smallest; ten or more lie beyond
    assert sum(v > value for v in values) >= stats.MIN_BEYOND
    higher = [p for p in stats.TAIL_CANDIDATES if p > pct]
    for p in higher:
        assert sum(v > stats.nearest_rank(values, p) for v in values) < stats.MIN_BEYOND


def test_tail_ignores_input_order():
    values = [5.0, 1.0, 4.0, 2.0, 3.0] * 6
    assert stats.tail_percentile(values) == (50.0, 3.0)


def test_summarize_reports_count_and_tail_only_when_supported():
    assert stats.summarize([2.0, 1.0, 3.0]) == {"median": 2.0, "n": 3}
    s = stats.summarize([float(i) for i in range(40)])
    assert (s["n"], s["tail_pct"], s["tail"]) == (40, 75.0, 29.0)


def test_self_time_by_prefix_subtraction():
    cumulative = [("sources", 1.0), ("errors", 1.5), ("skew", 1.4), ("ocr", 4.0)]
    assert stats.self_times(cumulative) == pytest.approx(
        {"sources": 1.0, "errors": 0.5, "skew": -0.1, "ocr": 2.6})


def test_quartile_spread_matches_statistics_quantiles():
    values = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0]
    # quantiles(n=4, method='exclusive'): q1 = 11.75, q3 = 17.25
    assert stats.quartile_spread(values) == pytest.approx((17.25 - 11.75) / 14.5)


def test_median_of_nothing_raises():
    with pytest.raises(ValueError):
        stats.median([])

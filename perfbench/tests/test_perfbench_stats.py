"""Median and quartile reporting with sample counts."""

import statistics

import pytest

from stats import iqr_share, summary


def test_summary_single_sample():
    assert summary([2.5]) == {"n": 1, "median": 2.5, "q1": 2.5, "q3": 2.5}


def test_summary_quartiles_match_statistics():
    values = [5.0, 1.0, 4.0, 2.0, 3.0]
    s = summary(values)
    q1, med, q3 = statistics.quantiles(values, n=4)
    assert (s["n"], s["median"], s["q1"], s["q3"]) == (5, med, q1, q3)
    assert set(s) == {"n", "median", "q1", "q3"}


def test_iqr_share():
    assert iqr_share([10.0] * 4) == 0.0
    q1, med, q3 = statistics.quantiles([9.0, 10.0, 11.0, 12.0], n=4)
    assert iqr_share([9.0, 10.0, 11.0, 12.0]) == pytest.approx((q3 - q1) / med)

"""The A/B summary of tools/ab_perfbench.py on fixed numbers."""

from __future__ import annotations

import pytest

from tools.ab_perfbench import quartiles, summarize

SPEC = [{"name": "latency_p50_s", "better": "lower"},
        {"name": "throughput_per_s", "better": "higher"}]


def _pairs(parent: list[float], change: list[float], name: str = "latency_p50_s"):
    return [({name: p}, {name: c}) for p, c in zip(parent, change)]


def test_quartiles_inclusive():
    assert quartiles([1.0, 2.0, 3.0, 4.0, 5.0]) == (2.0, 3.0, 4.0)
    assert quartiles([7.0]) == (7.0, 7.0, 7.0)


def test_claim_needs_nine_wins_in_ten_and_a_gap_wider_than_the_parent_iqr():
    parent = [2.0, 2.1, 2.2, 2.3, 2.4, 2.5, 2.6, 2.7, 2.8, 2.9]
    # 10/10 wins, medians 2.45 vs 1.85: 0.6 > the parent's IQR 0.45
    (row,) = summarize(_pairs(parent, [p - 0.6 for p in parent]), SPEC[:1])
    assert row["wins"] == 10 and row["pairs"] == 10 and row["claim"]
    assert row["parent"] == pytest.approx((2.225, 2.45, 2.675))
    # 9/10 wins still claims; a tie counts for neither side
    (row,) = summarize(_pairs(parent, [p - 0.6 for p in parent[:9]] + [2.9]), SPEC[:1])
    assert row["wins"] == 9 and row["claim"]
    # 8/10 wins does not
    change = [p - 0.6 for p in parent[:8]] + [2.8, 2.9]
    (row,) = summarize(_pairs(parent, change), SPEC[:1])
    assert row["wins"] == 8 and not row["claim"]
    # 10/10 wins by less than the parent's IQR does not
    (row,) = summarize(_pairs(parent, [p - 0.3 for p in parent]), SPEC[:1])
    assert row["wins"] == 10 and not row["claim"]


def test_higher_is_better_and_a_failed_run_is_no_win():
    parent = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0]
    change = [p + 5.0 for p in parent]
    (row,) = summarize(_pairs(parent, change, "throughput_per_s"), SPEC[1:])
    assert row["wins"] == 10 and row["claim"]
    assert row["change"] == (17.25, 19.5, 21.75)
    pairs = _pairs(parent, change, "throughput_per_s")
    pairs[0] = (pairs[0][0], None)
    (row,) = summarize(pairs, SPEC[1:])
    assert row["wins"] == 9 and row["pairs"] == 10 and row["claim"]
    pairs[1] = (None, pairs[1][1])
    (row,) = summarize(pairs, SPEC[1:])
    assert row["wins"] == 8 and not row["claim"]

"""Pins ``tools/bench_ab.py``'s ratio arithmetic on fake phase timings
(no Spark, no subprocess): the median ratio, the per-pair ratios and
their spread, and the spread shown in ``slowest``."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from bench_ab import query_ratio  # noqa: E402


def test_ratio_is_median_over_median_with_per_pair_spread():
    # base (side A) phases 2.0 and 4.0; work (side B) phases 3.0 and 3.0
    got = query_ratio([2.0, 4.0], [3.0, 3.0])
    assert got["base"] == 3.0 and got["work"] == 3.0
    assert got["ratio"] == 1.0
    # pair i is phase i of A against phase i of B: 3/2 and 3/4
    assert got["pair_ratios"] == [1.5, 0.75]
    assert (got["ratio_min"], got["ratio_max"]) == (0.75, 1.5)


def test_identical_sides_have_no_spread():
    got = query_ratio([1.25, 1.25, 1.25, 1.25], [1.25, 1.25, 1.25, 1.25])
    assert got["ratio"] == 1.0
    assert got["pair_ratios"] == [1.0] * 4
    assert got["ratio_min"] == got["ratio_max"] == 1.0


def test_ratios_round_to_four_places_and_zero_base_is_guarded():
    got = query_ratio([3.0, 3.0], [1.0, 2.0])
    assert got["ratio"] == 0.5
    assert got["pair_ratios"] == [0.3333, 0.6667]
    # a zero base time cannot divide by zero
    assert query_ratio([0.0], [1.0])["ratio"] == 1e9


def test_summary_keeps_geomean_and_shows_spread_in_slowest():
    from bench_ab import summarize

    phases = {
        "A": [{"q1": 1.0, "q2": 2.0}, {"q1": 1.0, "q2": 2.0}],
        "B": [{"q1": 2.0, "q2": 1.0}, {"q1": 2.0, "q2": 3.0}],
    }
    got = summarize(phases, ["q1", "q2"])
    # q1: 2/1 in both pairs; q2: median 2/2, pairs 0.5 and 1.5
    assert got["queries"]["q2"]["ratio"] == 1.0
    assert got["value"] == round(2.0**0.5, 4)
    assert got["slowest"] == [
        ("q1", 2.0, [2.0, 2.0]),
        ("q2", 1.0, [0.5, 1.5]),
    ]

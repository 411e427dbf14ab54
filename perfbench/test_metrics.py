"""Tests for the benchmark's metric arithmetic.

Run with ``python3 -m pytest perfbench/test_metrics.py -q``."""

from __future__ import annotations

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from metrics import (  # noqa: E402
    covered,
    failure_ratio,
    geomean,
    median,
    net_of_steal,
    self_time,
    tail_percentile,
)


def test_median_odd_even_and_unsorted():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5
    assert median([7.0]) == 7.0
    with pytest.raises(ValueError):
        median([])


def test_tail_percentile_keeps_ten_samples_beyond():
    vals = list(range(1, 101))  # 100 samples
    p, v = tail_percentile(vals)
    # p90 has rank 90 and exactly 10 samples above it; p91 would leave 9
    assert (p, v) == (90.0, 90.0)
    assert tail_percentile(list(range(1, 21))) == (50.0, 10.0)
    assert tail_percentile(list(range(1, 20))) is None  # p50 leaves only 9


def test_geomean():
    assert math.isclose(geomean([1.0, 100.0]), 10.0)
    assert math.isclose(geomean([2.0, 2.0, 2.0]), 2.0)
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])


def test_net_of_steal_spreads_stolen_time_over_vcpus():
    assert net_of_steal(10.0, 8.0, 4) == 8.0
    assert net_of_steal(10.0, 0.0, 4) == 10.0
    # differences of cumulative readings are net durations
    a, b = net_of_steal(100.0, 40.0, 4), net_of_steal(112.0, 48.0, 4)
    assert b - a == 10.0


def test_failure_ratio():
    assert failure_ratio(0, 5) == 0.0
    assert failure_ratio(1, 4) == 0.25
    with pytest.raises(ValueError):
        failure_ratio(0, 0)


def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(-5, 1), (9, 20)], 0, 10) == 2
    assert covered([], 0, 10) == 0


def test_self_time_subtracts_only_direct_children():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "start": 3.0, "end": 6.0},  # overlaps span 2
        {"id": 4, "parent": 2, "start": 1.5, "end": 2.0},  # grandchild
    ]
    assert self_time(spans[0], spans) == 5.0
    assert self_time(spans[1], spans) == 2.5
    assert self_time(spans[3], spans) == 0.5

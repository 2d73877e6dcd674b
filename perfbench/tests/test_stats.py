"""Unit tests for the benchmark's own helpers (no Spark):

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import stats  # noqa: E402


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 50) == 50
    assert stats.percentile(xs, 90) == 90
    assert stats.percentile(xs, 100) == 100
    assert stats.percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


@pytest.mark.parametrize("n,want", [(100, 90), (200, 90), (50, 80), (20, 50), (11, 9), (10, None), (3, None)])
def test_supported_percentile_keeps_ten_beyond(n, want):
    assert stats.supported_percentile(n) == want


@pytest.mark.parametrize("n", [11, 12, 19, 20, 37, 99, 100, 101, 1000])
def test_supported_percentile_leaves_at_least_ten_samples_above(n):
    xs = list(range(n))
    p, v = stats.tail(xs)
    assert sum(1 for x in xs if x > v) >= stats.MIN_BEYOND
    # and it is the highest such percentile, up to p90
    if p < 90:
        assert sum(1 for x in xs if x > stats.percentile(xs, p + 1)) < stats.MIN_BEYOND


def test_tail_of_too_few_samples_is_none():
    assert stats.tail([1.0] * 10) == (None, None)


def test_self_time_subtracts_children_once():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        # overlapping children cover [1, 5] once, not 4 + 2
        {"id": 2, "parent": 1, "start": 1.0, "end": 5.0},
        {"id": 3, "parent": 1, "start": 3.0, "end": 5.0},
        # a child running past its parent only counts inside it
        {"id": 4, "parent": 1, "start": 9.0, "end": 12.0},
        # a grandchild belongs to its parent, not to span 1
        {"id": 5, "parent": 2, "start": 2.0, "end": 3.0},
    ]
    own = stats.self_times(spans)
    assert own[1] == pytest.approx(10 - 4 - 1)
    assert own[2] == pytest.approx(4 - 1)
    assert own[3] == pytest.approx(2)
    assert own[5] == pytest.approx(1)


def test_freshness_joins_segment_to_the_covering_epoch():
    segments = [(1, 100, 10.0), (101, 200, 10.1), (201, 300, 10.2), (301, 400, 10.3)]
    epochs = [(1, 200, 10.5), (201, 300, 10.9)]  # the last segment never applied
    got = stats.freshness(segments, epochs)
    assert got[:3] == pytest.approx([0.5, 0.4, 0.7])
    assert got[3] is None


def test_freshness_needs_the_whole_segment_inside_one_span():
    # an epoch that holds only part of a segment's lsns does not apply it
    assert stats.freshness([(50, 150, 0.0)], [(1, 100, 1.0)]) == [None]
    # duplicate-bearing segments still match by their lsn range
    assert stats.freshness([(5, 5, 0.0)], [(1, 9, 2.0), (5, 5, 3.0)]) == [2.0]


def test_kind_median_of_one_kind_is_its_median():
    xs = [3.0, 1.0, 2.0, 9.0, 5.0]
    assert stats.kind_median({"segment": xs}) == pytest.approx(stats.percentile(xs, 50))


def test_kind_median_weighs_every_kind_the_same():
    by_kind = {"lookup": [1.0], "search": [2.0], "q1": [0.5], "q3": [0.25]}
    base = stats.kind_median(by_kind)
    assert base == pytest.approx((1.0 * 2.0 * 0.5 * 0.25) ** 0.25)
    # a pooled median would not move when one slow kind doubles; this does
    slower = dict(by_kind, search=[4.0])
    assert stats.kind_median(slower) == pytest.approx(base * 2 ** 0.25)
    # nor does it depend on how many samples a kind has
    assert stats.kind_median(dict(by_kind, q1=[0.5, 0.5, 0.5])) == pytest.approx(base)


def test_kind_median_of_no_samples_raises():
    with pytest.raises(ValueError):
        stats.kind_median({"lookup": []})


def test_quartile_spread_matches_statistics_quantiles():
    q1, med, q3, spread = stats.quartile_spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
    assert (q1, med, q3) == (2.75, 5.5, 8.25)
    assert spread == pytest.approx(5.5 / 5.5)

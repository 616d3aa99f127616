"""The percentile-with-ten-samples-beyond rule and sample-count reporting."""

import statistics

import pytest

from perfbench import stats


def test_no_tail_percentile_below_eleven_samples():
    for n in range(1, 11):
        assert stats.tail_percentile(n) is None
        assert set(stats.summarize(range(n + 1)[1:])) == {"n", "p50"}


def test_tail_percentile_keeps_ten_samples_beyond():
    assert stats.tail_percentile(11) is None  # p75 leaves two beyond
    assert stats.tail_percentile(39) is None
    assert stats.tail_percentile(40) == 75.0  # rank 30, ten beyond
    assert stats.tail_percentile(100) == 90.0  # rank 90, ten beyond
    assert stats.tail_percentile(99) == 75.0  # rank 90 leaves nine
    assert stats.tail_percentile(200) == 95.0
    assert stats.tail_percentile(1000) == 99.0
    for n in range(11, 2000, 7):
        pct = stats.tail_percentile(n)
        if pct is not None:
            rank = -(-int(pct * n) // 100)
            assert n - rank >= stats.MIN_TAIL


def test_summarize_reports_count_median_and_tail():
    xs = list(range(1, 101))
    s = stats.summarize(xs)
    assert s == {"n": 100, "p50": 50.5, "p90": 90.0}


def test_quartiles_match_statistics_quantiles():
    xs = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0, 5.0, 3.0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    assert stats.quartiles(xs) == (q1, q2, q3)


def test_median_of_nothing_raises():
    with pytest.raises(ValueError):
        stats.median([])

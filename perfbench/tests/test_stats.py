from __future__ import annotations

import pytest

import stats


@pytest.mark.parametrize(
    "n, p",
    [(20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0), (100, 90.0), (199, 90.0),
     (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_is_highest_percentile_with_ten_beyond(n, p):
    values = [float(i) for i in range(1, n + 1)]
    got_p, value = stats.tail(values)
    assert got_p == p
    assert sum(v > value for v in values) >= 10
    assert value == stats.percentile(values, p)


@pytest.mark.parametrize("n", [0, 1, 10, 19])
def test_tail_refuses_small_samples(n):
    with pytest.raises(stats.TooFewSamples):
        stats.tail([1.0] * n)


def test_percentile_nearest_rank():
    values = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(values, 50) == 3.0
    assert stats.percentile(values, 100) == 5.0
    assert stats.percentile(values, 1) == 1.0
    assert stats.beyond(5, 50) == 2


def test_median_refuses_empty():
    with pytest.raises(stats.TooFewSamples):
        stats.median([])

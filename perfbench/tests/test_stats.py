"""The tail-percentile rule: the highest percentile with at least ten
samples beyond it, with its percentile and sample count."""

from __future__ import annotations

import pytest

from perfbench import stats


def test_tail_of_100_samples_is_p90():
    t = stats.tail(range(1, 101))
    assert t == {"value": 90, "pct": 90.0, "n": 100}


def test_tail_keeps_ten_samples_beyond():
    xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0, 12.0]
    t = stats.tail(xs)
    beyond = [x for x in xs if x > t["value"]]
    assert len(beyond) == 10
    assert t["pct"] == pytest.approx(100 * 2 / 12)


@pytest.mark.parametrize("n", [0, 1, 10])
def test_no_tail_below_eleven_samples(n):
    assert stats.tail([1.0] * n) == {"value": None, "pct": None, "n": n}


def test_eleven_samples_give_the_minimum():
    t = stats.tail(range(11))
    assert t["value"] == 0 and t["n"] == 11


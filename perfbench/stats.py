"""Summary statistics shared by the benchmark and its tests."""

from __future__ import annotations

import statistics

#: A tail percentile is reported only with at least this many samples
#: beyond it, so that one slow sample cannot set it alone.
TAIL_BEYOND = 10


def median(values) -> float | None:
    values = list(values)
    return statistics.median(values) if values else None


def tail(values) -> dict:
    """The highest percentile that still has ``TAIL_BEYOND`` samples
    above it.

    With ``n`` samples sorted ascending, the ``k``-th smallest (1-based)
    has ``n - k`` samples after it, so the highest admissible order
    statistic is ``k = n - TAIL_BEYOND``; its percentile is ``100 k / n``.
    Fewer than ``TAIL_BEYOND + 1`` samples admit no tail: value and
    percentile are then ``None``. The sample count is always returned.
    """
    xs = sorted(values)
    n = len(xs)
    k = n - TAIL_BEYOND
    if k < 1:
        return {"value": None, "pct": None, "n": n}
    return {"value": xs[k - 1], "pct": 100.0 * k / n, "n": n}


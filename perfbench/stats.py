"""Summary statistics shared by the workloads, the report and the tests."""

from __future__ import annotations

import statistics

#: A reported tail percentile must leave at least this many samples beyond it.
TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile that has at least ``TAIL_BEYOND`` samples
    above it, as ``(value, percentile, n)``.

    With samples sorted ascending, the sample at 0-based index
    ``n - TAIL_BEYOND - 1`` is the highest one with ``TAIL_BEYOND``
    samples beyond it; its percentile is the share of samples at or below
    it. Fewer than ``TAIL_BEYOND + 1`` samples admit no such percentile:
    the maximum is returned at percentile 100 so the caller still sees the
    worst case, and ``n`` tells the reader it is not a tail estimate.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= TAIL_BEYOND:
        return float(xs[-1]), 100.0, n
    i = n - TAIL_BEYOND - 1
    return float(xs[i]), 100.0 * (i + 1) / n, n

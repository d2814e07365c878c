"""Order statistics the benchmark reports."""

from __future__ import annotations

import statistics

# A tail percentile is only reported where at least this many samples
# lie beyond it.
TAIL_BEYOND = 10


def tail(samples) -> tuple[float, float, int]:
    """The highest percentile with at least ``TAIL_BEYOND`` samples
    beyond it, as ``(value, percentile, sample_count)``.

    With n samples the order statistic with exactly ten samples above it
    sits at percentile ``100 * (n - 10) / n``.  Below ``2 * TAIL_BEYOND``
    samples that percentile falls under the median, so no tail can be
    resolved: the maximum is returned instead, labelled percentile 100,
    and the sample count tells the reader why."""
    s = sorted(samples)
    n = len(s)
    if n == 0:
        raise ValueError("tail of no samples")
    if n >= 2 * TAIL_BEYOND:
        return s[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n, n
    return s[-1], 100.0, n


def spread(values) -> float:
    """Distance between the first and third quartile as a share of the
    median (``statistics.quantiles(values, n=4)``)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)

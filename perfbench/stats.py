"""Statistics helpers of the graft benchmark: quartiles and their spread,
the tail percentile, and interval arithmetic for spans."""

import statistics


def tail(values, beyond=10):
    """The highest percentile that still has at least `beyond` samples above
    it: the sample at sorted index n - 1 - beyond.

    Returns (value, percentile, n); percentile is the share of samples at or
    below the returned one, in percent. None when n <= beyond.
    """
    xs = sorted(values)
    n = len(xs)
    if n <= beyond:
        return None
    i = n - 1 - beyond
    return xs[i], 100.0 * (i + 1) / n, n


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(values, n=4) gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Distance between the first and third quartile, as a share of the
    median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2


def covered(intervals, lo, hi):
    """Length of the part of [lo, hi] covered by the union of `intervals`
    (pairs of start, end)."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total

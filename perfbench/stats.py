"""Summary statistics shared by the runner and its tests."""
import statistics

# A tail is reported only where at least this many samples lie beyond it.
TAIL_BEYOND = 10


def median(xs):
    return statistics.median(xs)


def tail(xs):
    """The highest percentile with at least TAIL_BEYOND samples beyond it.

    Returns (value, percentile) or None when there are too few samples.
    The value is the (n - TAIL_BEYOND)-th smallest sample, so exactly
    TAIL_BEYOND samples are larger than or equal to it and come after
    it; the percentile is the share of samples at or below it.
    """
    n = len(xs)
    if n < TAIL_BEYOND + 1:
        return None
    k = n - TAIL_BEYOND - 1
    return sorted(xs)[k], 100.0 * (k + 1) / n

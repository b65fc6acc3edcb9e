"""Summary statistics the benchmark reports."""
import math


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def reportable_percentile(n, candidates=(99, 95, 90, 75, 50)):
    """The highest candidate percentile that leaves at least 10 of `n`
    samples strictly above its nearest rank, or None."""
    for p in candidates:
        if n - math.ceil(p / 100 * n) >= 10:
            return p
    return None

"""Timing summaries for the benchmark report."""

PERCENTILES = (50.0, 90.0, 99.0, 99.9)


def percentile(values, p):
    """Linear-interpolated percentile of a non-empty sample."""
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(values):
    """The highest percentile with at least ten samples beyond it, as
    (percentile, value, sample count); (None, max, n) when no listed
    percentile has ten samples beyond it."""
    n = len(values)
    best = None
    for p in PERCENTILES:
        if round(n * (100.0 - p) / 100.0, 6) >= 10:
            best = p
    if best is None:
        return None, max(values), n
    return best, percentile(values, best), n


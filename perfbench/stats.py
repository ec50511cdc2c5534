"""Order statistics of the benchmark's samples."""
import math


def median(xs):
    """Median; the mean of the two middle values for an even count."""
    s = sorted(xs)
    if not s:
        raise ValueError("median of an empty sample")
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def percentile(xs, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    sample at or below it (of 116 values, p90 leaves 11 above it)."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of an empty sample")
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def quartile_spread(xs):
    """(Q3 - Q1) / median, quartiles as statistics.quantiles(n=4) gives them."""
    import statistics
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / median(xs)

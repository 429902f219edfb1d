"""Order statistics used by the benchmark's reported metrics."""

import math


def median(xs):
    """Middle value; the mean of the two middle values for an even count."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no values")
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2.0


def quartiles(xs):
    """First, second and third quartile by the exclusive method, as
    Python's statistics.quantiles(xs, n=4) gives them."""
    s = sorted(xs)
    n = len(s)
    if n < 2:
        raise ValueError("quartiles need at least two values")
    out = []
    for i in (1, 2, 3):
        j = min(max(i * (n + 1) // 4, 1), n - 1)
        delta = i * (n + 1) - j * 4
        out.append((s[j - 1] * (4 - delta) + s[j] * delta) / 4.0)
    return out


def iqr_share(xs):
    """Distance between the first and third quartile as a share of the
    median: the run-to-run spread the benchmark's bounds are held to."""
    q1, _, q3 = quartiles(xs)
    return (q3 - q1) / median(xs)


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no values")
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]

"""Arithmetic of the benchmark: medians, quartile spreads, geomeans and
the W/F (per-row work vs per-run fixed cost) fit. Pure functions; the
self-test in `selftest.py` pins each one."""
import math
import statistics


def median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else float("nan")


def spread(xs):
    """Interquartile range as a share of the median (the stability
    measure the benchmark is tuned against)."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)


def geomean(xs):
    xs = [x for x in xs if x is not None and x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else float("nan")


def wf_fit(t1, tn, n):
    """Two-point fit of wall(c) = W / c + F through the 1-core wall `t1`
    and the n-core wall `tn`: W is the core-seconds of work that scales
    with cores, F the fixed seconds that do not."""
    if n <= 1:
        return float("nan"), float("nan")
    w = (t1 - tn) * n / (n - 1)
    return w, t1 - w


def rates(counts, secs):
    return [c / s for c, s in zip(counts, secs) if s > 0]


def scaling_eff(rate_n, rate_1, n):
    """Throughput at n cores over n times the 1-core throughput."""
    return rate_n / (n * rate_1) if rate_1 > 0 and n > 0 else float("nan")

"""Summary statistics shared by the runner and the compare tool."""

import math
import statistics

# A tail percentile is reported only where at least this many samples lie
# beyond it, so one stall cannot set it on its own.
BEYOND = 10


def median(xs):
    return statistics.median(xs)


def tail(xs, beyond=BEYOND, cap=0.99):
    """The highest percentile (at most `cap`) with at least `beyond`
    samples above it, as (value, percentile). With too few samples for any
    such percentile above the median, the median itself (percentile 50)."""
    s = sorted(xs)
    n = len(s)
    rank = min(n - beyond, math.ceil(cap * n))  # 1-based
    if rank < (n + 1) / 2:
        return median(s), 50.0
    return s[rank - 1], 100.0 * rank / n


def quartiles(xs):
    """(first quartile, median, third quartile), as the acceptance rule
    takes them."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else math.inf


def overhead_pct(costs):
    """Tracing overhead in percent from a traced run's operation costs,
    {kind: {"traced": [...], "untraced": [...]}}: the summed median cost
    of each kind traced over the same untraced, minus one. Kinds seen
    only traced or only untraced do not count; with none seen both ways,
    0."""
    both = [c for c in costs.values() if c["traced"] and c["untraced"]]
    untraced = sum(median(c["untraced"]) for c in both)
    if not untraced:
        return 0.0
    return 100.0 * (sum(median(c["traced"]) for c in both) / untraced - 1.0)

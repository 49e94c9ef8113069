"""Statistics and interval arithmetic used to turn run records into metrics.

Times are epoch milliseconds (floats); an interval is a (start, end) pair.
"""
import math

# Tail percentiles considered, highest first.
TAIL_CANDIDATES = (99, 95, 90, 75, 50)
MIN_BEYOND = 10


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    k = max(1, math.ceil(p * len(s) / 100.0))
    return s[k - 1]


def tail_percentile(xs, min_beyond=MIN_BEYOND, candidates=TAIL_CANDIDATES):
    """The highest candidate percentile that leaves at least `min_beyond`
    samples beyond it, as (p, value); None when even p50 leaves fewer.
    131 samples give p90 (13 beyond); 40 give p75 (10 beyond)."""
    n = len(xs)
    for p in candidates:
        if n - max(1, math.ceil(p * n / 100.0)) >= min_beyond:
            return p, percentile(xs, p)
    return None


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def geomean(xs):
    xs = list(xs)
    if not xs or min(xs) <= 0:
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def union(intervals):
    """Merge overlapping or touching intervals into a sorted disjoint list."""
    out = []
    for a, b in sorted((a, b) for a, b in intervals if b > a):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def length(intervals):
    """Total time covered by the intervals (overlaps counted once)."""
    return sum(b - a for a, b in union(intervals))


def clip(intervals, lo, hi):
    """The parts of the intervals that lie inside [lo, hi]."""
    return [(max(a, lo), min(b, hi)) for a, b in intervals
            if min(b, hi) > max(a, lo)]


def uncovered(lo, hi, intervals):
    """Time in [lo, hi] covered by none of the intervals."""
    return (hi - lo) - length(clip(intervals, lo, hi))

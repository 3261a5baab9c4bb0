"""Statistics and trace arithmetic used by run.py.

Times in traces are epoch microseconds; intervals are (start, end) pairs.
"""
import math
import statistics

# Percentiles a timing may be reported at, highest first.
PERCENTILES = (99.9, 99.0, 90.0, 50.0)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    """Geometric mean of positive values (0.0 for an empty list)."""
    if not xs:
        return 0.0
    if any(x <= 0 for x in xs):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def percentile(xs, p):
    """Linear-interpolated p-th percentile (numpy's default method)."""
    s = sorted(xs)
    if not s:
        return 0.0
    k = (len(s) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail_percentile(n):
    """Highest of PERCENTILES with at least ten of n samples beyond it,
    or None when even the median has fewer than ten beyond it."""
    for p in PERCENTILES:
        if round(n * (100.0 - p) / 100.0, 6) >= 10:
            return p
    return None


def union_length(intervals):
    """Total length covered by a set of possibly overlapping intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals
            if min(e, hi) > max(s, lo)]


def self_times(spans):
    """{span id: duration minus the union of its children's intervals}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) - union_length(
        clip(children.get(s["id"], []), s["start"], s["end"]))
        for s in spans}

"""Statistics and span arithmetic for the benchmark (pure Python, no deps).

Times are seconds unless a name says otherwise; intervals are (start, end)
pairs on one clock.
"""
import math
import statistics


def median(values):
    return statistics.median(values)


def geomean(values):
    """Geometric mean of positive values."""
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def percentile(values, q):
    """Linear-interpolation percentile, q in [0, 1]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(values, q=0.9, min_beyond=10):
    """The q-th percentile, or None when fewer than `min_beyond` samples lie
    strictly beyond it (too few to say anything about that tail)."""
    if not values:
        return None
    p = percentile(values, q)
    return p if sum(1 for v in values if v > p) >= min_beyond else None


def spread(values):
    """Distance between the first and third quartile as a share of the
    median, with the quartiles `statistics.quantiles(values, n=4)` gives."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def union(intervals):
    """Merge intervals into disjoint sorted ones; empty ones are dropped."""
    out = []
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def length(intervals):
    return sum(e - s for s, e in union(intervals))


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def self_time(span, children):
    """A span's length minus the time its children cover inside it. Children
    that overlap each other count once."""
    s, e = span
    return (e - s) - length(clip(children, s, e))


def layer_split(root, layers):
    """Split the root interval among layers.

    `layers` is a list of (name, intervals) from innermost to outermost:
    each instant of the root goes to the first layer that covers it, and
    what no layer covers is unattributed. A layer's share is thus its self
    time, with deeper layers as its children. The shares plus the
    unattributed time add up to the root's length exactly.
    Returns ({name: seconds}, unattributed_seconds).
    """
    s, e = root
    covered = []
    shares = {}
    for name, ivs in layers:
        mine = union(clip(ivs, s, e))
        shares[name] = length(mine) - length(_intersect(mine, covered))
        covered = union(covered + mine)
    return shares, (e - s) - length(covered)


def _intersect(a, b):
    """Intervals where the two disjoint sorted lists overlap."""
    out, i, j = [], 0, 0
    a, b = union(a), union(b)
    while i < len(a) and j < len(b):
        lo, hi = max(a[i][0], b[j][0]), min(a[i][1], b[j][1])
        if hi > lo:
            out.append((lo, hi))
        if a[i][1] < b[j][1]:
            i += 1
        else:
            j += 1
    return out


def lateness(due, actual):
    """How late each open-loop send happened against its schedule (never
    negative: an early send is on time)."""
    return [max(0.0, a - d) for d, a in zip(due, actual)]

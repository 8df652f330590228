"""The benchmark's own arithmetic, kept free of I/O so test_stats.py can pin it."""
import math


def median(xs):
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def tail(xs, beyond=10):
    """The highest whole percentile that leaves at least `beyond` samples
    above it, by nearest rank. Returns (percentile, value, n), or None when
    there are too few samples for any percentile to qualify."""
    s = sorted(xs)
    n = len(s)
    if n <= beyond:
        return None
    p = (100 * (n - beyond)) // n
    rank = max(1, math.ceil(p * n / 100))
    return p, s[rank - 1], n


def quietest(xs, keep):
    """Indices of the `keep` smallest of `xs`, in their original order; of
    equal values the earlier is kept."""
    return sorted(sorted(range(len(xs)), key=lambda i: (xs[i], i))[:keep])


def geomean(xs):
    if not xs or any(x <= 0 for x in xs):
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def union_length(intervals, lo=None, hi=None):
    """Total length covered by (start, end) intervals, each clipped to
    [lo, hi] when given. Overlaps count once."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    a, b = span
    return (b - a) - union_length(children, a, b)

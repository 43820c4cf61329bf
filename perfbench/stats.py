"""Arithmetic of the benchmark: seeded call order, percentiles, interval
unions, span self time. Kept free of I/O so `test_stats.py` can pin it."""
import math
import random


def pass_order(queries, seed, pass_no):
    """The query order of one pass: a permutation of `queries` that
    depends only on (seed, pass number). The seed changes the order of
    the calls and nothing else; the data is fixed."""
    order = list(queries)
    random.Random(seed * 1000003 + pass_no).shuffle(order)
    return order


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def tail_percentile(n, beyond=10):
    """The highest whole percentile whose nearest-rank value has at
    least `beyond` of `n` samples ranked above it, or None if n is too
    small to have one."""
    if n <= beyond:
        return None
    p = (100 * (n - beyond)) // n
    while p > 0 and math.ceil(p * n / 100) > n - beyond:
        p -= 1
    return p if p > 0 else None


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p * len(s) / 100))
    return s[rank - 1]


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals` ((start, end) pairs), each
    clipped to [lo, hi] when given."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total = 0
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
    """A span's duration minus the part of its interval its children
    cover."""
    return (span[1] - span[0]) - union_length(children, span[0], span[1])


def idle_time(lo, hi, stage_intervals):
    """Wall time of [lo, hi] during which no stage ran."""
    return (hi - lo) - union_length(stage_intervals, lo, hi)


def skew(stages):
    """Slowest task over median task in the longest stage (by wall), or
    None when no stage ran tasks."""
    timed = [s for s in stages if s["task_p50_ms"] > 0]
    if not timed:
        return None
    longest = max(timed, key=lambda s: s["end"] - s["start"])
    return longest["task_max_ms"] / longest["task_p50_ms"]

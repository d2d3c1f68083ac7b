"""Arithmetic of the benchmark: order statistics and the per-layer ratios.

Kept free of I/O so that test_stats.py can pin every formula.
"""

import math


def median(xs):
    """Median of a non-empty sequence (mean of the middle two when even)."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2.0


def percentile(xs, p):
    """The p-th percentile by linear interpolation between closest ranks
    (numpy's default method): rank (n - 1) * p / 100 of the sorted samples.
    """
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    r = (len(s) - 1) * p / 100.0
    lo = math.floor(r)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (r - lo)


def tail_percentile(n, candidates=(99.9, 99, 95, 90, 80, 75, 50)):
    """The highest candidate percentile that leaves at least ten of n
    samples beyond it, or None when even the median does not.
    """
    for p in candidates:
        if n * (100 - p) / 100.0 >= 10 - 1e-9:
            return p
    return None


def timing(xs):
    """A timing summary: median, sample count, and the tail percentile
    that has ten samples beyond it (None when there are too few).
    """
    p = tail_percentile(len(xs))
    return {
        "median": median(xs),
        "n": len(xs),
        "tail_p": p,
        "tail": percentile(xs, p) if p is not None else None,
    }


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals; overlaps
    are counted once.
    """
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover. Children
    are clipped to the span, and overlapping children count once.
    """
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children]
    return (e - s) - union_length(clipped)


def cpu_util(executor_cpu_s, wall_s, cores):
    """Executor CPU seconds over the CPU seconds the wall time offered."""
    return executor_cpu_s / (wall_s * cores) if wall_s > 0 and cores > 0 else 0.0


def kernel_share(kernel_terms, executor_cpu_s):
    """Useful kernel CPU over executor CPU of the KNN step. kernel_terms
    are (ns per pair, pairs) products summed: the CPU the kernels alone
    would need.
    """
    if executor_cpu_s <= 0:
        return 0.0
    return sum(ns * pairs for ns, pairs in kernel_terms) / 1e9 / executor_cpu_s

"""The benchmark's arithmetic: medians, quartiles, the tail-percentile rule,
span self time, and the run-agreement comparison. Pure functions, covered by
enginebench/tests/test_stats.py."""
import statistics

# Percentiles a tail metric may report, highest first.
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(xs, n=4) gives them."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def rank(p, n):
    """1-based nearest rank of the p-th percentile of n samples, in exact
    integer arithmetic (percentiles are given to a tenth)."""
    return max(1, -(-round(p * 10) * n // 1000))


def tail_percentile(n):
    """The highest candidate percentile with at least ten of `n` samples
    strictly beyond it, or None when even the median has fewer."""
    for p in TAIL_CANDIDATES:
        if n - rank(p, n) >= 10:
            return p
    return None


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    return sorted(xs)[rank(p, len(xs)) - 1]


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start, end, children):
    """A span's duration minus the part of it its children cover (children
    clipped to the span; overlapping children counted once)."""
    clipped = [(max(start, s), min(end, e)) for s, e in children]
    return (end - start) - union_length(clipped)


def spread(values):
    """Distance between the first and third quartile, as a share of the
    median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else float("inf")


def worse_by(first, second, better):
    """How much worse the median of `second` is than that of `first`, as a
    share of the first median (negative when it is better)."""
    a, b = median(first), median(second)
    return (b - a) / a if better == "lower" else (a - b) / a


def agree(first, second, bound, better):
    """The acceptance rule for two sets of runs of the same code: the second
    median may not be worse than the first by more than `bound`."""
    return worse_by(first, second, better) <= bound

"""Quartiles and the pairwise comparison rule shared by sweep.py and compare.py."""
import statistics


def quartiles(values):
    """(q1, median, q3) as Python's statistics.quantiles(n=4) gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def relative_spread(values):
    """Distance between the first and third quartile, as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else float("inf")


def verdict(parent, change, better, bound=None):
    """Compare runs of one metric on one workload, paired by position.

    improved:   the change wins at least nine tenths of the pairs (ties count
                for neither) and its median is better than the parent's by
                more than the parent's own quartile distance;
    worse:      with a bound (an end-to-end metric), the change's median is
                worse than the parent's by more than the bound; without one
                (a per-layer metric), the improved rule the other way round;
    unresolved: with a bound, the parent's spread is wider than the bound and
                not every run of the change reads better than every parent run;
    unchanged:  otherwise.

    Returns (verdict, share of pairs the change won).
    """
    if len(parent) != len(change) or not parent:
        raise ValueError("need the same, non-zero number of runs on each side")
    sign = 1 if better == "lower" else -1
    # positive: the change is better
    gains = [sign * (p - c) for p, c in zip(parent, change)]
    wins = sum(g > 0 for g in gains) / len(gains)
    losses = sum(g < 0 for g in gains) / len(gains)
    q1, pmed, q3 = quartiles(parent)
    gain = sign * (pmed - statistics.median(change))
    if wins >= 0.9 and gain > q3 - q1:
        return "improved", wins
    if bound is None:
        return ("worse" if losses >= 0.9 and -gain > q3 - q1 else "unchanged"), wins
    all_better = all(sign * (p - c) > 0 for p in parent for c in change)
    if relative_spread(parent) > bound and not all_better:
        return "unresolved", wins
    if -gain > bound * abs(pmed):
        return "worse", wins
    return "unchanged", wins

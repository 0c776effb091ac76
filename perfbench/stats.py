"""Arithmetic the benchmark reports with: medians and quartiles, the tail
percentile rule, span self time, and the pair-win rule for claiming a gain."""
import math
import statistics


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """First quartile, median and third quartile, as
    `statistics.quantiles(xs, n=4)` gives them."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def tail(xs, beyond=10):
    """The highest whole percentile that has at least `beyond` samples above
    it, by the nearest-rank method. Returns (percentile, value, n)."""
    n = len(xs)
    if n <= beyond:
        raise ValueError(f"{n} samples leave none with {beyond} beyond")
    s = sorted(xs)
    for p in range(99, 0, -1):
        rank = math.ceil(p * n / 100)
        if n - rank >= beyond:
            return p, s[rank - 1], n
    raise ValueError(f"{n} samples leave none with {beyond} beyond")


def covered(start, end, children):
    """Length of [start, end] covered by the union of the child intervals."""
    clipped = sorted((max(start, s), min(end, e)) for s, e in children
                     if min(end, e) > max(start, s))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
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
    """A span's duration minus the part of it its children cover."""
    return (end - start) - covered(start, end, children)


def pair_win(parent, change, better="lower"):
    """The gain rule for paired runs of a parent and a change.

    A gain is claimed only when the change wins at least nine tenths of the
    pairs (ties count for neither side) and the medians differ, in the
    better direction, by more than the parent's interquartile distance.
    Returns (claimed, wins, pairs)."""
    if len(parent) != len(change) or not parent:
        raise ValueError("need equally many parent and change runs")
    sign = 1 if better == "lower" else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    q1, _, q3 = quartiles(parent)
    gap = sign * (median(parent) - median(change))
    claimed = wins >= 0.9 * len(parent) and gap > q3 - q1
    return claimed, wins, len(parent)

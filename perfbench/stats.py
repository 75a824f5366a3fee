"""Arithmetic the benchmark reports with: percentiles, the tail rule and
span self time. Pure functions, no Spark."""

from __future__ import annotations

import math

TAIL_BEYOND = 10  # a tail percentile needs at least this many samples beyond it


def percentile(values, q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0..100) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int, beyond: int = TAIL_BEYOND) -> int:
    """The highest whole percentile with at least ``beyond`` of ``n``
    samples above it; the median when ``n`` is too small for any tail."""
    if n <= 2 * beyond:
        return 50
    return math.floor(100 * (n - beyond) / n)


def tail(values, beyond: int = TAIL_BEYOND) -> tuple[float, int, int]:
    """(value, percentile, sample count) of the tail rule."""
    q = tail_percentile(len(values), beyond)
    return percentile(values, q), q, len(values)


def covered(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
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


def self_time(span: tuple[float, float], children) -> float:
    """A span's duration minus the part of it its children cover; children
    may overlap each other (they run on a thread pool) and are clipped to
    the span."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children if ce > s and cs < e]
    return (e - s) - covered(clipped)

"""Metric math shared by the benchmark's worker and its self-tests."""

from __future__ import annotations

import statistics


def tail(samples: list[float], beyond: int = 10) -> tuple[float, float]:
    """The highest percentile with at least ``beyond`` samples above it.

    Returns ``(value, percentile)``. With ``n`` sorted samples the value is
    the ``n - beyond``-th smallest, at percentile ``100 * (n - beyond) / n``.
    When that percentile would fall at or below the median (``n < 2 *
    beyond``) the data support no tail percentile above it, and the slowest
    sample is reported at percentile 100 instead.
    """
    if not samples:
        raise ValueError("tail of no samples")
    xs = sorted(samples)
    n = len(xs)
    k = n - beyond
    if 2 * k <= n:
        return xs[-1], 100.0
    return xs[k - 1], 100.0 * k / n


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of ``(start, end)`` intervals."""
    covered, reach = 0.0, float("-inf")
    for start, end in sorted(intervals):
        if end <= reach:
            continue
        covered += end - max(start, reach)
        reach = end
    return covered


def self_time(span: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover."""
    start, end = span
    clipped = [(max(s, start), min(e, end)) for s, e in children if e > start and s < end]
    return (end - start) - union_length(clipped)


def error_rate(attempted: int, failed: int, mismatched: int) -> float:
    """Ops that raised or failed their output check, over ops attempted.

    An op that both raised and mismatched cannot happen (a raised op has no
    output to check), so the two counts add."""
    if attempted < 1:
        raise ValueError("no ops attempted")
    if failed + mismatched > attempted:
        raise ValueError("more bad ops than attempted")
    return (failed + mismatched) / attempted


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def mean(values: list[float]) -> float:
    return statistics.fmean(values) if values else 0.0

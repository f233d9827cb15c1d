"""Latency summaries: median, the tail percentile rule, and the two
per-operation aggregates the result line reports."""

from __future__ import annotations

import math

TAIL_BEYOND = 10
SLOW_SHARE = 0.25


def nearest_rank(sorted_values: list[float], rank: int) -> float:
    """Value at 1-based ``rank`` of an ascending list."""
    return sorted_values[min(max(rank, 1), len(sorted_values)) - 1]


def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2.0


def gmean(values: list[float]) -> float:
    """Geometric mean of positive values: each operation weighs the same
    whatever its size, so a 5 ms statement and a 5 s one count alike."""
    if not values:
        raise ValueError("geometric mean of no samples")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def slowest_mean(values: list[float], share: float = SLOW_SHARE) -> float:
    """Mean of the slowest ``share`` of the values, at least one of them.

    Unlike a single order statistic it moves smoothly when two values
    swap places, so it stays steady on a handful of unlike operations."""
    if not values:
        raise ValueError("slowest mean of no samples")
    s = sorted(values, reverse=True)
    k = max(1, math.ceil(share * len(s)))
    return sum(s[:k]) / k


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> dict:
    """The highest percentile that has at least ``beyond`` samples above
    it, never below the median.

    With ``n`` samples the value at nearest rank ``n - beyond`` has
    exactly ``beyond`` samples beyond it. When ``n < 2 * beyond + 2``
    that rank is not above the median, so the rank just above the middle
    (``n // 2 + 1``) is reported instead and ``samples_beyond`` says how
    many samples lie above it.
    """
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("tail of no samples")
    rank = max(n - beyond, n // 2 + 1)
    return {
        "value": nearest_rank(s, rank),
        "percentile": round(100.0 * rank / n, 2),
        "samples": n,
        "samples_beyond": n - rank,
    }

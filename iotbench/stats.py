"""Percentile rule and due-time latency."""

from __future__ import annotations

import math
import statistics
from typing import Iterable, Sequence

MIN_BEYOND = 10


def tail_percentile(
    samples: Sequence[float], want: float = 0.99, min_beyond: int = MIN_BEYOND
) -> tuple[float, float]:
    """The ``want`` percentile, or the highest percentile below it that
    still has at least ``min_beyond`` samples above it (nearest rank).

    Returns ``(level, value)``. With ``min_beyond`` samples or fewer no
    percentile qualifies and the maximum is returned at level 1.0."""
    n = len(samples)
    if n == 0:
        raise ValueError("no samples")
    xs = sorted(samples)
    if n <= min_beyond:
        return 1.0, xs[-1]
    rank = min(math.ceil(want * n - 1e-9), n - min_beyond)
    return rank / n, xs[rank - 1]


def unit_percentiles(units: Sequence[Sequence[float]]) -> tuple[float, float, float]:
    """Median and tail latency over timed units (passes, drains, a feed).

    Each unit's median and ``tail_percentile`` are taken within the
    unit, and the median over units is reported, so that one slow unit
    of several does not set the tail. Returns ``(p50, tail level, tail)``;
    the level is the lowest any unit reached."""
    tails = [tail_percentile(u) for u in units]
    return (
        median([median(u) for u in units]),
        min(lvl for lvl, _ in tails),
        median([v for _, v in tails]),
    )


def due_latencies_ms(
    receipts: Iterable[tuple[int, float]], t0: float, interval_s: float
) -> list[float]:
    """Latency of each result from the moment its input file was DUE.

    ``receipts`` holds (file number, wall time the sink received the
    result); file k is due at ``t0 + k * interval_s`` whether or not the
    generator or the system kept up, so a stall also delays every file
    due during it."""
    return [(t - (t0 + k * interval_s)) * 1000.0 for k, t in receipts]


def median(xs: Sequence[float]) -> float:
    return float(statistics.median(xs))


def quartiles(xs: Sequence[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(n=4)`` gives them."""
    if len(xs) < 2:
        x = float(xs[0])
        return x, x, x
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3

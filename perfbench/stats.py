"""Summary statistics shared by the generator, the worker and the runner."""

from __future__ import annotations

import math
import statistics
import time

# Percentiles tried, highest first, when reporting a distribution's tail.
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank ``q``-th percentile (0 < q <= 100); +inf values sort last."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    return ordered[_rank(q, len(ordered)) - 1]


def _rank(q: float, n: int) -> int:
    # round before ceil so that 99.9 % of 10,000 is rank 9990, not 9991
    return max(1, math.ceil(round(q / 100.0 * n, 9)))


def tail_percentile(values: list[float], min_beyond: int = 10) -> tuple[float, float] | None:
    """Highest candidate percentile that still has at least ``min_beyond``
    samples above its rank, as ``(q, value)``; None when even the median
    has fewer than ``min_beyond`` samples beyond it."""
    n = len(values)
    for q in TAIL_CANDIDATES:
        if n - _rank(q, n) >= min_beyond:
            return q, percentile(values, q)
    return None


def due_latencies_ms(records: list[dict]) -> list[float]:
    """Open-loop latency of each request, measured from when it was *due*,
    so a stall that delays later sends is charged to those requests too.
    A failed request counts as missing every limit (+inf)."""
    return [
        (r["done"] - r["due"]) * 1e3 if r["ok"] else math.inf
        for r in records
    ]


def quartile_spread(values: list[float]) -> dict:
    """Median, quartiles and (q3 - q1) / median, as statistics.quantiles
    gives them (the same rule the acceptance check uses)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": q2, "q1": q1, "q3": q3, "spread": (q3 - q1) / q2 if q2 else math.inf}


def finite_ms(value: float, cap_ms: float) -> float:
    """JSON has no infinity: a percentile that landed on a failed request
    is reported as ``cap_ms`` (the whole measuring window), which misses
    any latency limit the window could test."""
    return cap_ms if math.isinf(value) else value


def host_probe_s(n: int = 2_000_000) -> float:
    """Single-core CPython loop: a host-speed diagnostic recorded with every
    run. It is never used to normalise a metric."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i * i
    return time.perf_counter() - t0

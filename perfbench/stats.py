"""Latency statistics and failure accounting for the benchmark."""

from __future__ import annotations

import math
import threading

MIN_BEYOND = 10  # a reported tail needs at least this many samples above it


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``
    percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def beyond(n: int, p: float) -> int:
    """Samples strictly above the nearest-rank ``p`` percentile of ``n``."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail_percentile(n: int) -> int | None:
    """The highest whole percentile (50..99) with at least MIN_BEYOND
    samples beyond it, or None when even the median has fewer."""
    for p in range(99, 49, -1):
        if beyond(n, p) >= MIN_BEYOND:
            return p
    return None


def median(values: list[float]) -> float:
    return percentile(values, 50)


class Outcomes:
    """Attempted / failed operation counts. An operation fails when it
    raises or when its output is found wrong; each operation counts once
    however many ways it failed. Thread-safe (client threads record)."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.attempted = 0
        self._failed: set[int] = set()

    def attempt(self) -> int:
        with self._lock:
            self.attempted += 1
            return self.attempted - 1

    def fail(self, op: int) -> None:
        with self._lock:
            if not 0 <= op < self.attempted:
                raise ValueError(f"unknown operation {op}")
            self._failed.add(op)

    @property
    def failed(self) -> int:
        return len(self._failed)

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0

"""Types shared by the benchmark's workloads and its entry point."""

from __future__ import annotations

import os
from dataclasses import dataclass, field


@dataclass
class Context:
    """What a workload gets: seed, window length, trace flag, a private
    temp dir and the Spark session."""

    seed: int
    seconds: float
    trace: bool
    tmp: str
    spark: object = None
    session_start_s: float = 0.0
    sc_jobs: object = None  # () -> total Spark jobs submitted so far

    def dir(self, *parts: str) -> str:
        """A directory inside this run's temp dir (created)."""
        p = os.path.join(self.tmp, *parts)
        os.makedirs(p, exist_ok=True)
        return p


@dataclass
class Result:
    metrics: dict[str, float]          # end-to-end (untraced) or per-layer
    attempted: int
    failed: int
    window_open: float                 # perf_counter when measuring began
    detail: dict = field(default_factory=dict)
    tracer: object = None              # the traced run's Tracer

"""In-memory span tracing, installed around the program's public
functions from outside the program.

``Tracer.install`` replaces each target function (module function,
method, classmethod) with a wrapper that records a span: name, layer,
thread, start, end, parent span and request id. Module functions are
replaced in every loaded module of the package that imported them by
name, so ``from x import f`` call sites are traced too. ``uninstall``
restores the originals. Spans stay in memory until ``dump``.

A layer's self time is its spans' duration minus the part of each
span's interval that its child spans cover.
"""

from __future__ import annotations

import itertools
import json
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from typing import Any, Callable


@dataclass
class Span:
    id: int
    name: str
    layer: str
    thread: int
    start: float
    end: float
    parent: int | None
    request: str | None
    jobs: int | None = None


@dataclass
class Target:
    """One function to trace. ``after(result)`` runs inside the span and
    returns the result; it must start no Spark work."""

    owner: Any
    attr: str
    name: str
    layer: str
    after: Callable[[Any], Any] | None = None


class Tracer:
    def __init__(self, job_counter: Callable[[], int] | None = None):
        # job_counter: total jobs submitted so far; only meaningful when
        # one thread drives the program (spans then own a job delta)
        self.job_counter = job_counter
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ids = itertools.count()
        self._restore: list[tuple[Any, str, Any]] = []

    # ------------------------------------------------------------ recording

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def request(self, request_id: str):
        prev = getattr(self._local, "request", None)
        self._local.request = request_id
        try:
            yield
        finally:
            self._local.request = prev

    @contextmanager
    def span(self, name: str, layer: str):
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        stack.append(sid)
        j0 = self.job_counter() if self.job_counter else None
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            jobs = self.job_counter() - j0 if self.job_counter else None
            s = Span(sid, name, layer, threading.get_ident(), start, end, parent,
                     getattr(self._local, "request", None), jobs)
            with self._lock:
                self.spans.append(s)

    def count(self, key: str, n: float = 1) -> None:
        with self._lock:
            self.counters[key] += n

    def wrap(self, fn: Callable, t: Target) -> Callable:
        def traced(*args, **kwargs):
            with self.span(t.name, t.layer):
                out = fn(*args, **kwargs)
                if t.after is not None:
                    out = t.after(out)
                return out

        traced.__wrapped__ = fn
        traced.__name__ = getattr(fn, "__name__", t.name)
        return traced

    # ---------------------------------------------------------- installing

    def install(self, targets: list[Target], package: str = "wren_engine_spark") -> None:
        for t in targets:
            raw = t.owner.__dict__[t.attr] if isinstance(t.owner, type) else getattr(t.owner, t.attr)
            if isinstance(raw, (classmethod, staticmethod)):
                new = type(raw)(self.wrap(raw.__func__, t))
                self._set(t.owner, t.attr, new)
                continue
            new = self.wrap(raw, t)
            self._set(t.owner, t.attr, new)
            if isinstance(t.owner, type):
                continue
            # module function: also rebind names other modules imported
            for mod in list(sys.modules.values()):
                if mod is t.owner or not getattr(mod, "__name__", "").startswith(package):
                    continue
                for k, v in list(vars(mod).items()):
                    if v is raw:
                        self._set(mod, k, new)

    def _set(self, owner: Any, attr: str, value: Any) -> None:
        self._restore.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        for owner, attr, old in reversed(self._restore):
            setattr(owner, attr, old)
        self._restore.clear()

    # ------------------------------------------------------------ reading

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> seconds not covered by its child spans."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - covered(children.get(s.id, []), s.start, s.end)
        for s in spans
    }


def layer_self_seconds(spans: list[Span]) -> dict[str, float]:
    st = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.layer] += st[s.id]
    return dict(out)

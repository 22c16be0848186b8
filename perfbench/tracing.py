"""In-memory spans for the traced benchmark run.

A span records name, start, end, its parent span and the request it
belongs to; spans nest per thread, so concurrent clients never adopt
each other's parents. Spans stay in memory until the run ends.

:func:`traced_engine` installs counting wrappers on the two engine
functions operators import at call time —
``covid_engineering_spark.functions.evicting_cache`` and
``covid_engineering_spark.functions.partitioning.fan_out`` — so every
call from any operator is seen without touching the engine's code.
"""

from __future__ import annotations

import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    request: str | None
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, clock=time.perf_counter):
        self._clock = clock
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str, request: str | None = None, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        if request is None and parent is not None:
            request = parent.request
        s = Span(
            id=next(self._ids),
            name=name,
            start=self._clock(),
            parent=parent.id if parent else None,
            request=request,
            attrs=attrs,
        )
        stack.append(s)
        try:
            yield s
        finally:
            s.end = self._clock()
            stack.pop()
            with self._lock:
                self.spans.append(s)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of its interval that its
    child spans cover (overlapping children are counted once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s.id, ()), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = s.duration - covered
    return out


@contextmanager
def traced_engine(tracer: Tracer):
    """Wrap the engine's cache and fan-out entry points for the duration
    of the block. A cache call is a hit when ``evicting_cache`` hands
    back an already-cached frame instead of caching the one passed in;
    a fan-out call is applied when it returns a repartitioned frame."""
    import covid_engineering_spark.functions as functions
    from covid_engineering_spark.functions import partitioning

    orig_cache = functions.evicting_cache
    orig_fan = partitioning.fan_out

    def evicting_cache(df, key, storage_level=None):
        with tracer.span("functions.caching.evicting_cache") as s:
            out = orig_cache(df, key, storage_level)
            s.attrs["hit"] = out is not df
        return out

    def fan_out(df):
        with tracer.span("functions.partitioning.fan_out") as s:
            out = orig_fan(df)
            s.attrs["applied"] = out is not df
        return out

    functions.evicting_cache = evicting_cache
    partitioning.fan_out = fan_out
    try:
        yield tracer
    finally:
        functions.evicting_cache = orig_cache
        partitioning.fan_out = orig_fan

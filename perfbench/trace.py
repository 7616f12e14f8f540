"""In-memory spans around calls into the program's layers.

A span has a name, a layer, start and end times, the span that caused
it and the run it belongs to. Spans stay in memory until the run ends,
when run.py writes them into the run record. A span's self time is its
duration minus the part of its interval its direct children cover.
"""

from __future__ import annotations

import functools
import itertools
import sys
import threading
import time
from collections import defaultdict
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    run_id: str

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return {
        s.id: s.duration - covered(children[s.id], s.start, s.end)
        for s in spans
    }


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    out: dict[str, float] = defaultdict(float)
    own = self_times(spans)
    for s in spans:
        out[s.layer] += own[s.id]
    return dict(out)


class Tracer:
    def __init__(self, run_id: str, clock: Callable[[], float] = time.perf_counter):
        self.run_id = run_id
        self.clock = clock
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, layer: str):
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = self.clock()
        try:
            yield sid
        finally:
            end = self.clock()
            stack.pop()
            self.spans.append(Span(sid, name, layer, start, end, parent, self.run_id))

    def wrap(self, fn: Callable, name: str, layer: str) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        traced.__wrapped_by_tracer__ = fn
        return traced

    def patch_attr(self, owner: object, attr: str, name: str, layer: str) -> None:
        """Replace ``owner.attr`` with a traced wrapper until :meth:`unpatch`."""
        original = getattr(owner, attr)
        self._patches.append((owner, attr, original))
        setattr(owner, attr, self.wrap(original, name, layer))

    def patch_function(self, fn: Callable, name: str, layer: str, prefix: str) -> None:
        """Trace ``fn`` wherever a module under ``prefix`` bound it by name
        (``from x import fn`` copies the reference into the importer)."""
        wrapper = self.wrap(fn, name, layer)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(prefix):
                continue
            for attr, value in list(vars(mod).items()):
                if value is fn:
                    self._patches.append((mod, attr, fn))
                    setattr(mod, attr, wrapper)

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

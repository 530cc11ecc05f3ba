"""In-memory spans around calls into the engine's layers.

The benchmark wraps the public functions of each layer from the outside
(the engine itself carries no tracing). A span records its name, start,
end and parent; a layer's self time is its spans' durations minus the
part covered by their child spans.
"""

from __future__ import annotations

import functools
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds per span name, each span less the union of its children
    (clipped to the parent's interval)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered = union_length([(max(c.start, s.start), min(c.end, s.end))
                                for c in children.get(s.id, [])
                                if c.end > s.start and c.start < s.end])
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
    return out


class Tracer:
    """Records spans; ``on_enter``/``on_exit`` let the caller tag work
    done inside a span (the benchmark sets a Spark job group)."""

    def __init__(self, on_enter: Callable[[Span], None] | None = None,
                 on_exit: Callable[[Span, Span | None], None] | None = None):
        self.spans: list[Span] = []
        self.enabled = False
        self._stack: list[Span] = []
        self._on_enter, self._on_exit = on_enter, on_exit
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None,
                 time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        if self._on_enter:
            self._on_enter(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self._on_exit:
                self._on_exit(s, parent)

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a function that runs it in a span
        named ``name``; ``restore`` puts the original back."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        self._patched.append((owner, attr, original))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

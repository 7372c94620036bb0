"""In-memory spans for the traced run.

A span is ``(name, start, end, parent, run_id)``: the tracer keeps a stack,
so a span opened inside another records it as its parent. Spans stay in
memory until the run ends and ``dump`` writes them out. A span's *self
time* is its duration minus the part of its interval that its children
cover (children may overlap each other; their union is what counts).
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals: list[tuple[float, float]],
                 lo: float = float("-inf"), hi: float = float("inf")) -> float:
    """Total length of the union of ``intervals``, each clipped to
    ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
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
    """Self time of every span, keyed by span id."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.duration - union_length(kids.get(s.id, []), s.start, s.end)
            for s in spans}


class Tracer:
    """Records spans while ``enabled``; otherwise ``span`` is a no-op, so
    the untraced passes pay one attribute check per boundary."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = Span(len(self.spans), name, time.perf_counter(),
                 parent=self._stack[-1] if self._stack else None,
                 run_id=self.run_id, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span called ``name``."""
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        traced.__wrapped__ = fn
        return traced

    def dump(self, path: str) -> None:
        """Write every span, with its self time, as JSON lines."""
        st = self_times(self.spans)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({**asdict(s), "self": st[s.id]}) + "\n")

"""In-memory spans for the traced benchmark run.

A span records one call into a layer as seen from the benchmark: name,
start, end, the span that caused it, and the operation it belongs to.
Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    parent_id: int | None
    op_id: int | None
    name: str
    start: float
    end: float

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op, so
    the untraced run pays nothing but a function call per boundary."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._next_span = 0
        self._next_op = 0
        self.op_id: int | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = self._next_span
        self._next_span += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans.append(Span(sid, parent, self.op_id, name, t0, t1))

    @contextlib.contextmanager
    def operation(self, name: str):
        """A root span with a fresh operation id shared by its children."""
        prev = self.op_id
        self.op_id = self._next_op
        self._next_op += 1
        try:
            with self.span(name):
                yield
        finally:
            self.op_id = prev

    def durations(self, name: str, ops=None) -> list[float]:
        """Durations of the ``name`` spans, of the operations ``ops`` only
        when given."""
        return [s.duration for s in self.spans
                if s.name == name and (ops is None or s.op_id in ops)]

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def layer_table(spans: list[Span]) -> list[tuple[str, int, float, float]]:
    """Per span name: (name, count, busy seconds, self seconds), where a
    span's self time is its duration minus the part of its interval its
    child spans cover. Sorted by self time, largest first."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent_id is not None:
            children.setdefault(s.parent_id, []).append((s.start, s.end))
    rows: dict[str, list] = {}
    for s in spans:
        kids = [(max(a, s.start), min(b, s.end))
                for a, b in children.get(s.span_id, [])]
        own = s.duration - _covered([k for k in kids if k[1] > k[0]])
        r = rows.setdefault(s.name, [s.name, 0, 0.0, 0.0])
        r[1] += 1
        r[2] += s.duration
        r[3] += own
    return sorted((tuple(r) for r in rows.values()), key=lambda r: -r[3])


def format_table(rows: list[tuple[str, int, float, float]]) -> str:
    out = [f"{'span':<24}{'count':>7}{'busy_s':>11}{'self_s':>11}"]
    out += [f"{n:<24}{c:>7}{b:>11.4f}{s:>11.4f}" for n, c, b, s in rows]
    return "\n".join(out)

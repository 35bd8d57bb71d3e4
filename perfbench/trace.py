"""In-memory spans and counts, written out when the run ends.

A span is (name, start, end, parent, op id); its layer is the name up
to the first dot.  A layer's self time is the time its spans cover
minus the part of that interval their child spans cover.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    """Records spans and per-op counts.  ``enabled=False`` makes every
    call a no-op, so the untraced run pays only a branch."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: dict[int | None, dict[str, float]] = defaultdict(dict)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        s = Span(sid, name, time.perf_counter(), 0.0, parent, op)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def count(self, op: int | None, name: str, value: float) -> None:
        """Add ``value`` to counter ``name`` of op ``op``."""
        if self.enabled:
            ops = self.counts[op]
            ops[name] = ops.get(name, 0.0) + value

    def dump(self, path: str, header: dict) -> None:
        """Write ``header``, the spans and the counts as one JSON object."""
        with open(path, "w") as f:
            json.dump(
                {
                    **header,
                    "spans": [asdict(s) for s in self.spans],
                    "counts": {str(k): v for k, v in self.counts.items()},
                },
                f,
            )


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
    total = 0.0
    cur_start = cur_end = None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[tuple[int | None, str], float]:
    """Self time in seconds per (op id, layer): each span's duration
    minus the union of its children's intervals clipped to it."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out: dict[tuple[int | None, str], float] = defaultdict(float)
    for s in spans:
        kids = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.id, ())
            if c.end > s.start and c.start < s.end
        ]
        out[(s.op, s.layer)] += (s.end - s.start) - _covered(kids)
    return dict(out)

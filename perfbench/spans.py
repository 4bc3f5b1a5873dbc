"""In-memory span recorder for the traced run.

A span has a name, start, end, parent span and the id of the batch it
belongs to. Spans stay in memory and are written out once, when the
run ends. A span's self time is its duration minus the part of it its
child spans cover."""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

MATERIALIZE = "materialize"
PROBE = "probe"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    batch: str | None
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.batch: str | None = None

    @contextmanager
    def span(self, name: str):
        s = Span(id=len(self.spans), name=name,
                 parent=self._stack[-1] if self._stack else None,
                 batch=self.batch, start=time.monotonic())
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.monotonic()

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        covered = _union_length([(c.start, c.end) for c in self.children(span)])
        return span.duration - covered

    def total_self(self, name: str) -> float:
        return sum(self.self_time(s) for s in self.spans if s.name == name)

    def total(self, name: str) -> float:
        return sum(s.duration for s in self.spans if s.name == name)

    def per_batch_self(self, name: str) -> list[float]:
        """Self time of ``name`` summed within each batch, in order."""
        out: dict = {}
        for s in self.spans:
            if s.name == name:
                out[s.batch] = out.get(s.batch, 0.0) + self.self_time(s)
        return list(out.values())

    def dump(self, path: str) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        with open(path, "w") as fh:
            for s in self.spans:
                rec = asdict(s)
                rec["start"] = round(s.start - t0, 6)
                rec["end"] = round(s.end - t0, 6)
                rec["self"] = round(self.self_time(s), 6)
                fh.write(json.dumps(rec, sort_keys=True) + "\n")


def _union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total

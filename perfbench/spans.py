"""In-memory spans for the traced run.

A span records its name, start, end, parent and trace id, plus the Spark
counters of the stages, jobs and SQL executions submitted while it was
the innermost open span. Spans are written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass, field

from sparkmetrics import COUNTERS


@dataclass
class Span:
    name: str
    trace_id: str
    start: float
    parent: int | None
    end: float = 0.0
    counters: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0.0))

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, metrics=None):
        self.metrics = metrics
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._snap = metrics.snapshot() if metrics else None

    def _charge_open_span(self) -> None:
        """Bill what ran since the last boundary to the innermost span."""
        if self.metrics is None:
            return
        delta, self._snap = self.metrics.since(self._snap)
        if self._stack:
            c = self.spans[self._stack[-1]].counters
            for k, v in delta.items():
                c[k] += v

    @contextlib.contextmanager
    def span(self, name: str, trace_id: str):
        self._charge_open_span()
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, trace_id, time.perf_counter(), parent))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self._charge_open_span()
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()

    def self_time(self, idx: int) -> float:
        """Duration minus the part covered by child spans."""
        span = self.spans[idx]
        kids = sorted((s.start, s.end) for s in self.spans if s.parent == idx)
        covered, cur_start, cur_end = 0.0, None, None
        for a, b in kids:
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        return span.duration - covered

    def _outermost(self, idx: int) -> bool:
        name, p = self.spans[idx].name, self.spans[idx].parent
        while p is not None:
            if self.spans[p].name == name:
                return False
            p = self.spans[p].parent
        return True

    def by_layer(self) -> dict[str, dict]:
        """Per span name: inclusive wall (outermost spans only), self
        time and self counters, summed over all traces."""
        out: dict[str, dict] = {}
        for i, s in enumerate(self.spans):
            acc = out.setdefault(s.name, {"wall_s": 0.0, "self_s": 0.0,
                                          **dict.fromkeys(COUNTERS, 0.0)})
            if self._outermost(i):
                acc["wall_s"] += s.duration
            acc["self_s"] += self.self_time(i)
            for k, v in s.counters.items():
                acc[k] += v
        return out

    def dump(self, path: str) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                rec = asdict(s)
                rec.update(id=i, start=s.start - t0, end=s.end - t0,
                           self_s=self.self_time(i))
                fh.write(json.dumps(rec) + "\n")

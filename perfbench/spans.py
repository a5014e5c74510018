"""In-memory spans around the benchmark's own calls into the package.

A span records its name, start, end (epoch ms, the clock Spark's event
log uses) and the span that caused it. While a span is open on the
benchmark's thread, its id is that thread's Spark job group, so the
event-log parser can attribute jobs and tasks to it. Jobs the package
submits from its own threads carry no group; those are attributed by
scheduler pool or by submission time (see ``eventlog.attribute``).

With tracing off, ``span`` yields without touching Spark or the clock.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start_ms: float
    end_ms: float = 0.0
    pool: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0


class Tracer:
    def __init__(self, sc=None, enabled: bool = False):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(f"s{len(self.spans)}", name, parent.id if parent else None,
                  time.time() * 1000.0, attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.id, name)
        try:
            yield sp
        finally:
            sp.end_ms = time.time() * 1000.0
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.id, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def add(self, name: str, start_ms: float, end_ms: float, parent: Span | None,
            pool: str | None = None) -> Span | None:
        """A span whose bounds were measured elsewhere (e.g. the pipeline's
        own phase marks); ``pool`` claims the jobs of that scheduler pool."""
        if not self.enabled:
            return None
        sp = Span(f"s{len(self.spans)}", name, parent.id if parent else None,
                  start_ms, end_ms, pool)
        self.spans.append(sp)
        return sp

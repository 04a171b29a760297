"""In-memory spans around the benchmark's calls into each layer.

A span records name, start, end and its parent. The span opened around one
query execution (or one ingest round) owns an id; with tracing on, every
call inside it runs under the Spark job group ``<id>/<span name>``, so
Spark's job, stage and task accounting is attributed at the same
boundaries. With tracing off, spans still time their block (the
end-to-end metrics need that) but nothing is recorded and no job group is
set. Spans are written out only when the run ends.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    group: str | None
    start: float  # epoch seconds, comparable with Spark's stage times
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._sc = spark.sparkContext
        self._ids = itertools.count(1)
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, tag_jobs: bool = False, **attrs):
        """Time a block. With tracing on, record it and, if ``tag_jobs``,
        run its Spark jobs under group ``<parent span id>/<name>``."""
        parent = self._stack[-1] if self._stack else None
        sid = next(self._ids)
        group = None
        if self.enabled and tag_jobs:
            group = f"{parent.id if parent else sid}/{name}"
            self._sc.setJobGroup(group, name)
        sp = Span(sid, name, parent.id if parent else None, group, time.time(), attrs=attrs)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if group is not None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            if self.enabled:
                self.spans.append(sp)

    def self_seconds(self) -> dict[int, float]:
        """Span duration minus the time its child spans cover."""
        child = {}
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] = child.get(sp.parent, 0.0) + sp.seconds
        return {sp.id: sp.seconds - child.get(sp.id, 0.0) for sp in self.spans}

    def dump(self, path: str, extra: dict) -> None:
        own = self.self_seconds()
        rows = [dict(asdict(sp), seconds=sp.seconds, self_seconds=own[sp.id]) for sp in self.spans]
        with open(path, "w") as f:
            json.dump({"spans": rows, **extra}, f)

"""In-memory spans and Spark stage counters, recorded from outside the
program.

A span wraps one call from the benchmark into a module of the program
(``sinks.write_partition_batches``, ``registry.QUERIES[q]``, ...). Spans
record name, start, end, parent and repetition id, stay in memory and
are written out once, when the run ends. Stage counters come from
Spark's status store (works with the UI disabled) and are diffed around
a span. With tracing off every method is a no-op.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Executor-summary fields summed over executors, diffed around a span.
_EXECUTOR_FIELDS = {
    "tasks": "completedTasks",
    "failed_tasks": "failedTasks",
    "shuffle_read_bytes": "totalShuffleRead",
    "shuffle_write_bytes": "totalShuffleWrite",
    "input_bytes": "totalInputBytes",
    "gc_ms": "totalGCTime",
}


def stage_counters(spark, spill: bool = False) -> dict[str, int]:
    """Cumulative task counters of the application so far. ``spill``
    adds spilled bytes, summed over every retained stage (slower: one
    call per stage)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = dict.fromkeys(_EXECUTOR_FIELDS, 0)
    execs = store.executorList(True)
    for i in range(execs.size()):
        e = execs.apply(i)
        for key, getter in _EXECUTOR_FIELDS.items():
            out[key] += int(getattr(e, getter)())
    if spill:
        stages = store.stageList(
            spark.sparkContext._jvm.java.util.ArrayList(), False, False,
            getattr(store, "stageList$default$4")(), None,
        )
        out["spill_bytes"] = sum(
            int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled())
            for s in (stages.apply(i) for i in range(stages.size()))
        )
    return out


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    rep: int
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Records spans when ``enabled``; otherwise every call is free of
    work beyond a flag test."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self.rep = 0
        self._stack: list[int] = []
        self.overhead_s = 0.0  # time spent inside the tracer itself

    @contextmanager
    def span(self, name: str, counters: bool = False, **attrs):
        """Time the enclosed block as span ``name``. With ``counters``,
        also diff the stage counters around it."""
        if not self.enabled:
            yield
            return
        t = time.perf_counter()
        before = stage_counters(self.spark) if counters else None
        idx = len(self.spans)
        self.spans.append(Span(name, 0.0, 0.0, self._stack[-1] if self._stack else None, self.rep, dict(attrs)))
        self._stack.append(idx)
        start = time.perf_counter()
        self.overhead_s += start - t
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            sp = self.spans[idx]
            sp.start, sp.end = start, end
            if before is not None:
                after = stage_counters(self.spark)
                sp.attrs.update({k: after[k] - before[k] for k in after})
            self.overhead_s += time.perf_counter() - end

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """Record a span measured elsewhere (e.g. streaming progress)."""
        if self.enabled:
            self.spans.append(Span(name, start, end, self._stack[-1] if self._stack else None, self.rep, attrs))

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the time its
        direct children cover (children here never overlap)."""
        child = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] += sp.end - sp.start
        out: dict[str, float] = {}
        for i, sp in enumerate(self.spans):
            out[sp.name] = out.get(sp.name, 0.0) + (sp.end - sp.start) - child[i]
        return out

    def dump(self, path: str, layers: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "layers": layers,
                    "self_s": self.self_times(),
                    "spans": [sp.__dict__ for sp in self.spans],
                },
                f,
                indent=1,
            )

"""Per-layer tracing, recorded from outside the program.

A span is (name, start, end, parent, op id), kept in memory and written
once when the run ends. In a traced op every span also sets the Spark
job group, so each job the layer launches is counted to it. An
untraced op runs the same code with every span a no-op.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession


def stage(df: DataFrame) -> DataFrame:
    """Materialize a lazy layer's output once; later consumers read the
    checkpointed blocks instead of re-running the layer."""
    return df.localCheckpoint(eager=True)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int


@dataclass
class OpTrace:
    op: int
    wall: float = 0.0
    spans: list[int] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    jobs: dict[str, int] = field(default_factory=dict)
    gc_s: float = 0.0


class Tracer:
    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark
        self.spans: list[Span] = []
        self.ops: list[OpTrace] = []
        self.active = False
        self._stack: list[int] = []
        self._groups: list[str] = []
        self._current: OpTrace | None = None

    # ---- one op ---------------------------------------------------------

    @contextmanager
    def op(self, op_id: int, traced: bool) -> Iterator[None]:
        """Bracket one timed op; a traced op gets a record in ``ops``."""
        if not traced:
            self._current = None
            yield
            return
        rec = self._current = OpTrace(op_id)
        self.active, self._groups = True, []
        gc0 = self._gc_seconds()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            rec.wall = time.perf_counter() - t0
            self.active = False
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            rec.gc_s = self._gc_seconds() - gc0
            tracker = self.spark.sparkContext.statusTracker()
            rec.jobs = {g: len(tracker.getJobIdsForGroup(g)) for g in self._groups}
            self.ops.append(rec)

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        if not self.active:
            yield
            return
        rec = self._current
        assert rec is not None
        sc = self.spark.sparkContext
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        group = f"op{rec.op}:{name}"
        self._groups.append(group)
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(group, name)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, rec.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()
            sc.setLocalProperty("spark.jobGroup.id", prev)
            rec.spans.append(idx)

    def count(self, name: str, value: float) -> None:
        """Add to a counter of the current op, if it is traced; the
        record stays current after the op until the next one starts."""
        if self._current is not None:
            self._current.counts[name] += value

    def counted(self, name: str) -> float | None:
        """A counter of the current op; None when the op is untraced."""
        return None if self._current is None else self._current.counts.get(name, 0.0)

    def _gc_seconds(self) -> float:
        jvm = self.spark.sparkContext._jvm
        beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000.0

    # ---- summary --------------------------------------------------------

    def per_op_seconds(self, rec: OpTrace) -> dict[str, float]:
        """Inclusive seconds per span name within one op."""
        out: dict[str, float] = defaultdict(float)
        for i in rec.spans:
            s = self.spans[i]
            out[s.name] += s.end - s.start
        return out

    def coverage(self, rec: OpTrace) -> float:
        """Share of the op's wall time inside top-level spans."""
        top = sum(
            self.spans[i].end - self.spans[i].start
            for i in rec.spans
            if self.spans[i].parent is None
        )
        return top / rec.wall if rec.wall > 0 else 0.0

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [s.__dict__ for s in self.spans],
                    "ops": [
                        {"op": r.op, "wall": r.wall, "counts": dict(r.counts),
                         "jobs": r.jobs, "gc_s": r.gc_s}
                        for r in self.ops
                    ],
                },
                f,
            )

"""Spans and Spark counters recorded from outside the library.

Every call the benchmark makes into a layer's public function runs inside
``Tracer.span("<layer>.<verb>")``. Untraced, a span only times the call.
Traced, it also records its parent span and operation id, and reads Spark's
public status store at both ends: the global job count and the executor
totals (shuffle read/write, input bytes); the task time of the jobs started
in between comes from their stages' executor run time. The benchmark's calls
are sequential, so the difference between the two reads is the span's own
work, including jobs that streaming queries run on their own threads (a job
group would miss those).
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

class SparkCounters:
    """Reads the live ``AppStatusStore`` through the JVM gateway."""

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self._store = sc.statusStore()
        self._bus = sc.listenerBus()

    def read(self) -> dict[str, int]:
        # status updates arrive on the listener bus; drain it so the store
        # reflects every task of the call that just returned
        self._bus.waitUntilEmpty()
        execs = self._store.executorList(False)
        tot = {"jobs": self._store.jobsList(None).size(),
               "shuffle_read": 0, "shuffle_write": 0, "input_bytes": 0}
        for i in range(execs.size()):
            e = execs.apply(i)
            tot["shuffle_read"] += e.totalShuffleRead()
            tot["shuffle_write"] += e.totalShuffleWrite()
            tot["input_bytes"] += e.totalInputBytes()
        return tot

    def task_ms(self, first_job: int, end_job: int) -> int:
        """Executor run time summed over the tasks of jobs
        ``first_job .. end_job - 1`` (job ids are sequential)."""
        stages = set()
        for j in range(first_job, end_job):
            ids = self._store.job(j).stageIds()
            stages.update(ids.apply(k) for k in range(ids.size()))
        total = 0
        for sid in stages:
            attempts = self._store.stageData(sid, False, None, False, None)
            total += sum(attempts.apply(k).executorRunTime()
                         for k in range(attempts.size()))
        return total


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    start: float
    cycle: int | None = None  # the timed-loop cycle it ran in; None if untimed
    end: float = 0.0
    counters: dict[str, int] = field(default_factory=dict)

    @property
    def s(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._counters = SparkCounters(spark) if enabled else None
        self.overhead_s = 0.0  # time spent reading counters
        self.overhead_timed_s = 0.0  # the part of it inside timed cycles
        self._next_op = 0
        self._next_id = 0
        self._next_cycle = 0
        self.cycle: int | None = None  # set while a timed-loop cycle runs

    def new_op(self) -> int:
        self._next_op += 1
        return self._next_op

    def start_cycle(self) -> None:
        self.cycle = self._next_cycle
        self._next_cycle += 1

    def _overhead(self, t0: float) -> None:
        dt = time.perf_counter() - t0
        self.overhead_s += dt
        if self.cycle is not None:
            self.overhead_timed_s += dt

    def _read(self) -> dict[str, int]:
        t0 = time.perf_counter()
        c = self._counters.read()
        self._overhead(t0)
        return c

    @contextmanager
    def span(self, name: str, op: int | None = None):
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = parent.op
        before = self._read() if self.enabled else None
        sp = Span(self._next_id, name, parent.id if parent else None, op,
                  time.perf_counter(), self.cycle)
        self._next_id += 1
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                after = self._read()
                sp.counters = {k: after[k] - before[k] for k in after}
                t0 = time.perf_counter()
                sp.counters["task_ms"] = self._counters.task_ms(before["jobs"], after["jobs"])
                self._overhead(t0)
                self.spans.append(sp)

    # ------------------------------------------------------------------ #
    def self_times(self) -> dict[str, float]:
        """Seconds per layer not covered by a child span: summed within each
        timed-loop cycle, then the median over the cycles the layer ran in,
        so it does not grow with the number of cycles a run fits. The layer
        of a span named ``a.b.verb`` is ``a.b``."""
        child_s: dict[int, float] = {}
        for sp in self.spans:
            if sp.parent is not None:
                child_s[sp.parent] = child_s.get(sp.parent, 0.0) + sp.s
        per_cycle: dict[str, dict[int, float]] = {}
        for sp in self.spans:
            if sp.cycle is None:
                continue
            cycles = per_cycle.setdefault(sp.name.rsplit(".", 1)[0], {})
            cycles[sp.cycle] = cycles.get(sp.cycle, 0.0) + sp.s - child_s.get(sp.id, 0.0)
        return {layer: statistics.median(c.values()) for layer, c in per_cycle.items()}

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        t0 = min((sp.start for sp in self.spans), default=0.0)
        with path.open("w") as f:
            for sp in self.spans:
                f.write(json.dumps({
                    "id": sp.id, "name": sp.name, "parent": sp.parent,
                    "op": sp.op, "cycle": sp.cycle, "start_s": round(sp.start - t0, 6),
                    "end_s": round(sp.end - t0, 6), **sp.counters,
                }) + "\n")

"""Spans around calls into the engine's public functions, and the Spark
and JVM counters read at the same boundaries.

A span records name, start, end, parent and op id, and is kept in memory.
While a span is open, Spark jobs started on this thread carry its id as
their job group, so each job belongs to the innermost open span. After a
traced op, :meth:`Tracer.harvest` reads those jobs' stages from Spark's
app status store (it works with the UI disabled).
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)
    # filled by harvest
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_cpu_s: float = 0.0
    shuffle_bytes: int = 0
    task_busy_s: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


class Jvm:
    """JMX and status-store reads through the session's gateway."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self.mx = jvm.java.lang.management.ManagementFactory
        self.system = jvm.java.lang.System
        self.store = self.sc._jsc.sc().statusStore()
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self.mapper.registerModule(scala_mod.__getattr__("MODULE$"))

    def codegen_compiles(self) -> int:
        cm = self.sc._jvm.org.apache.spark.metrics.source.CodegenMetrics
        return cm.METRIC_COMPILATION_TIME().getCount()

    def jit_ms(self) -> int:
        return self.mx.getCompilationMXBean().getTotalCompilationTime()

    def gc_ms(self) -> int:
        return sum(g.getCollectionTime() for g in self.mx.getGarbageCollectorMXBeans())

    def cached_mb(self) -> float:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2**20

    def retained_heap_mb(self, rounds: int = 5) -> float:
        used = []
        for _ in range(rounds):
            self.system.gc()
            time.sleep(0.1)
            used.append(self.mx.getMemoryMXBean().getHeapMemoryUsage().getUsed())
        return min(used) / 2**20

    def drain_listeners(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def _json(self, obj):
        return json.loads(self.mapper.writeValueAsString(obj))

    def jobs(self) -> list[dict]:
        return self._json(self.store.jobsList(None))

    def stage(self, stage_id: int) -> dict:
        return self._json(self.store.lastStageAttempt(stage_id))


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """Spans for traced ops. ``active`` is False outside a traced op, and
    then :meth:`span` only runs the body."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = Jvm(spark)
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.active = False
        self.op = -1
        self._seen_stages: set[int] = set()

    def _group(self, idx: int | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None if idx is None else f"span-{idx}")

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        parent = self.stack[-1] if self.stack else None
        s = Span(name, self.op, parent, time.time())
        self.spans.append(s)
        idx = len(self.spans) - 1
        self.stack.append(idx)
        self._group(idx)
        try:
            yield s
        finally:
            s.end = time.time()
            self.stack.pop()
            self._group(self.stack[-1] if self.stack else None)

    def wrap(self, module, attr: str, name: str, count=None, before=None) -> None:
        """Replace ``module.attr`` by a wrapper that runs each call inside
        a span; ``before(span)`` runs first, ``count(span, args, result)``
        records counters."""
        inner = getattr(module, attr)

        @functools.wraps(inner)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                if s is not None and before is not None:
                    before(s)
                try:
                    result = inner(*args, **kwargs)
                except Exception as exc:
                    if s is not None:
                        s.counters[type(exc).__name__] = s.counters.get(type(exc).__name__, 0) + 1
                    raise
                if s is not None and count is not None:
                    count(s, args, result)
                return result

        setattr(module, attr, traced)

    @contextlib.contextmanager
    def op_span(self, op: int, name: str = "bench.op"):
        self.active, self.op = True, op
        try:
            with self.span(name) as s:
                yield s
        finally:
            self.active = False

    def self_times(self, op: int) -> dict[int, float]:
        """Span index → wall time minus the part its child spans cover.
        Children of one parent run one after another on this thread, so
        their walls add without overlap, and the self times of an op's
        spans sum to the op's wall time."""
        out = {i: s.wall for i, s in enumerate(self.spans) if s.op == op}
        for i in out:
            p = self.spans[i].parent
            if p is not None:
                out[p] -= self.spans[i].wall
        return out

    def harvest(self, op: int) -> None:
        """Attribute op ``op``'s Spark jobs and stages to its spans."""
        by_group = {f"span-{i}": s for i, s in enumerate(self.spans) if s.op == op}
        self.jvm.drain_listeners()
        jobs = sorted(
            (j for j in self.jvm.jobs() if j.get("jobGroup") in by_group),
            key=lambda j: j["jobId"],
        )
        busy: dict[int, list] = {}
        for j in jobs:
            s = by_group[j["jobGroup"]]
            s.jobs += 1
            for sid in j["stageIds"]:
                if sid in self._seen_stages:
                    continue  # ran in an earlier job, skipped in this one
                st = self.jvm.stage(sid)
                if st["status"] == "SKIPPED":
                    continue
                self._seen_stages.add(sid)
                s.stages += 1
                s.tasks += st["numTasks"]
                s.failed_tasks += st["numFailedTasks"]
                s.executor_cpu_s += st["executorCpuTime"] / 1e9
                s.shuffle_bytes += st["shuffleReadBytes"] + st["shuffleWriteBytes"]
                lo, hi = st.get("firstTaskLaunchedTime"), st.get("completionTime")
                if lo is not None and hi is not None:
                    busy.setdefault(id(s), []).append(
                        (max(lo / 1e3, s.start), min(hi / 1e3, s.end))
                    )
        for s in by_group.values():
            iv = [(lo, hi) for lo, hi in busy.get(id(s), []) if hi > lo]
            s.task_busy_s = _union_length(iv)

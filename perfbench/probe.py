"""Per-call layer accounting from Spark's app-status store.

The benchmark wraps each call into the package in :meth:`Tracer.call`.
Around a traced call it takes a snapshot of the status store through the
same py4j path as ``plans/metrics.py:_totals`` (``statusStore().stageList``)
and keeps only the stages and jobs whose ids are newer than the snapshot,
so the deltas are keyed by stage id rather than by subtracting running
totals. Stage ids are allocated without gaps and the store lists every
stage of every job, so a gap in the new ids means the store evicted
stages during the call; the counters of that call are then reported as
missing, never as 0.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Any, Callable

#: status-store counters summed over the stages a call ran
COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "exec_run_s",
    "exec_cpu_s",
    "gc_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
)

#: confs for the traced session: keep every stage and job of a run in the
#: store (Spark's default keeps 1000 stages, fewer than one traced run makes)
TRACE_CONF = {
    "spark.ui.retainedStages": "100000",
    "spark.ui.retainedJobs": "100000",
    "spark.sql.ui.retainedExecutions": "100000",
}

_MB = float(1 << 20)


def covered_ms(intervals: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Length of the union of closed intervals, clipped to [lo, hi]."""
    total, end = 0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class StatusProbe:
    """Reads stages and jobs newer than a mark from the app-status store."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._empty = sc._jvm.java.util.ArrayList()
        self._stage_defaults = [
            getattr(self._store, f"stageList$default${i}")() for i in (2, 3, 4, 5)
        ]

    def _drain(self) -> None:
        # the listener that fills the store runs on its own thread; wait
        # until it has seen the end of every stage the call ran
        self._jsc.listenerBus().waitUntilEmpty()

    def _newest(self, it, floor: int, key) -> list[Any]:
        out = []
        while it.hasNext():
            item = it.next()
            if key(item) <= floor:
                break
            out.append(item)
        return out

    def mark(self) -> tuple[int, int]:
        """(newest stage id, newest job id) currently in the store."""
        self._drain()
        stages = self._store.stageList(self._empty, *self._stage_defaults).iterator()
        jobs = self._store.jobsList(self._empty).iterator()
        return (
            stages.next().stageId() if stages.hasNext() else -1,
            jobs.next().jobId() if jobs.hasNext() else -1,
        )

    def since(self, mark: tuple[int, int], t0_ms: int, t1_ms: int) -> dict[str, float] | None:
        """Counters of the stages and jobs newer than ``mark``, plus the
        part of [t0_ms, t1_ms] during which no stage was running. None when
        the store lost some of them."""
        self._drain()
        # both lists come newest first, so the walk stops at the mark
        stages = self._newest(
            self._store.stageList(self._empty, *self._stage_defaults).iterator(),
            mark[0], lambda s: s.stageId(),
        )
        jobs = self._newest(
            self._store.jobsList(self._empty).iterator(), mark[1], lambda j: j.jobId()
        )
        stage_ids = {s.stageId() for s in stages}
        job_ids = {j.jobId() for j in jobs}
        if stage_ids != set(range(mark[0] + 1, mark[0] + 1 + len(stage_ids))) or (
            job_ids != set(range(mark[1] + 1, mark[1] + 1 + len(job_ids)))
        ):
            return None
        c = dict.fromkeys(COUNTERS, 0.0)
        c["jobs"] = float(len(job_ids))
        busy: list[tuple[int, int]] = []
        for s in stages:
            if s.status().toString() == "SKIPPED":
                continue
            c["stages"] += 1
            c["tasks"] += s.numCompleteTasks() + s.numFailedTasks() + s.numKilledTasks()
            c["exec_run_s"] += s.executorRunTime() / 1e3
            c["exec_cpu_s"] += s.executorCpuTime() / 1e9
            c["gc_s"] += s.jvmGcTime() / 1e3
            c["shuffle_read_mb"] += s.shuffleReadBytes() / _MB
            c["shuffle_write_mb"] += s.shuffleWriteBytes() / _MB
            c["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / _MB
            sub, done = s.submissionTime(), s.completionTime()
            if sub.isDefined():
                end = done.get().getTime() if done.isDefined() else t1_ms
                busy.append((sub.get().getTime(), end))
        c["driver_only_s"] = (t1_ms - t0_ms - covered_ms(busy, t0_ms, t1_ms)) / 1e3
        return c


@dataclass
class Span:
    """One timed call into the package."""

    name: str
    wall_s: float
    counters: dict[str, float] | None = None


@dataclass
class Tracer:
    """Times calls into the package; with a probe, also records the status
    store counters each call caused."""

    probe: StatusProbe | None = None
    spans: list[Span] = field(default_factory=list)
    #: time spent reading the status store, outside every span
    probe_s: float = 0.0

    def call(self, name: str, fn: Callable[..., Any], *args: Any, **kwargs: Any) -> Any:
        mark = None
        if self.probe:
            t = time.perf_counter()
            mark = self.probe.mark()
            self.probe_s += time.perf_counter() - t
        t0_ms = int(time.time() * 1e3)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            counters = None
            if mark is not None:
                counters = self.probe.since(mark, t0_ms, int(time.time() * 1e3))
                self.probe_s += time.perf_counter() - t1
            self.spans.append(Span(name, t1 - t0, counters))

    def wall(self, name: str) -> float:
        return sum(s.wall_s for s in self.spans if s.name == name)

    def counter(self, name: str, key: str) -> float | None:
        """A counter summed over the spans of ``name``; None if any is missing."""
        spans = [s for s in self.spans if s.name == name]
        if not spans or any(s.counters is None for s in spans):
            return None
        return sum(s.counters[key] for s in spans)

    def layer_metrics(self, names: list[str], slots: int) -> dict[str, float]:
        """``<call>.wall_s``, every counter, ``driver_only_s`` and
        ``slot_util`` per call name, summed over the spans of that name.
        A call this pass did not make reports 0; a counter the store lost
        is left out."""
        out: dict[str, float] = {}
        for name in names:
            spans = [s for s in self.spans if s.name == name]
            wall = sum(s.wall_s for s in spans)
            out[f"{name}.wall_s"] = wall
            if any(s.counters is None for s in spans):
                continue
            for k in (*COUNTERS, "driver_only_s"):
                out[f"{name}.{k}"] = sum(s.counters[k] for s in spans)
            out[f"{name}.slot_util"] = (
                out[f"{name}.exec_run_s"] / (wall * slots) if wall > 0 else 0.0
            )
        return out

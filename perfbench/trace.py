"""Span tracer for the traced (``--trace 1``) run.

Spans are recorded around calls into each layer's public entry points.
The entry points are wrapped from here, the benchmark's own code: the
package under test is not edited.  A span holds its name, start, end
and parent, plus the range of Spark job ids submitted while it was
open.  The benchmark drives one client, so the jobs submitted between
a span's start and end are exactly the jobs it caused, including jobs
that the program submits from its own worker threads.  Each span also
sets a Spark job group named after it.

Spans stay in memory.  After the laps, the tracer reads the per-stage
executor metrics of each lap's jobs from Spark's status store: run time,
CPU time, GC time, shuffle-write bytes and spill bytes.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    job_lo: int = 0
    job_hi: int = 0
    children: list[int] = field(default_factory=list)


@dataclass
class JobStats:
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    def add(self, other: "JobStats") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


class Tracer:
    """Records spans; ``enabled=False`` makes every span a no-op, so the
    untraced run executes the same benchmark code.  A traced run may
    clear ``enabled`` for a while to run untraced laps; the wrappers then
    only pass calls through."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self._jobs: dict[int, JobStats] = {}

    # -- spans -----------------------------------------------------------

    def _next_job_id(self) -> int:
        return int(self.sc._jsc.sc().dagScheduler().nextJobId())

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.sc.setJobGroup(f"perfbench-{idx}", name)
        span = Span(name, parent, 0.0, job_lo=self._next_job_id())
        self.spans.append(span)
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        span.start = time.perf_counter()
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            span.job_hi = self._next_job_id()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"perfbench-{parent}", self.spans[parent].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, owner, attr: str, name: str, on_call=None) -> None:
        """Replace ``owner.attr`` with a spanned call.  ``on_call(args,
        kwargs, result)`` may record counts from the call."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                result = orig(*args, **kwargs)
            if on_call is not None:
                on_call(args, kwargs, result)
            return result

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- analysis ----------------------------------------------------------

    def self_seconds(self, idx: int) -> float:
        s = self.spans[idx]
        return (s.end - s.start) - sum(
            self.spans[c].end - self.spans[c].start for c in s.children
        )

    def self_job_ids(self, idx: int) -> list[int]:
        s = self.spans[idx]
        inner: set[int] = set()
        for c in s.children:
            inner.update(range(self.spans[c].job_lo, self.spans[c].job_hi))
        return [j for j in range(s.job_lo, s.job_hi) if j not in inner]

    def descendants(self, idx: int) -> list[int]:
        out, todo = [], [idx]
        while todo:
            i = todo.pop()
            out.append(i)
            todo.extend(self.spans[i].children)
        return out

    def load_job_stats(self, job_lo: int, job_hi: int) -> None:
        """Read stage metrics for jobs ``[job_lo, job_hi)`` from the
        status store, after the listener bus has delivered every event."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for j in range(job_lo, job_hi):
            if j in self._jobs:
                continue
            stats = JobStats()
            info = tracker.getJobInfo(j)
            for sid in info.stageIds if info is not None else []:
                sd = store.lastStageAttempt(sid)
                if str(sd.status()) == "SKIPPED":
                    continue
                stats.stages += 1
                stats.tasks += sd.numTasks()
                stats.run_s += sd.executorRunTime() / 1e3
                stats.cpu_s += sd.executorCpuTime() / 1e9
                stats.gc_s += sd.jvmGcTime() / 1e3
                stats.shuffle_write_bytes += sd.shuffleWriteBytes()
                stats.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            self._jobs[j] = stats

    def job_stats(self, job_ids) -> JobStats:
        total = JobStats()
        for j in job_ids:
            total.add(self._jobs.get(j, JobStats()))
        return total

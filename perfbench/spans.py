"""Spans, Spark status-store counters and process memory for the benchmark.

Nothing here edits or patches the package: spans are opened by the
benchmark around its own calls into the package's public functions, and
the counters are read from the JVM's ``AppStatusStore`` (the store the
Spark UI serves, kept even with the UI disabled).

Counters are attributed to spans by job-id watermark: at every span
open and close the listener bus is flushed and the highest finished job
id is read; the jobs between two such events ran under the span that
was innermost in between.  This is only valid while one thread submits
jobs, which holds for the benchmark process.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    job_id: int  # benchmark job (request) this span belongs to
    end: float = 0.0
    spark_jobs: list[int] = field(default_factory=list)


class Tracer:
    """In-memory span recorder; a disabled tracer only runs the body."""

    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._mark = -1
        self.job_id = 0

    def _flush(self) -> None:
        """Attribute the Spark jobs finished since the last event to the
        innermost open span."""
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)  # noqa: SLF001
        ids = [j for j in sc.statusTracker().getJobIdsForGroup(None) if j > self._mark]
        if ids:
            self._mark = max(ids)
            if self._stack:
                self.spans[self._stack[-1]].spark_jobs.extend(sorted(ids))

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        self._flush()
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), parent, self.job_id))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield
        finally:
            self._flush()
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()

    def call(self, name: str, fn, *args, **kwargs):
        with self.span(name):
            return fn(*args, **kwargs)

    # ------------------------------------------------------------------ views

    def children(self, idx: int) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.parent == idx]

    def subtree(self, idx: int) -> list[int]:
        """``idx`` and every span below it."""
        out = [idx]
        for c in self.children(idx):
            out += self.subtree(c)
        return out

    def duration(self, idx: int) -> float:
        return self.spans[idx].end - self.spans[idx].start

    def self_time(self, idx: int) -> float:
        return self.duration(idx) - sum(self.duration(c) for c in self.children(idx))

    def subtree_jobs(self, idx: int) -> list[int]:
        return [j for i in self.subtree(idx) for j in self.spans[i].spark_jobs]

    def dump(self, path: str, t0: float) -> None:
        """Write every span as one JSON line, times relative to ``t0``."""
        with open(path, "w", encoding="utf-8") as f:
            for i, s in enumerate(self.spans):
                f.write(
                    json.dumps(
                        {
                            "id": i,
                            "name": s.name,
                            "parent": s.parent,
                            "job": s.job_id,
                            "start_s": s.start - t0,
                            "end_s": s.end - t0,
                            "self_s": self.self_time(i),
                            "spark_jobs": s.spark_jobs,
                        }
                    )
                    + "\n"
                )


# ---------------------------------------------------------------------------
# status store
# ---------------------------------------------------------------------------


@dataclass
class StageStats:
    stage_id: int
    attempt: int
    tasks: int
    failed_tasks: int
    run_ms: float  # Σ executor run time
    gc_ms: float
    input_bytes: int
    output_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int


@dataclass
class JobStats:
    job_id: int
    submit_ms: int
    complete_ms: int
    stage_ids: list[int]


def _opt(o, default=None):
    return o.get() if o.isDefined() else default


class StatusStore:
    """Reads jobs, stages and tasks from the JVM ``AppStatusStore``."""

    def __init__(self, spark):
        self.spark = spark
        self.store = spark.sparkContext._jsc.sc().statusStore()  # noqa: SLF001
        self._stages: dict[int, StageStats] = {}
        self._jobs: dict[int, JobStats] = {}

    def refresh(self) -> None:
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)  # noqa: SLF001
        it = self.store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            if j.jobId() in self._jobs:
                continue
            sub, comp = _opt(j.submissionTime()), _opt(j.completionTime())
            sids = j.stageIds()
            self._jobs[j.jobId()] = JobStats(
                j.jobId(),
                sub.getTime() if sub is not None else 0,
                comp.getTime() if comp is not None else 0,
                [sids.apply(i) for i in range(sids.size())],
            )
        store = self.store
        args = [getattr(store, f"stageList$default${i}")() for i in range(2, 6)]
        it = store.stageList(None, *args).iterator()
        while it.hasNext():
            s = it.next()
            if s.stageId() in self._stages:
                continue
            self._stages[s.stageId()] = StageStats(
                s.stageId(),
                s.attemptId(),
                s.numTasks(),
                s.numFailedTasks(),
                float(s.executorRunTime()),
                float(s.jvmGcTime()),
                int(s.inputBytes()),
                int(s.outputBytes()),
                int(s.shuffleWriteBytes()),
                int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled()),
            )

    def jobs(self, ids) -> list[JobStats]:
        return [self._jobs[j] for j in sorted(set(ids)) if j in self._jobs]

    def stages(self, job_ids) -> list[StageStats]:
        sids = sorted({s for j in self.jobs(job_ids) for s in j.stage_ids})
        # a skipped stage (shuffle reused) is in the job's list but never ran
        return [self._stages[s] for s in sids if s in self._stages]

    def task_ms(self, stage: StageStats) -> list[float]:
        """Per-task durations of one stage."""
        out = []
        it = self.store.taskList(stage.stage_id, stage.attempt, 100_000).iterator()
        while it.hasNext():
            d = _opt(it.next().duration())
            if d is not None:
                out.append(float(d))
        return out


def counters(stages: list[StageStats]) -> dict[str, float]:
    return {
        "stages": len(stages),
        "tasks": sum(s.tasks for s in stages),
        "failed_tasks": sum(s.failed_tasks for s in stages),
        "run_s": sum(s.run_ms for s in stages) / 1e3,
        "gc_s": sum(s.gc_ms for s in stages) / 1e3,
        "input_mb": sum(s.input_bytes for s in stages) / 1e6,
        "output_mb": sum(s.output_bytes for s in stages) / 1e6,
        "shuffle_write_mb": sum(s.shuffle_write_bytes for s in stages) / 1e6,
        "spill_mb": sum(s.spill_bytes for s in stages) / 1e6,
    }


def skew(task_ms: list[float]) -> float:
    """max ÷ median task time; 1.0 for a perfectly even span."""
    if not task_ms:
        return 0.0
    med = statistics.median(task_ms)
    return max(task_ms) / med if med > 0 else 0.0


# ---------------------------------------------------------------------------
# processes
# ---------------------------------------------------------------------------


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (``VmHWM``) of one process in MB; 0 if gone."""
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` in the process tree."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name is parenthesised and may contain spaces
        parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        todo += kids
    return out

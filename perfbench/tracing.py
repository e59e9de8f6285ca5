"""Spans kept in memory, and executor counters from Spark's status store.

A span is one timed call into a layer of the program: name, start, end
(seconds since the run's process was spawned), parent span and run id.
When a ``StatusCounters`` is attached, a span opened with a job group
tags every Spark job it starts with that group and, when it ends, reads
the jobs' stage metrics from the application status store. The store
is filled by the listener bus, which works with the UI disabled.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

MB = float(1 << 20)


class StatusCounters:
    """Executor counters of the jobs that ran under one job group."""

    def __init__(self, sc):
        self.sc = sc
        jsc = sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
        # A job also lists the stages it reuses (skipped), and the store
        # reports those with the status of the job that ran them; each
        # stage attempt is counted once, for the first group that saw it.
        self._counted: set[tuple[int, int]] = set()

    def read(self, group: str) -> dict:
        self._bus.waitUntilEmpty()  # job and stage end events reach the store
        job_ids = self.sc.statusTracker().getJobIdsForGroup(group)
        stage_ids: set[int] = set()
        for job_id in job_ids:
            ids = self._store.job(job_id).stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        out = dict.fromkeys(
            ("stages", "tasks", "failed_tasks", "task_run_s", "task_cpu_s", "gc_s",
             "input_mb", "output_mb", "shuffle_write_mb", "spill_mb"),
            0,
        )
        out["jobs"] = len(job_ids)
        for sid in stage_ids:
            attempts = self._store.stageData(sid, False, None, False, self._no_quantiles)
            for a in range(attempts.size()):
                s = attempts.apply(a)
                attempt = (sid, s.attemptId())
                if s.status().toString() == "SKIPPED" or attempt in self._counted:
                    continue
                self._counted.add(attempt)
                out["stages"] += 1
                failed = s.numFailedTasks() + s.numKilledTasks()
                out["tasks"] += s.numCompleteTasks() + failed
                out["failed_tasks"] += failed
                out["task_run_s"] += s.executorRunTime() / 1e3
                out["task_cpu_s"] += s.executorCpuTime() / 1e9
                out["gc_s"] += s.jvmGcTime() / 1e3
                out["input_mb"] += s.inputBytes() / MB
                out["output_mb"] += s.outputBytes() / MB
                out["shuffle_write_mb"] += s.shuffleWriteBytes() / MB
                out["spill_mb"] += s.diskBytesSpilled() / MB
        return out


class Tracer:
    """Records spans; with ``counters`` set, also tags and counts Spark jobs.

    Args:
        run_id: identifier shared by every span of the run.
        t0: epoch seconds at which the run's process was spawned.
    """

    def __init__(self, run_id: str, t0: float):
        self.run_id = run_id
        self.counters: StatusCounters | None = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._offset = time.time() - time.perf_counter() - t0

    def now(self) -> float:
        return time.perf_counter() + self._offset

    @contextmanager
    def span(self, name: str, tagged: bool = False, **attrs):
        """Time a block; ``tagged`` spans carry the executor counters of
        the Spark jobs the block started (when counters are attached)."""
        s = {
            "id": len(self.spans),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "run": self.run_id,
            "attrs": attrs,
        }
        self.spans.append(s)
        self._stack.append(s)
        group = f"{self.run_id}:{s['id']}" if tagged and self.counters else None
        if group:
            self.counters.sc.setJobGroup(group, name)
        s["start"] = self.now()
        try:
            yield s
        finally:
            s["end"] = self.now()
            self._stack.pop()
            if group:
                self.counters.sc._jsc.clearJobGroup()
                s["counters"] = self.counters.read(group)


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the time its child spans cover."""
    own = {s["id"]: duration(s) for s in spans}
    for s in spans:
        if s["parent"] is not None:
            own[s["parent"]] -= duration(s)
    return own

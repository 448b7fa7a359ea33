"""Spark's own status, read from outside the engine.

Every op (and, in a traced run, every layer step) runs under its own
``setJobGroup``. After it returns, the listener bus is drained and the
group's jobs are read from the driver's status store:
``statusTracker().getJobIdsForGroup`` -> ``statusStore().job(id).stageIds()``
-> ``lastStageAttempt(sid)``. Skipped stages (reused shuffle output) ran
no tasks and are left out; a stage listed by two jobs counts once.

Streaming micro-batch phases come from a ``StreamingQueryListener``
registered by the benchmark, and peak memory from ``/proc`` (VmHWM of
the driver JVM plus this Python process).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    tasks_failed: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    executor_run_ms: int = 0
    # (start_ms, end_ms) of every stage that ran, epoch milliseconds.
    intervals: list = field(default_factory=list)

    def add(self, other: "GroupStats") -> None:
        for name in ("jobs", "tasks", "tasks_failed",
                     "shuffle_write_bytes", "spill_bytes", "executor_run_ms"):
            setattr(self, name, getattr(self, name) + getattr(other, name))
        self.intervals.extend(other.intervals)


def busy_ms(intervals: list, lo_ms: float, hi_ms: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo_ms, hi_ms]``."""
    total, end = 0.0, lo_ms
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi_ms)
        if b > a:
            total += b - a
            end = b
    return total


class SparkStatus:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    def drain(self) -> None:
        """Wait until every listener has seen every event posted so far."""
        self._bus.waitUntilEmpty()

    def stats(self, name: str) -> GroupStats:
        """Counters of every job that ran under job group ``name``."""
        from py4j.protocol import Py4JJavaError

        self.drain()
        out = GroupStats()
        seen: set[int] = set()
        for job_id in self.sc.statusTracker().getJobIdsForGroup(name):
            try:
                stage_ids = self._store.job(job_id).stageIds().mkString(",")
            except Py4JJavaError:  # evicted from the live store
                continue
            out.jobs += 1
            for sid in (int(s) for s in stage_ids.split(",") if s):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # never submitted
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out.tasks += st.numCompleteTasks() + st.numFailedTasks()
                out.tasks_failed += st.numFailedTasks()
                out.shuffle_write_bytes += st.shuffleWriteBytes()
                out.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out.executor_run_ms += st.executorRunTime()
                sub, done = st.submissionTime(), st.completionTime()
                if sub.isDefined() and done.isDefined():
                    out.intervals.append((sub.get().getTime(), done.get().getTime()))
        return out

    def jvm_pid(self) -> int:
        return int(self.sc._jvm.java.lang.ProcessHandle.current().pid())


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def drain_listener():
    """A ``StreamingQueryListener`` that sums micro-batch phase durations
    over every streaming query. pyspark loads here, not at module import,
    so the set-up timer sees the engine's own import cost."""
    from pyspark.sql.streaming import StreamingQueryListener

    class DrainListener(StreamingQueryListener):
        def __init__(self):
            self.batches = 0
            self.add_batch_ms = 0
            self.planning_ms = 0
            self.commit_ms = 0
            self._state_rows: dict[str, int] = {}

        @property
        def state_rows(self) -> int:
            return sum(self._state_rows.values())

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            d = p.durationMs or {}
            self.batches += 1
            self.add_batch_ms += d.get("addBatch", 0)
            self.planning_ms += d.get("queryPlanning", 0)
            self.commit_ms += d.get("walCommit", 0) + d.get("commitOffsets", 0)
            rows = sum(op.numRowsTotal for op in (p.stateOperators or []))
            # State size of a query is its largest reading, not a sum.
            key = str(p.id)
            self._state_rows[key] = max(self._state_rows.get(key, 0), rows)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return DrainListener()


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1

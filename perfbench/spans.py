"""Per-layer counters read from Spark's own status store, from outside the
engine.

A span wraps one call into a public entry point.  The benchmark tags the
jobs the call launches with a job group of its own, and right after the
span ends it drains the listener bus and reads those jobs and their stages
from the status store.  Reading per span matters: the store keeps only
``spark.ui.retainedJobs`` jobs, so a count taken once at the end of a long
run loses the early ones.
"""

from __future__ import annotations

import itertools
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

#: The eight counters every span kind reports, with their units.
COUNTERS = {
    "wall_s": "s", "jobs": "count", "stages": "count", "tasks": "count",
    "driver_s": "s", "exec_cpu_s": "s", "task_offcpu_s": "s",
    "shuffle_bytes": "bytes",
}

def span_units(kinds) -> dict[str, str]:
    """``<kind>.<counter>`` metric names with their units."""
    return {f"{k}.{c}": u for k in kinds for c, u in COUNTERS.items()}


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _opt_s(opt) -> float | None:
    """A Scala ``Option[Date]`` as epoch seconds, or None."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class JobCounters:
    """Reads job and stage counters for a set of job ids."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()

    def drain(self) -> None:
        """Wait until every posted event reached the status store."""
        self.bus.waitUntilEmpty()

    def read(self, job_ids, t0: float, t1: float) -> dict:
        """The eight counters of a span [t0, t1] that ran ``job_ids``."""
        intervals, stage_ids = [], set()
        for jid in job_ids:
            job = self.store.job(int(jid))
            start, end = _opt_s(job.submissionTime()), _opt_s(job.completionTime())
            if start is not None:
                intervals.append((max(start, t0), min(end or t1, t1)))
            seq = job.stageIds()
            stage_ids.update(int(seq.apply(i)) for i in range(seq.size()))
        tasks = run_ms = cpu_ns = shuffle = input_rows = 0
        stages = 0
        for sid in stage_ids:
            try:
                st = self.store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage the scheduler never submitted
                continue
            start = _opt_s(st.submissionTime())
            # A skipped stage, or one another span already ran and this
            # span's job reused, is not this span's work.
            if start is None or start < t0 or st.status().toString() == "SKIPPED":
                continue
            stages += 1
            tasks += st.numTasks()
            run_ms += st.executorRunTime()
            cpu_ns += st.executorCpuTime()
            shuffle += st.shuffleWriteBytes()
            input_rows += st.inputRecords()
        wall = t1 - t0
        return {
            "wall_s": wall,
            "jobs": len(job_ids),
            "stages": stages,
            "tasks": tasks,
            "driver_s": max(0.0, wall - _union_length(intervals)),
            "exec_cpu_s": cpu_ns / 1e9,
            "task_offcpu_s": max(0.0, run_ms / 1e3 - cpu_ns / 1e9),
            "shuffle_bytes": shuffle,
            "input_rows": input_rows,
        }


class Spans:
    """Span recorder.  With ``enabled=False`` every span is a no-op, so the
    untraced run pays nothing for it."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.records: dict[str, list[dict]] = defaultdict(list)
        self._ids = itertools.count()
        if enabled:
            self.sc = spark.sparkContext
            self.counters = JobCounters(spark)

    @contextmanager
    def span(self, kind: str, into: dict | None = None):
        """Time one call and record its counters under ``kind``, or add them
        into ``into`` (for spans a caller sums per pass of many calls)."""
        if not self.enabled:
            yield
            return
        group = f"perfbench-{next(self._ids)}"
        self.sc.setJobGroup(group, kind)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.counters.drain()
            rec = self.counters.read(self.sc.statusTracker().getJobIdsForGroup(group), t0, t1)
            if into is None:
                self.records[kind].append(rec)
            else:
                for k, v in rec.items():
                    into[k] = into.get(k, 0) + v

    def add(self, kind: str, rec: dict) -> None:
        self.records[kind].append(rec)


def median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def span_metrics(records: dict[str, list[dict]]) -> dict[str, float]:
    """``<kind>.<counter>``: the median over the kind's records."""
    return {
        f"{kind}.{c}": median([r[c] for r in recs])
        for kind, recs in records.items()
        for c in COUNTERS
    }

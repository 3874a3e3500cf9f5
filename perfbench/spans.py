"""Spans around calls into the engine's layers, with Spark work
attributed to each span through a job group of its own.

A span has a name, a layer, a start, an end, a parent and the run id
it belongs to. Entering a span sets the Spark job group
``<run id>/<span id>`` on the calling thread, so every job the span
launches carries it; leaving the span restores the parent's group.
Spans are kept in memory and written out once, by :meth:`Tracer.dump`.

With ``enabled`` true, the span's jobs and stages are read from the
application status store as soon as the span ends (after draining the
listener bus): job and stage counts by group, stage-busy time as the
union of stage intervals, executor run and CPU time, shuffle and spill
bytes. Counts come from the group's own job ids, never from the size
of the status store's job list, which saturates at
``spark.ui.retainedJobs``. If any job launched during the span has
already been evicted from the store, the counts would be short, so
:class:`JobsEvictedError` is raised instead.

Streaming micro-batches run on the stream's own thread under a job
group named after the query's run id, outside the caller's group.
:class:`StreamProgress` is a ``StreamingQueryListener`` that records
each batch's progress and the stream's run id, so stream jobs can be
read by that group.
"""

from __future__ import annotations

import itertools
import json
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

MB = 1024 * 1024


class JobsEvictedError(RuntimeError):
    """A job launched inside a span is no longer in the status store."""


@dataclass
class Span:
    span_id: int
    name: str
    layer: str
    run_id: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str = ""
    first_job: int = 0
    last_job: int = 0
    stats: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
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


def self_seconds(span: Span, children: list[Span]) -> float:
    """A span's duration minus the part of it its children cover."""
    inside = [
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end > span.start and c.start < span.end
    ]
    return span.seconds - union_seconds(inside)


class StageReader:
    """Job and stage statistics by job group, from the status store."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._tracker = self._sc.statusTracker()

    def jobs_submitted(self) -> int:
        """Jobs submitted so far in this application; job ids are
        0 .. jobs_submitted() - 1."""
        return self._dag.numTotalJobs()

    def drain(self) -> None:
        """Wait until every posted listener event has been handled."""
        self._bus.waitUntilEmpty()

    def group_jobs(self, group: str, first: int, last: int) -> list[int]:
        """Ids of the group's jobs; raises JobsEvictedError when a job
        with an id in [first, last) has left the status store."""
        for jid in range(first, last):
            if self._tracker.getJobInfo(jid) is None:
                raise JobsEvictedError(
                    f"job {jid} (of jobs {first}..{last - 1}) was evicted from "
                    f"the status store before group {group!r} was read"
                )
        return sorted(self._tracker.getJobIdsForGroup(group))

    def stats(self, job_ids: list[int]) -> dict:
        """Counts and sums over the jobs' stages that ran (skipped
        stages, whose output was reused, are not counted)."""
        out = {
            "jobs": len(job_ids), "stages": 0, "tasks": 0, "stage_busy_s": 0.0,
            "executor_run_s": 0.0, "executor_cpu_s": 0.0, "shuffle_write_mb": 0.0,
            "shuffle_read_mb": 0.0, "spill_mb": 0.0, "input_mb": 0.0,
            "input_rows": 0,
        }
        seen: set[int] = set()
        intervals = []
        for jid in job_ids:
            it = self._store.job(jid).stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                if sid in seen:
                    continue
                seen.add(sid)
                st = self._store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                sub, done = st.submissionTime(), st.completionTime()
                if sub.isDefined() and done.isDefined():
                    intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
                out["shuffle_read_mb"] += st.shuffleReadBytes() / MB
                out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
                out["input_mb"] += st.inputBytes() / MB
                out["input_rows"] += st.inputRecords()
        out["stage_busy_s"] = union_seconds(intervals)
        return out


class StreamProgress(StreamingQueryListener):
    """Records every streaming query's run id and batch progress."""

    def __init__(self):
        self.run_ids: list[str] = []
        self.batches: list[dict] = []

    def onQueryStarted(self, event):
        self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event):
        p = event.progress
        self.batches.append(
            {
                "run_id": str(p.runId),
                "rows": p.numInputRows,
                "seconds": p.batchDuration / 1e3,
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
            }
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class Tracer:
    """Spans of one benchmark run.

    Job groups are set in every mode, so a run can still ask how many
    jobs a span launched (:meth:`jobs_of`) after it ends; with
    ``enabled`` false nothing is read while the run is timed.
    ``overhead_s`` is the wall time spent opening and closing spans,
    statistic reads included: what the spans add to the time they
    are part of.
    """

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.reader = StageReader(spark)
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._ids = itertools.count()
        self._stack: list[Span] = []

    def _set_group(self, group: str | None, name: str = "") -> None:
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(group, name)

    def begin(self, name: str, layer: str) -> Span:
        """Open a span under the innermost open span."""
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            span_id=next(self._ids), name=name, layer=layer, run_id=self.run_id,
            parent=parent.span_id if parent else None, start=0.0,
        )
        sp.group = f"{self.run_id}/{sp.span_id}"
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp.group, name)
        sp.first_job = self.reader.jobs_submitted()
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t0
        return sp

    def end(self, sp: Span) -> None:
        """Close the innermost open span, which must be ``sp``."""
        sp.end = time.perf_counter()
        sp.last_job = self.reader.jobs_submitted()
        if self._stack.pop() is not sp:
            raise RuntimeError(f"span {sp.name!r} is not the innermost open span")
        parent = self._stack[-1] if self._stack else None
        self._set_group(parent.group if parent else None, parent.name if parent else "")
        if self.enabled:
            sp.stats = self.read(sp)
        self.overhead_s += time.perf_counter() - sp.end

    @contextmanager
    def span(self, name: str, layer: str):
        sp = self.begin(name, layer)
        try:
            yield sp
        finally:
            self.end(sp)

    def read(self, sp: Span) -> dict:
        """Job and stage statistics of the span's own group."""
        self.reader.drain()
        return self.reader.stats(self.reader.group_jobs(sp.group, sp.first_job, sp.last_job))

    def jobs_of(self, sp: Span) -> int:
        """How many jobs the span launched in its own group."""
        self.reader.drain()
        return len(self.reader.group_jobs(sp.group, sp.first_job, sp.last_job))

    def children(self, sp: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == sp.span_id]

    def self_seconds(self, sp: Span) -> float:
        return self_seconds(sp, self.children(sp))

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) | {"seconds": s.seconds} for s in self.spans], fh, indent=1)


@contextmanager
def replaced(fn, replacement, package: str):
    """While open, every module of ``package`` that holds ``fn`` under
    its own name holds ``replacement`` instead."""
    holders = [
        m for name, m in list(sys.modules.items())
        if name.startswith(package) and getattr(m, fn.__name__, None) is fn
    ]
    for m in holders:
        setattr(m, fn.__name__, replacement)
    try:
        yield
    finally:
        for m in holders:
            setattr(m, fn.__name__, fn)


def spans_around(tracer: Tracer, fn, layer: str, package: str):
    """While open, calls of ``fn`` from ``package`` run inside a span
    named after it."""

    def wrapped(*args, **kwargs):
        with tracer.span(fn.__name__, layer):
            return fn(*args, **kwargs)

    return replaced(fn, wrapped, package)


def stream_stats(reader: StageReader, progress: StreamProgress, first_job: int, last_job: int) -> dict:
    """Batch progress and job statistics of every stream started since
    ``progress`` was created."""
    reader.drain()
    jobs: list[int] = []
    for run_id in progress.run_ids:
        jobs += reader.group_jobs(run_id, first_job, last_job)
    st = reader.stats(jobs)
    secs = [b["seconds"] for b in progress.batches]
    return {
        "batches": len(progress.batches),
        "batch_p50_s": statistics.median(secs) if secs else 0.0,
        "state_rows": max((b["state_rows"] for b in progress.batches), default=0),
        "state_mb": max((b["state_bytes"] for b in progress.batches), default=0) / MB,
        "executor_run_s": st["executor_run_s"],
        "executor_cpu_s": st["executor_cpu_s"],
        "jobs": st["jobs"],
    }

"""Spark-side measurement read from outside the library.

* :class:`StageMeter` reads Spark's status store
  (``sc._jsc.sc().statusStore()``, which works with the UI disabled)
  and sums per-stage task metrics over a range of job ids. Job ids are
  handed out in submission order, so in a single-client closed loop
  the jobs of a call are exactly those submitted between two marks —
  including jobs that library helper threads or the streaming engine
  submit, which a thread-local job group would miss.
* :class:`TriggerLog` is a ``StreamingQueryListener`` that records each
  micro-batch's ``durationMs`` and ``numInputRows``.
* :class:`Tracer` keeps spans (name, start, end, parent, trace id) in
  memory, tags each span's jobs with a Spark job group, and computes
  self time and self stage metrics from the children.
"""

from __future__ import annotations

import itertools
import time
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

MB = 1024.0 * 1024.0


@dataclass
class StageTotals:
    """Task metrics summed over a set of stages (skipped stages have
    none and count in ``stages`` only if they ran)."""

    stages: int = 0
    cpu_s: float = 0.0
    run_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    output_mb: float = 0.0
    spill_mb: float = 0.0
    failed_tasks: int = 0

    def add(self, other: "StageTotals") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


class StageMeter:
    """Per-stage task metrics for the jobs submitted between two marks."""

    def __init__(self, spark):
        self._jsc = spark.sparkContext._jsc.sc()
        self._store = self._jsc.statusStore()
        self._stage_cache: dict[int, StageTotals] = {}
        self._job_stages: dict[int, list[int]] = {}

    def mark(self) -> int:
        """Id of the newest job submitted so far (-1 before any). The
        listener bus is drained first, so a job that has already been
        submitted is never left out of the store."""
        self.settle()
        jobs = self._store.jobsList(None)  # newest first
        return int(jobs.apply(0).jobId()) if jobs.size() else -1

    def settle(self) -> None:
        """Block until the status store has seen every posted event."""
        self._jsc.listenerBus().waitUntilEmpty()

    def _stages_of(self, job_id: int) -> list[int]:
        if job_id not in self._job_stages:
            ids = self._store.job(job_id).stageIds()
            self._job_stages[job_id] = [int(ids.apply(i)) for i in range(ids.size())]
        return self._job_stages[job_id]

    def _stage(self, stage_id: int) -> StageTotals:
        if stage_id not in self._stage_cache:
            s = self._store.lastStageAttempt(stage_id)
            ran = str(s.status()) != "SKIPPED"
            self._stage_cache[stage_id] = StageTotals(
                stages=int(ran),
                cpu_s=s.executorCpuTime() / 1e9,
                run_s=s.executorRunTime() / 1e3,
                shuffle_read_mb=s.shuffleReadBytes() / MB,
                shuffle_write_mb=s.shuffleWriteBytes() / MB,
                output_mb=s.outputBytes() / MB,
                spill_mb=(s.diskBytesSpilled() + s.memoryBytesSpilled()) / MB,
                failed_tasks=int(s.numFailedTasks()),
            )
        return self._stage_cache[stage_id]

    def stage_ids(self, after: int, upto: int) -> set[int]:
        ids: set[int] = set()
        for job_id in range(after + 1, upto + 1):
            ids.update(self._stages_of(job_id))
        return ids

    def totals(self, stage_ids) -> StageTotals:
        out = StageTotals()
        for sid in stage_ids:
            out.add(self._stage(sid))
        return out

    def forget(self) -> None:
        """Drop cached job/stage rows (call between iterations)."""
        self._stage_cache.clear()
        self._job_stages.clear()


class TriggerLog(StreamingQueryListener):
    """Per-trigger progress of every streaming query while registered."""

    def __init__(self):
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.progress.append({
            "batch_id": int(p.batchId),
            "input_rows": int(p.numInputRows),
            "duration_ms": {k: int(v) for k, v in p.durationMs.items()},
        })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def wait_for(self, n_batches: int, timeout_s: float = 10.0) -> None:
        """Progress events arrive asynchronously after the query ends;
        wait until ``n_batches`` data triggers are recorded."""
        deadline = time.monotonic() + timeout_s
        while self.data_triggers() < n_batches and time.monotonic() < deadline:
            time.sleep(0.05)

    def data_triggers(self) -> int:
        return sum(1 for p in self.progress if p["input_rows"] > 0)


@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    trace_id: str
    start: float
    end: float = 0.0
    first_job: int = -1
    last_job: int = -1
    counts: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans around calls into the library's layers. Each
    span runs under its own Spark job group; its stage metrics are the
    stages of the jobs submitted while it was open."""

    def __init__(self, spark, meter: StageMeter, trace_id: str):
        self._sc = spark.sparkContext
        self._meter = meter
        self.trace_id = trace_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()

    def span(self, name: str):
        """Context manager yielding the open :class:`Span`; callers may
        record counts on ``span.counts``."""
        return _SpanCtx(self, name)

    def _open(self, name: str) -> Span:
        parent = self._stack[-1].span_id if self._stack else None
        sp = Span(name, next(self._ids), parent, self.trace_id, time.perf_counter())
        sp.first_job = self._meter.mark()
        self._sc.setJobGroup(f"{self.trace_id}/{sp.span_id}", name)
        self._stack.append(sp)
        self.spans.append(sp)
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        sp.last_job = self._meter.mark()
        self._stack.pop()
        if self._stack:
            top = self._stack[-1]
            self._sc.setJobGroup(f"{self.trace_id}/{top.span_id}", top.name)
        else:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)

    def report(self) -> list[dict]:
        """Spans with duration, self time, and total/self stage metrics.
        Self = the span's interval (or stages) minus what its children
        cover; children of one parent run one after another."""
        self._meter.settle()
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)
        rows = []
        for sp in self.spans:
            kids = children.get(sp.span_id, [])
            own = self._meter.stage_ids(sp.first_job, sp.last_job)
            kid_ids: set[int] = set()
            for k in kids:
                kid_ids |= self._meter.stage_ids(k.first_job, k.last_job)
            total = self._meter.totals(own)
            self_tot = self._meter.totals(own - kid_ids)
            dur = sp.end - sp.start
            rows.append({
                "name": sp.name, "span_id": sp.span_id, "parent": sp.parent,
                "trace_id": sp.trace_id, "start": sp.start, "end": sp.end,
                "s": dur, "self_s": dur - sum(k.end - k.start for k in kids),
                "cpu_s": total.cpu_s, "self_cpu_s": self_tot.cpu_s,
                "shuffle_write_mb": total.shuffle_write_mb,
                "self_shuffle_write_mb": self_tot.shuffle_write_mb,
                "stages": total.stages, "run_s": total.run_s,
                "shuffle_read_mb": total.shuffle_read_mb, "spill_mb": total.spill_mb,
                "failed_tasks": total.failed_tasks, "write_mb": total.output_mb,
                **sp.counts,
            })
        return rows


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self._tracer, self._name = tracer, name
        self.span: Span | None = None

    def __enter__(self) -> Span:
        self.span = self._tracer._open(self._name)
        return self.span

    def __exit__(self, *exc) -> None:
        self._tracer._close(self.span)

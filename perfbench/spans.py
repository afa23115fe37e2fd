"""Spans and Spark counters for the traced benchmark run.

A span is one timed call into a layer: its name, start, end, parent span
and the run id shared by every span of the run. When a span opens and
when it closes, the tracer drains Spark's listener bus; it attributes to
the span every job that started while it was open (jobs outside every
span are attributed to none), with the stage metrics of those jobs read
from Spark's status store (``jobsList`` / ``lastStageAttempt``; both work
with the UI disabled). Spans stay in memory and are written once, at the
end of the run.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

#: stage-metric fields summed per span, with the factor that turns Spark's
#: raw unit into the one reported (ms -> s, ns -> s, bytes -> MB)
_STAGE_FIELDS = {
    "tasks": ("numTasks", 1),
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "shuffle_write_mb": ("shuffleWriteBytes", 1 / 2**20),
    "spill_mb": ("memoryBytesSpilled", 1 / 2**20),
    "gc_s": ("jvmGcTime", 1e-3),
}
COUNTERS = ("jobs", *_STAGE_FIELDS)


def _millis(option) -> int | None:
    """A Scala ``Option[java.util.Date]`` as epoch milliseconds."""
    return option.get().getTime() if option.isDefined() else None


class SparkCounters:
    """Per-job counters read from the driver's status store, cached so a
    job is read once however many spans enclose it."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._jobs: dict[int, dict[str, float]] = {}
        # jobs that ran before the tracer existed are never read
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(None)
        self.watermark = jobs.apply(0).jobId() if jobs.size() else -1
        self._floor = self.watermark

    def _refresh(self) -> int:
        """Read every job newer than the cache; return the newest job id."""
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(None)  # newest first
        newest = self._floor
        for i in range(jobs.size()):
            job = jobs.apply(i)
            jid = job.jobId()
            if jid <= self._floor or jid in self._jobs:
                break
            newest = max(newest, jid)
            self._jobs[jid] = self._read_job(job)
        return max(newest, max(self._jobs, default=-1))

    def _read_job(self, job) -> dict[str, float]:
        out = dict.fromkeys(COUNTERS, 0.0)
        out["jobs"] = 1.0
        job_start = _millis(job.submissionTime())
        stage_ids = job.stageIds()
        for i in range(stage_ids.size()):
            stage = self._store.lastStageAttempt(stage_ids.apply(i))
            # a stage whose shuffle output an earlier job already wrote is
            # skipped here: it has no submission, or an older one
            submitted = _millis(stage.submissionTime())
            if submitted is None or (job_start is not None and submitted < job_start):
                continue
            for key, (field, scale) in _STAGE_FIELDS.items():
                out[key] += getattr(stage, field)() * scale
        return out

    def between(self, first: int, last: int) -> dict[str, float]:
        """Summed counters of jobs with ``first < id <= last``."""
        out = dict.fromkeys(COUNTERS, 0.0)
        for jid in range(first + 1, last + 1):
            for key, v in self._jobs.get(jid, {}).items():
                out[key] += v
        return out

    def mark(self) -> int:
        return self._refresh()


class Tracer:
    """Span recorder. ``span`` yields the span record; the caller may add
    attributes to it. Times are ``time.perf_counter`` seconds relative to
    the tracer's start.

    The tracer times its own bookkeeping (mostly draining the listener bus
    and reading the status store when a span opens and closes), so its
    overhead is measured inside the traced window rather than by comparing
    it with an untraced one, whose run-to-run spread is far wider than the
    overhead.
    """

    def __init__(self, spark, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.counters = SparkCounters(spark)
        self._overhead_s = 0.0
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, spark_counters: bool = True, **attrs):
        rec = {
            "run_id": self.run_id,
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        first = None
        if spark_counters:
            # jobs that ran since the last span closed (outside any span,
            # or in the parent before this span opened) are not this span's
            t = time.perf_counter()
            first = self.counters.watermark = self.counters.mark()
            self._overhead_s += time.perf_counter() - t
        rec["start"] = time.perf_counter() - self._t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            if spark_counters:
                self.counters.watermark = self.counters.mark()
                rec.update(self.counters.between(first, self.counters.watermark))
            self._overhead_s += time.perf_counter() - self._t0 - rec["end"]

    def overhead_pct(self) -> float:
        """Bookkeeping time as a share of the traced window without it."""
        wall = time.perf_counter() - self._t0
        return 100.0 * self._overhead_s / (wall - self._overhead_s)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec, default=str) + "\n")


class NoTracer:
    """Stand-in for untraced runs: spans cost one dict and nothing else."""

    spans: tuple[dict, ...] = ()

    @contextmanager
    def span(self, name: str, spark_counters: bool = True, **attrs):
        yield {}

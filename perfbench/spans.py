"""Spans, Spark status-store attribution and method wrapping.

Everything here observes the package from outside: spans wrap calls the
benchmark makes (or public methods it wraps on an instance or module),
and Spark work is attributed to a span by the difference in the maximum
job id the status store has seen at its start and end.  That list is
read from ``statusStore().jobsList`` (newest first), which keeps
working after ``spark.ui.retainedJobs`` evicts old jobs, unlike the
length of ``statusTracker().getJobIdsForGroup``.
"""

from __future__ import annotations

import functools
import os
import resource
import statistics
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Span:
    __slots__ = ("name", "start", "end", "parent", "job_lo", "job_hi")

    def __init__(self, name, start, parent, job_lo):
        self.name = name
        self.start = start
        self.end = None
        self.parent = parent
        self.job_lo = job_lo  # max job id seen before the span
        self.job_hi = None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder.  With ``enabled`` false every span is a
    no-op, so untraced runs pay nothing for the instrumentation."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = spark.sparkContext._jsc.sc() if spark is not None else None

    # -- status store ----------------------------------------------------
    def _settle(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def max_job_id(self) -> int:
        self._settle()
        jobs = self._sc.statusStore().jobsList(None)
        return jobs.head().jobId() if jobs.nonEmpty() else -1

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, 0.0, parent, self.max_job_id())
        sp.start = time.perf_counter()
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            sp.job_hi = self.max_job_id()
            self.spans.append(sp)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return timed

    # -- per-job detail --------------------------------------------------
    def job_stats(self, lo: int, hi: int) -> dict:
        """Jobs ``lo < id <= hi``: counts, the union of their wall
        intervals, and executor-side totals over the stages they ran."""
        store = self._sc.statusStore()
        intervals, stages = [], set()
        tasks = 0
        for jid in range(lo + 1, hi + 1):
            try:
                j = store.job(jid)
            except Py4JJavaError:  # evicted or never registered
                continue
            sub, comp = j.submissionTime(), j.completionTime()
            if sub.isDefined() and comp.isDefined():
                intervals.append((sub.get().getTime(), comp.get().getTime()))
            tasks += j.numCompletedTasks()
            it = j.stageIds().iterator()
            while it.hasNext():
                stages.add(it.next())
        out = dict.fromkeys(
            ("run_ms", "cpu_ns", "gc_ms", "shuffle_read", "shuffle_write",
             "spill"), 0)
        n_stages = 0
        for sid in stages:
            try:
                s = store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted
                continue
            if s.status().toString() == "SKIPPED":
                continue
            n_stages += 1
            out["run_ms"] += s.executorRunTime()
            out["cpu_ns"] += s.executorCpuTime()
            out["gc_ms"] += s.jvmGcTime()
            out["shuffle_read"] += s.shuffleReadBytes()
            out["shuffle_write"] += s.shuffleWriteBytes()
            out["spill"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return {
            "jobs": max(0, hi - lo),
            "stages": n_stages,
            "tasks": tasks,
            "job_wall_s": union_ms(intervals) / 1000.0,
            "executor_run_s": out["run_ms"] / 1000.0,
            "executor_cpu_s": out["cpu_ns"] / 1e9,
            "jvm_gc_s": out["gc_ms"] / 1000.0,
            "shuffle_read_mb": out["shuffle_read"] / 2**20,
            "shuffle_write_mb": out["shuffle_write"] / 2**20,
            "spill_mb": out["spill"] / 2**20,
        }

    def take(self) -> list[Span]:
        """Hand over (and forget) the spans closed so far."""
        spans, self.spans = self.spans, []
        return spans


def union_ms(intervals) -> float:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return float(total)


def self_time(span: Span, spans: list[Span]) -> float:
    """Span duration minus the part its direct children cover."""
    kids = [(s.start, s.end) for s in spans if s.parent is span]
    return span.dur - union_ms(kids)


SPARK_KEYS = (
    "jobs", "stages", "tasks", "job_wall_s", "driver_s", "executor_run_s",
    "executor_cpu_s", "jvm_gc_s", "shuffle_read_mb", "shuffle_write_mb",
    "spill_mb",
)


class SparkOps:
    """Per-op Spark attribution collected in a traced run."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.per_op: list[dict] = []

    def record(self, op_span: Span) -> dict:
        st = self.tracer.job_stats(op_span.job_lo, op_span.job_hi)
        st["wall_s"] = op_span.dur
        st["driver_s"] = max(0.0, op_span.dur - st["job_wall_s"])
        self.per_op.append(st)
        return st

    def metrics(self) -> dict:
        out = {}
        for k in SPARK_KEYS:
            out[f"spark.{k}"] = median([o[k] for o in self.per_op])
        ok = [
            abs(o["driver_s"] + o["job_wall_s"] - o["wall_s"]) <= 0.1 * o["wall_s"]
            for o in self.per_op
        ]
        out["spark.attributed_frac"] = sum(ok) / len(ok) if ok else 0.0
        return out


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def peak_rss_mb(spark) -> float:
    """High-water RSS of this Python process plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    try:
        pid = spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    except (AttributeError, OSError):
        pass
    return (py_kb + jvm_kb) / 1024.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


class Workload:
    """Base of the three workloads.  A subclass implements
    ``generate``/``expect`` (repeatable, Spark-free set-up), ``warmup``,
    ``op`` and ``layer_metrics``."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.spark_ops = SparkOps(ctx.tracer)
        self.setup_failures = 0
        self.label = ""  # what the latest op did, for the per-op log

    def enough(self, i: int) -> bool:
        """Whether ``i`` ops are enough to stop once time is up."""
        return i > 0

    def timed(self, fn):
        """Run ``fn`` as one op.  Returns ``(wall_s, value, trace)``;
        ``trace`` is ``(spark stats, spans)`` in a traced run, else
        None."""
        tr = self.tracer
        if not tr.enabled:
            t = time.perf_counter()
            value = fn()
            return time.perf_counter() - t, value, None
        with tr.span("op") as sp:
            value = fn()
        stats = self.spark_ops.record(sp)
        return sp.dur, value, (stats, tr.take())

"""Tracing from outside the engine: spans recorded in the benchmark's own
files, Spark's status stores read after the timed phase, and a streaming
listener.

- ``Tracer.span`` records (name, parent, start, end) in memory and tags the
  calling thread's Spark jobs with ``setJobGroup``. Jobs are attributed to
  spans by submission time, because the engine submits some jobs from its
  own thread pools and from the streaming thread, which do not inherit the
  caller's job group.
- ``read_jobs`` reads jobs and their stages from the JVM ``AppStatusStore``
  and ``read_python_metrics`` reads the Python-worker SQL metrics from the
  SQL status store. Both work with ``spark.ui.enabled=false``.
- ``ProgressListener`` keeps every ``StreamingQueryProgress``.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime

from py4j.protocol import Py4JJavaError

from pyspark.sql.streaming import StreamingQueryListener


def now_ms() -> float:
    return time.time() * 1000.0


@dataclass
class Span:
    name: str
    parent: str | None
    start_ms: float
    end_ms: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0


class Tracer:
    """In-memory span recorder. A disabled tracer records and tags nothing,
    so the untraced run pays none of this. ``hooks_s`` is the time spent
    in the tracer's own bookkeeping on the caller's thread."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self.marks: list[tuple[str, float]] = []
        self.hooks_s = 0.0
        self._stack: list[Span] = []

    def mark(self, name: str) -> None:
        """A point event: a stage of the current span starts here."""
        self.marks.append((name, now_ms()))

    def _tag(self) -> None:
        if self._stack:
            self.sc.setJobGroup(self._stack[-1].name, self._stack[-1].name, False)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1].name if self._stack else None
        s = Span(name, parent, now_ms(), attrs=attrs)
        self._stack.append(s)
        self._tag()
        self.hooks_s += time.perf_counter() - t0
        try:
            yield s
        finally:
            t0 = time.perf_counter()
            s.end_ms = now_ms()
            self._stack.pop()
            self.spans.append(s)
            self._tag()
            self.hooks_s += time.perf_counter() - t0

    def named(self, prefix: str) -> list[Span]:
        return [s for s in self.spans if s.name.startswith(prefix)]


@dataclass
class StageStats:
    tasks: int
    skipped: bool
    run_ms: int
    cpu_ns: int
    gc_ms: int
    input_bytes: int
    input_records: int
    output_bytes: int
    output_records: int
    shuffle_read: int
    shuffle_write: int
    spill: int
    failed_tasks: int


@dataclass
class JobStats:
    start_ms: float
    end_ms: float
    failed: bool
    stages: list[StageStats]


def _opt(o):
    return o.get() if o.isDefined() else None


def read_jobs(spark, since_ms: float) -> list[JobStats]:
    """Jobs submitted at or after ``since_ms`` with their stages' task
    metrics, from the driver's ``AppStatusStore``."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    out = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        sub = _opt(j.submissionTime())
        if sub is None or sub.getTime() < since_ms:
            continue
        done = _opt(j.completionTime())
        stages = []
        ids = j.stageIds()
        for k in range(ids.size()):
            try:
                s = store.lastStageAttempt(ids.apply(k))
            except Py4JJavaError:  # stage evicted from the store's retention
                continue
            stages.append(
                StageStats(
                    tasks=s.numTasks(),
                    skipped=s.status().toString() == "SKIPPED",
                    run_ms=s.executorRunTime(),
                    cpu_ns=s.executorCpuTime(),
                    gc_ms=s.jvmGcTime(),
                    input_bytes=s.inputBytes(),
                    input_records=s.inputRecords(),
                    output_bytes=s.outputBytes(),
                    output_records=s.outputRecords(),
                    shuffle_read=s.shuffleReadBytes(),
                    shuffle_write=s.shuffleWriteBytes(),
                    spill=s.memoryBytesSpilled() + s.diskBytesSpilled(),
                    failed_tasks=s.numFailedTasks(),
                )
            )
        out.append(
            JobStats(
                start_ms=float(sub.getTime()),
                end_ms=float(done.getTime()) if done is not None else now_ms(),
                failed=j.status().toString() == "FAILED",
                stages=stages,
            )
        )
    return out


_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
}
_PY_METRICS = {
    "time to run Python workers": "python_total_s",
    "time to start Python workers": "python_boot_s",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_received",
}


def parse_metric(text: str) -> float:
    """The total of one formatted SQL metric (``'3.6 s'``, ``'14.3 KiB'``,
    ``'1,000'``, or the multi-line ``total (min, med, max ...)`` form)."""
    line = text.strip().splitlines()[-1]
    total = line.split(" (", 1)[0].strip().replace(",", "")
    m = re.fullmatch(r"(-?[0-9.]+)\s*([A-Za-z]*)", total)
    if not m:
        raise ValueError(f"unparsed SQL metric {text!r}")
    return float(m.group(1)) * _UNITS.get(m.group(2), 1.0)


def read_python_metrics(spark, since_ms: float) -> dict[str, float]:
    """Python-worker SQL metrics summed over SQL executions submitted at or
    after ``since_ms``: time, worker start-up time, bytes each way and rows
    out of the Python-evaluating plan nodes."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = dict.fromkeys(list(_PY_METRICS.values()) + ["python_rows"], 0.0)
    execs = store.executionsList()
    for i in range(execs.size()):
        e = execs.apply(i)
        if e.submissionTime() < since_ms:
            continue
        values = store.executionMetrics(e.executionId())
        flat = e.metrics()
        if not any(flat.apply(k).name() in _PY_METRICS for k in range(flat.size())):
            continue
        nodes = store.planGraph(e.executionId()).allNodes()
        for n in range(nodes.size()):
            node = nodes.apply(n)
            metrics = node.metrics()
            names = {metrics.apply(k).name(): metrics.apply(k) for k in range(metrics.size())}
            if not set(names) & set(_PY_METRICS):
                continue
            for name, m in names.items():
                key = _PY_METRICS.get(name) or (
                    "python_rows" if name == "number of output rows" else None
                )
                v = values.get(m.accumulatorId())
                if key and v.isDefined():
                    out[key] += parse_metric(v.get())
    return out


class ProgressListener(StreamingQueryListener):
    """Keeps each micro-batch's trigger start (epoch ms), input rows and the
    phase durations Spark reports for it."""

    def __init__(self):
        self.progress: list[tuple[float, dict]] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        started = datetime.fromisoformat(p.timestamp).timestamp() * 1000.0
        self.progress.append(
            (started, {"input_rows": p.numInputRows, **dict(p.durationMs)})
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def busy_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def spark_metrics(jobs: list[JobStats], wall_s: float, cores: int) -> dict[str, float]:
    """Execution-layer totals over ``jobs`` for a window of ``wall_s``."""
    stages = [s for j in jobs for s in j.stages]
    ran = [s for s in stages if not s.skipped]
    run_s = sum(s.run_ms for s in ran) / 1000.0
    return {
        "jobs": len(jobs),
        "stages": len(ran),
        "tasks": sum(s.tasks for s in ran),
        "single_task_stages": sum(1 for s in ran if s.tasks == 1),
        "skipped_stages": len(stages) - len(ran),
        "executor_run_s": run_s,
        "executor_cpu_s": sum(s.cpu_ns for s in ran) / 1e9,
        "jvm_gc_s": sum(s.gc_ms for s in ran) / 1000.0,
        "shuffle_read_bytes": sum(s.shuffle_read for s in ran),
        "shuffle_write_bytes": sum(s.shuffle_write for s in ran),
        "spill_bytes": sum(s.spill for s in ran),
        "parallelism": run_s / (wall_s * cores) if wall_s > 0 else 0.0,
        "failed_tasks": sum(s.failed_tasks for s in ran),
        "failed_jobs": sum(1 for j in jobs if j.failed),
        "scan_bytes": sum(s.input_bytes for s in ran),
        "scan_records": sum(s.input_records for s in ran),
        "write_bytes": sum(s.output_bytes for s in ran),
        "rows_written": sum(s.output_records for s in ran),
    }


def jobs_in(jobs: list[JobStats], lo_ms: float, hi_ms: float) -> list[JobStats]:
    return [j for j in jobs if lo_ms <= j.start_ms < hi_ms]

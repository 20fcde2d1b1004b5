"""Spark's own event log, attached for the traced phase and folded into spans.

``EventLog`` attaches Spark's ``EventLoggingListener`` to a running
SparkContext, so the untraced and traced phases of one run share a JVM and
a warm-up, and detaches it (which flushes and closes the file) afterwards.

``fold`` assigns every job to the harness span that was open when the job
was submitted. Job descriptions are not enough for that: the crawl's wave-2b
writes run on a thread pool whose threads do not inherit local properties.
Stages, tasks, executor metrics and SQL metrics follow their job.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from dataclasses import dataclass, field

# SQL metric names of the Arrow Python-UDF operators (Spark 4 PythonSQLMetrics)
ARROW_TO_PY = "data sent to Python workers"
ARROW_FROM_PY = "data returned from Python workers"


@dataclass
class Span:
    label: str
    start_ms: float
    end_ms: float
    rep: int  # timed repetition the span belongs to


class EventLog:
    """Attach/detach Spark's event-log listener around the traced phase."""

    def __init__(self, spark, log_dir: str):
        self.spark = spark
        self.log_dir = log_dir
        self._listener = None

    def __enter__(self) -> "EventLog":
        os.makedirs(self.log_dir, exist_ok=True)
        sc = self.spark.sparkContext
        jvm, jsc = sc._jvm, sc._jsc.sc()
        conf = (jsc.conf().clone()
                .set("spark.eventLog.compress", "false")
                .set("spark.eventLog.rolling.enabled", "false")
                .set("spark.eventLog.logStageExecutorMetrics", "true"))
        uri = jvm.java.io.File(self.log_dir).toURI()
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            jsc.applicationId(), jvm.scala.Option.apply(None), uri, conf,
            jsc.hadoopConfiguration())
        self._listener.start()
        jsc.addSparkListener(self._listener)
        return self

    def __exit__(self, *exc) -> None:
        jsc = self.spark.sparkContext._jsc.sc()
        # let the listener bus drain before the file closes
        jsc.listenerBus().waitUntilEmpty()
        jsc.removeSparkListener(self._listener)
        self._listener.stop()

    def events(self):
        for path in sorted(glob.glob(os.path.join(self.log_dir, "*"))):
            with open(path) as f:
                for line in f:
                    if line.strip():
                        yield json.loads(line)


@dataclass
class Fold:
    """Event-log totals over the timed repetitions (sums over all of them)."""
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    job_busy_ms: float = 0.0       # union of job intervals inside the spans
    span_ms: float = 0.0           # total wall of the spans
    task_run_ms: float = 0.0       # Σ (finish - launch)
    exec_run_ms: float = 0.0       # Σ executor run time
    exec_cpu_ms: float = 0.0       # Σ executor CPU time
    gc_ms: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    arrow_to_py_bytes: int = 0
    arrow_from_py_bytes: int = 0
    peak_storage_bytes: int = 0
    worst_skew: float = 1.0
    jobs_by_label: dict = field(default_factory=dict)


def _span_of(spans: list[Span], t_ms: float) -> Span | None:
    for s in spans:
        if s.start_ms <= t_ms <= s.end_ms:
            return s
    return None


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    tot, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        tot += b - max(a, end)
        end = b
    return tot


def fold(events, spans: list[Span]) -> Fold:
    """Fold job, stage, task, executor-metric and SQL-metric events into the
    spans by job submission time."""
    out = Fold(span_ms=sum(s.end_ms - s.start_ms for s in spans))
    job_span: dict[int, Span] = {}
    job_start: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    intervals = []
    task_ms: dict[int, list[float]] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid, t = ev["Job ID"], ev["Submission Time"]
            s = _span_of(spans, t)
            if s is None:
                continue
            job_span[jid], job_start[jid] = s, t
            out.jobs += 1
            out.jobs_by_label[s.label] = out.jobs_by_label.get(s.label, 0) + 1
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_span:
                s = job_span[jid]
                intervals.append((max(job_start[jid], s.start_ms),
                                  min(ev["Completion Time"], s.end_ms)))
        elif kind == "SparkListenerStageCompleted":
            if stage_job.get(ev["Stage Info"]["Stage ID"]) in job_span:
                out.stages += 1
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            if stage_job.get(sid) not in job_span:
                continue
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            out.tasks += 1
            dur = info["Finish Time"] - info["Launch Time"]
            out.task_run_ms += dur
            task_ms.setdefault(sid, []).append(dur)
            out.exec_run_ms += m.get("Executor Run Time", 0)
            out.exec_cpu_ms += m.get("Executor CPU Time", 0) / 1e6
            out.gc_ms += m.get("JVM GC Time", 0)
            out.spill_bytes += m.get("Disk Bytes Spilled", 0)
            out.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}) \
                .get("Shuffle Bytes Written", 0)
            for acc in info.get("Accumulables", []):
                name, upd = acc.get("Name"), acc.get("Update")
                if name == ARROW_TO_PY:
                    out.arrow_to_py_bytes += int(upd)
                elif name == ARROW_FROM_PY:
                    out.arrow_from_py_bytes += int(upd)
            tem = ev.get("Task Executor Metrics") or {}
            out.peak_storage_bytes = max(out.peak_storage_bytes,
                                         tem.get("OnHeapStorageMemory", 0))
        elif kind == "SparkListenerStageExecutorMetrics":
            em = ev.get("Executor Metrics") or {}
            if stage_job.get(ev.get("Stage ID")) in job_span:
                out.peak_storage_bytes = max(out.peak_storage_bytes,
                                             em.get("OnHeapStorageMemory", 0))
    out.job_busy_ms = _union_ms(intervals)
    for durs in task_ms.values():
        med = statistics.median(durs)
        if len(durs) >= 4 and med > 0:
            out.worst_skew = max(out.worst_skew, max(durs) / med)
    return out

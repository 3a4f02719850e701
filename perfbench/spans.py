"""Spans around the benchmark's calls into the engine, and Spark's own
work attributed to them from the event log.

A traced call runs under the job group ``<layer>:<call>`` on the calling
thread and records a span (its wall interval on the benchmark's clock).
Micro-batch jobs run on a stream thread that the job group does not
reach; the span records the ids of the streaming queries the call
started, and those jobs are matched by their ``sql.streaming.queryId``
property instead. Spark's event log (enabled in traced runs only)
supplies job and stage intervals and task metrics; it is parsed once,
after the session has stopped and flushed it.

Untraced runs use ``NullTracer``: no job groups, no spans, no event log.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    layer: str
    call: str
    start_ms: float
    end_ms: float = 0.0
    query_ids: list[str] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"{self.layer}:{self.call}"

    @property
    def seconds(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0


class NullTracer:
    """Tracing off: the calls run exactly as they would without the
    benchmark around them."""

    @contextlib.contextmanager
    def sampling(self):
        yield

    @contextlib.contextmanager
    def call(self, layer: str, call: str):
        yield None

    def stream(self, span, query) -> None:
        pass

    def count(self, span, name: str, value: float) -> None:
        pass


class Tracer(NullTracer):
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.storage_peak_mb = 0.0

    @contextlib.contextmanager
    def call(self, layer: str, call: str):
        span = Span(layer, call, time.time() * 1000.0)
        self.sc.setJobGroup(span.group, span.group)
        try:
            yield span
        finally:
            span.end_ms = time.time() * 1000.0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(span)

    def stream(self, span, query) -> None:
        if span is not None:
            span.query_ids.append(str(query.id))

    def count(self, span, name: str, value: float) -> None:
        if span is not None:
            span.counts[name] = span.counts.get(name, 0.0) + value

    @contextlib.contextmanager
    def sampling(self):
        """Sample the bytes held by cached and checkpointed RDDs every
        0.1 s while the block runs; ``storage_peak_mb`` keeps the largest
        sample."""
        import threading

        done = threading.Event()
        jsc = self.sc._jsc.sc()

        def sample():
            while not done.wait(0.1):
                held = sum(i.memSize() + i.diskSize() for i in jsc.getRDDStorageInfo())
                self.storage_peak_mb = max(self.storage_peak_mb, held / 1e6)

        t = threading.Thread(target=sample, daemon=True)
        t.start()
        try:
            yield
        finally:
            done.set()
            t.join()


@dataclass
class Job:
    job_id: int
    group: str | None
    query_id: str | None
    start_ms: float
    end_ms: float = 0.0
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class Stage:
    tasks: int = 0
    run_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_read: float = 0.0
    shuffle_write: float = 0.0
    spill: float = 0.0
    input_bytes: float = 0.0
    input_rows: float = 0.0
    output_bytes: float = 0.0


_ACC = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write",
    "internal.metrics.diskBytesSpilled": "spill",
    "internal.metrics.input.bytesRead": "input_bytes",
    "internal.metrics.input.recordsRead": "input_rows",
    "internal.metrics.output.bytesWritten": "output_bytes",
}


def read_event_log(log_dir: str) -> tuple[dict[int, Job], dict[int, Stage]]:
    """Jobs and completed stages from every event log file in ``log_dir``."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    for path in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True):
        if os.path.isdir(path):
            continue
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = Job(
                        ev["Job ID"],
                        props.get("spark.jobGroup.id"),
                        props.get("sql.streaming.queryId"),
                        float(ev["Submission Time"]),
                        stage_ids=list(ev.get("Stage IDs", [])),
                    )
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end_ms = float(ev["Completion Time"])
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = Stage(tasks=int(info.get("Number of Tasks", 0)))
                    for acc in info.get("Accumulables", []):
                        attr = _ACC.get(acc.get("Name"))
                        if attr is not None:
                            setattr(st, attr, getattr(st, attr) + float(acc["Value"]))
                    stages[info["Stage ID"]] = st
    return jobs, stages


def span_jobs(span: Span, jobs: dict[int, Job]) -> list[Job]:
    """The jobs a call caused: its own job group inside its interval,
    plus the micro-batch jobs of the streaming queries it started."""
    qids = set(span.query_ids)
    return [
        j
        for j in jobs.values()
        if span.start_ms <= j.start_ms <= span.end_ms
        and (j.group == span.group or (j.query_id is not None and j.query_id in qids))
    ]


def covered_ms(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def stage_totals(job_list: list[Job], stages: dict[int, Stage]) -> Stage:
    out = Stage()
    seen: set[int] = set()
    for j in job_list:
        for sid in j.stage_ids:
            st = stages.get(sid)
            if st is None or sid in seen:  # skipped stage, or shared
                continue
            seen.add(sid)
            for attr in vars(out):
                setattr(out, attr, getattr(out, attr) + getattr(st, attr))
    return out

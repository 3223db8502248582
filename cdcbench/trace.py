"""Span recording and Spark event-log attribution for the traced run.

Spans are recorded from the benchmark's own files, around the public calls
into each layer (the program itself carries no spans).  Each span sets the
Spark job description to ``cdcbench#<span id>`` while it is open, so every
job and stage in the event log names the innermost span that launched it.

Runs are strictly sequential — the main thread blocks in
``processAllAvailable`` while a ``foreachBatch`` callback runs on another
thread — so one stack, shared by all threads under a lock, gives each span
its true parent.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

JOB_TAG = "cdcbench#"
DESC = "spark.job.description"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float  # epoch seconds, comparable with event-log timestamps
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class SpanRecorder:
    """Keeps spans in memory; :meth:`dump` writes them out at exit."""

    def __init__(self, sc=None, workload: str = ""):
        self.sc = sc
        self.workload = workload
        self.step: int | None = None
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, **attrs):
        with self._lock:
            s = Span(
                id=len(self.spans),
                name=name,
                parent=self._stack[-1] if self._stack else None,
                start=time.time(),
                attrs={"workload": self.workload, "step": self.step, **attrs},
            )
            self.spans.append(s)
            self._stack.append(s.id)
        prev = self.sc.getLocalProperty(DESC) if self.sc is not None else None
        if self.sc is not None:
            self.sc.setJobDescription(f"{JOB_TAG}{s.id}")
        try:
            yield s
        finally:
            s.end = time.time()
            if self.sc is not None:
                self.sc.setJobDescription(prev)
            with self._lock:
                self._stack.remove(s.id)

    def wrap(self, name: str, fn):
        """``fn`` inside a span; the span keeps the call's return value."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                out = fn(*args, **kwargs)
                s.attrs["result"] = out
                return out

        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                d = asdict(s)
                d["attrs"] = {k: v for k, v in d["attrs"].items() if k != "result"}
                f.write(json.dumps(d, default=str) + "\n")


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clipped(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_time(span: Span, spans: list[Span]) -> float:
    """The span's duration minus the part of it its child spans cover."""
    kids = [(c.start, c.end) for c in spans if c.parent == span.id]
    return span.duration - union_length(clipped(kids, span.start, span.end))


@dataclass
class Task:
    run_s: float  # executor run time
    gc_s: float
    shuffle_write: int
    shuffle_read: int
    spill: int


@dataclass
class Job:
    id: int
    span: int | None
    start: float
    end: float | None = None
    stages: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict  # job id -> Job
    stage_span: dict  # stage id -> span id (None: launched outside a span)
    tasks: dict  # stage id -> [Task]

    def stages_of(self, span_ids: set) -> list[int]:
        return [st for st, sp in self.stage_span.items() if sp in span_ids]

    def jobs_of(self, span_ids: set) -> list[Job]:
        return [j for j in self.jobs.values() if j.span in span_ids]

    def tasks_of(self, span_ids: set) -> list[Task]:
        return [t for st in self.stages_of(span_ids) for t in self.tasks.get(st, [])]


def _span_of(props: dict | None) -> int | None:
    desc = (props or {}).get(DESC) or ""
    if desc.startswith(JOB_TAG):
        return int(desc[len(JOB_TAG):])
    return None


def read_event_log(path: str) -> EventLog:
    """Jobs, stages and task metrics of an (uncompressed) Spark event log,
    each stage attributed to the span whose description it was launched
    under."""
    jobs: dict = {}
    stage_span: dict = {}
    tasks: dict = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                j = Job(ev["Job ID"], _span_of(ev.get("Properties")),
                        ev["Submission Time"] / 1000, stages=list(ev["Stage IDs"]))
                jobs[j.id] = j
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                stage_span[info["Stage ID"]] = _span_of(ev.get("Properties"))
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                tasks.setdefault(ev["Stage ID"], []).append(Task(
                    run_s=m.get("Executor Run Time", 0) / 1000,
                    gc_s=m.get("JVM GC Time", 0) / 1000,
                    shuffle_write=sw.get("Shuffle Bytes Written", 0),
                    shuffle_read=sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    spill=m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0),
                ))
    return EventLog(jobs, stage_span, tasks)

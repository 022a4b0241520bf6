"""Spans around the package's public functions, and Spark work per span.

A traced run wraps public functions of each layer (module attributes the
callers look up at call time), so the package itself is unchanged. Each
span records name, layer, start, end, parent and run id, and while it is
open the Spark local property ``perfbench.span`` names it, so every job
Spark runs is tagged with the innermost open span. Spans stay in memory;
Spark's JSON event log (enabled only in the traced session) supplies
jobs, stages and tasks, which ``attribute`` joins back to the spans.

The arithmetic here is pure and tested on synthetic spans and a small
recorded event log (perfbench/tests).
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from dataclasses import dataclass, field

SPAN_PROPERTY = "perfbench.span"
MB = 1024 * 1024


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    value: float = 0.0      # numeric return value, for counting wrappers

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; ``patch`` swaps a module or class
    attribute for a span-recording wrapper until ``unpatch``."""

    def __init__(self, run_id: str, set_property=None):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self._set_property = set_property or (lambda value: None)

    def open(self, name: str, layer: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, layer, parent, self.run_id, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self._set_property(str(s.id))
        return s

    def close(self, s: Span) -> None:
        s.end = time.time()
        self._stack.remove(s)
        self._set_property(str(self._stack[-1].id) if self._stack else None)

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        s = self.open(name, layer)
        try:
            yield s
        finally:
            self.close(s)

    def wrap(self, fn, name: str, layer: str, keep_value: bool = False):
        """``fn`` inside a span; ``keep_value`` stores its numeric return
        value on the span (e.g. how many caches a release freed)."""
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer) as s:
                out = fn(*args, **kwargs)
                if keep_value:
                    s.value = float(out)
                return out
        return traced

    def patch(self, owner, attr: str, name: str, layer: str,
              keep_value: bool = False) -> None:
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, self.wrap(orig, name, layer, keep_value))

    def unpatch(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)


# --------------------------------------------------------------------------
# interval arithmetic
# --------------------------------------------------------------------------

def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by ``intervals`` (clipped to [lo, hi])."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(clipped):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def children(spans: list[Span]) -> dict[int, list[Span]]:
    out: dict[int, list[Span]] = {s.id: [] for s in spans}
    for s in spans:
        if s.parent is not None:
            out[s.parent].append(s)
    return out


def self_times(spans: list[Span]) -> dict[int, float]:
    """A span's wall minus the part of it its child spans cover."""
    kids = children(spans)
    return {
        s.id: s.wall - union_length([(c.start, c.end) for c in kids[s.id]],
                                    s.start, s.end)
        for s in spans
    }


def subtree(spans: list[Span], root: int) -> set[int]:
    kids = children(spans)
    out, todo = set(), [root]
    while todo:
        i = todo.pop()
        out.add(i)
        todo.extend(c.id for c in kids[i])
    return out


def driver_time(span: Span, job_intervals) -> float:
    """Span time during which no Spark job was running: planning,
    Python, manifest I/O and py4j round trips."""
    return span.wall - union_length(job_intervals, span.start, span.end)


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------

@dataclass
class Stage:
    id: int
    task_ms: list[float] = field(default_factory=list)
    run_ms: float = 0.0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0
    output_bytes: int = 0


@dataclass
class Job:
    id: int
    start: float
    end: float
    span: int | None
    stage_ids: list[int]


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[int, Stage]

    def job_intervals(self):
        return [(j.start, j.end) for j in self.jobs.values()]


def parse_event_log(lines) -> EventLog:
    """Jobs (with the span property they were submitted under), stages
    and task metrics from Spark's JSON event log. Times are seconds."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            span = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
            jobs[ev["Job ID"]] = Job(
                ev["Job ID"], ev["Submission Time"] / 1000, ev["Submission Time"] / 1000,
                int(span) if span not in (None, "") else None, list(ev.get("Stage IDs", [])))
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
            info, m = ev.get("Task Info") or {}, ev.get("Task Metrics") or {}
            st.task_ms.append(float(info.get("Finish Time", 0) - info.get("Launch Time", 0)))
            st.run_ms += m.get("Executor Run Time", 0)
            st.spill += m.get("Disk Bytes Spilled", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            st.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return EventLog(jobs, stages)


def read_event_log(path: str) -> EventLog:
    with open(path) as f:
        return parse_event_log(f)


@dataclass
class Work:
    """Spark work summed over a set of jobs."""
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    output_mb: float = 0.0


def work_of(log: EventLog, job_ids) -> Work:
    w = Work()
    for jid in job_ids:
        w.jobs += 1
        for sid in log.jobs[jid].stage_ids:
            st = log.stages.get(sid)
            if st is None:  # skipped stage: its shuffle output was reused
                continue
            w.stages += 1
            w.tasks += len(st.task_ms)
            w.task_s += st.run_ms / 1000
            w.shuffle_mb += st.shuffle_write / MB
            w.spill_mb += st.spill / MB
            w.output_mb += st.output_bytes / MB
    return w


def attribute(log: EventLog, spans: list[Span]) -> dict[int | None, list[int]]:
    """Job ids per innermost span (None: submitted outside any span)."""
    known = {s.id for s in spans}
    out: dict[int | None, list[int]] = {}
    for j in log.jobs.values():
        key = j.span if j.span in known else None
        out.setdefault(key, []).append(j.id)
    return out


def jobs_under(attrib: dict, ids: set[int]) -> list[int]:
    return [j for sid in ids for j in attrib.get(sid, [])]


def task_skew(log: EventLog, job_ids) -> float:
    """max / median task time of the stage with the most executor time
    among ``job_ids``' stages."""
    stages = [log.stages[sid] for jid in job_ids for sid in log.jobs[jid].stage_ids
              if sid in log.stages and log.stages[sid].task_ms]
    if not stages:
        return 0.0
    st = max(stages, key=lambda s: s.run_ms)
    times = sorted(st.task_ms)
    mid = times[len(times) // 2] if len(times) % 2 else (
        times[len(times) // 2 - 1] + times[len(times) // 2]) / 2
    return times[-1] / mid if mid > 0 else 1.0

"""Span recorder and Spark event-log reader for the traced benchmark run.

The recorder wraps public functions of the package at runtime (class or
module attributes), so the package itself carries no tracing code. Each
span that can launch Spark jobs gets its own job group, which lets the
event log written by the session be split per span after the run.

Spans are kept in memory; nothing is written until the run ends.
"""

from __future__ import annotations

import functools
import json
import math
import time
from collections import defaultdict
from collections.abc import Callable, Iterable
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "pb"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    start: float
    end: float = math.nan

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def group(self) -> str:
        return f"{GROUP_PREFIX}{self.id}"


class Tracer:
    """Records nested spans. With a SparkContext, every span opened with
    ``jobs=True`` sets its own job group for its duration and restores the
    enclosing span's group on exit."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, layer: str, jobs: bool = True):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans) + 1, name, layer, parent.id if parent else None,
                 time.time())
        self.spans.append(s)
        self._stack.append(s)
        if jobs:
            self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if jobs:
                self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(s.group, s.name)

    def wrapped(self, fn: Callable, name: str, layer: str, jobs: bool = True):
        @functools.wraps(fn)
        def inner(*args, **kwargs):
            with self.span(name, layer, jobs):
                return fn(*args, **kwargs)

        return inner

    def patch(self, owner, attr: str, layer: str, name: str | None = None,
              jobs: bool = True) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper until
        :meth:`unpatch_all`."""
        orig = owner.__dict__[attr]
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, self.wrapped(orig, name or attr, layer, jobs))

    def unpatch_all(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def descendants(self, root: Span) -> list[Span]:
        """``root`` and every span opened inside it."""
        ids = {root.id}
        out = [root]
        for s in self.spans[root.id:]:  # spans are stored in open order
            if s.parent in ids:
                ids.add(s.id)
                out.append(s)
        return out


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """A span's duration minus the part of it that its children cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    by_id = {s.id: s for s in spans}
    for s in spans:
        if s.parent in by_id:
            p = by_id[s.parent]
            children[s.parent].append((max(s.start, p.start), min(s.end, p.end)))
    return {s.id: s.dur - union_length(children[s.id]) for s in spans}


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    out: dict[str, float] = defaultdict(float)
    st = self_times(spans)
    for s in spans:
        out[s.layer] += st[s.id]
    return dict(out)


def tail_percentile(samples: list[float], min_beyond: int = 10):
    """The highest whole percentile with at least ``min_beyond`` samples
    above it, as ``(percentile, value)``; ``None`` when there are too few
    samples for any percentile to qualify."""
    xs = sorted(samples)
    n = len(xs)
    for p in range(99, 0, -1):
        k = math.ceil(p / 100 * n) - 1  # nearest-rank index
        if k >= 0 and n - (k + 1) >= min_beyond:
            return p, xs[k]
    return None


# -- event log ----------------------------------------------------------


@dataclass
class JobStats:
    job_id: int
    group: str | None
    submit_ms: int = 0
    end_ms: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_ms: int = 0
    gc_ms: int = 0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    stage_ids: list[int] = field(default_factory=list)


def read_event_log(lines: Iterable[str]) -> dict[int, JobStats]:
    """Per-job counters from an uncompressed Spark event log. Tasks are
    attributed to the most recently started job that lists their stage;
    stages count when they complete (skipped stages never do)."""
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            j = JobStats(ev["Job ID"], props.get("spark.jobGroup.id"),
                         submit_ms=ev.get("Submission Time", 0),
                         stage_ids=list(ev.get("Stage IDs", [])))
            jobs[j.job_id] = j
            for sid in j.stage_ids:
                stage_job[sid] = j.job_id
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end_ms = ev.get("Completion Time", 0)
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid in stage_job:
                jobs[stage_job[sid]].stages += 1
        elif kind == "SparkListenerTaskEnd":
            sid = ev.get("Stage ID")
            if sid not in stage_job:
                continue
            j = jobs[stage_job[sid]]
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            j.tasks += 1
            j.executor_run_ms += m.get("Executor Run Time", 0)
            j.gc_ms += m.get("JVM GC Time", 0)
            j.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            j.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0)
            j.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            j.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0)
    return jobs


def spark_counters(spans: list[Span], jobs: dict[int, JobStats]) -> dict[str, float]:
    """Spark counters summed over the jobs of ``spans`` (each span's own job
    group). ``driver_s`` is the outermost span's wall time not covered by
    any of those jobs: plan building, py4j and scheduling gaps."""
    groups = {s.group for s in spans}
    mine = [j for j in jobs.values() if j.group in groups]
    root = spans[0]
    covered = union_length(
        (max(j.submit_ms / 1e3, root.start), min(j.end_ms / 1e3, root.end))
        for j in mine
        if j.end_ms
    )
    return {
        "spark.jobs": len(mine),
        "spark.stages": sum(j.stages for j in mine),
        "spark.tasks": sum(j.tasks for j in mine),
        "spark.jobs_wall_s": covered,
        "spark.driver_s": root.dur - covered,
        "spark.executor_run_s": sum(j.executor_run_ms for j in mine) / 1e3,
        "spark.gc_s": sum(j.gc_ms for j in mine) / 1e3,
        "spark.input_bytes": sum(j.input_bytes for j in mine),
        "spark.shuffle_read_bytes": sum(j.shuffle_read_bytes for j in mine),
        "spark.shuffle_write_bytes": sum(j.shuffle_write_bytes for j in mine),
        "spark.spill_bytes": sum(j.spill_bytes for j in mine),
    }

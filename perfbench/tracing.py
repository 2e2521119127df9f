"""Spans around calls into the engine, and the Spark event-log parser that
gives each span its task metrics.

Spans are recorded from outside the engine: the benchmark either opens a
span around a call it makes itself, or replaces a module attribute / class
method with a wrapper for the length of a traced unit. Each span sets its
own Spark job group, so every job Spark runs inside it carries the span id
in the event log; task metrics are then aggregated by job group and the
jobs a span owns are the ones whose group is that span's id (its *self*
jobs — children own theirs).

Everything stays in memory until the run ends and is written once.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from dataclasses import dataclass, field

GROUP_PREFIX = "pb-"


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    run: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {
            "id": self.id, "parent": self.parent, "name": self.name,
            "run": self.run, "start": self.start, "end": self.end,
            **({"attrs": self.attrs} if self.attrs else {}),
        }


class Tracer:
    """Records nested spans and tags Spark jobs with the innermost open
    span's id as their job group. One stack serves every thread: a
    streaming query's ``foreachBatch`` callback runs while the main thread
    waits inside the stream span, so the callback's spans nest under it."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self.run = ""

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(f"{GROUP_PREFIX}{span.id}", span.name)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), parent.id if parent else None, name,
                 self.run, time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(parent)

    def wrap(self, fn, name: str, table_arg: bool = False):
        """``fn`` wrapped in a span called ``name``; with ``table_arg`` the
        first positional argument after ``self`` (a catalog table name) is
        recorded as the span's ``table`` attribute."""
        tracer = self

        def traced(*args, **kwargs):
            attrs = {"table": args[1]} if table_arg and len(args) > 1 else {}
            with tracer.span(name, **attrs):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def replace(self, owner, attr: str, make) -> None:
        """Set ``owner.attr`` to ``make(original)`` until :meth:`restore`."""
        original = getattr(owner, attr)
        self._patches.append((owner, attr, original))
        setattr(owner, attr, make(original))

    def patch(self, owner, attr: str, name: str, table_arg: bool = False) -> None:
        self.replace(owner, attr, lambda fn: self.wrap(fn, name, table_arg))

    def restore(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)


# --------------------------------------------------------------------------
# Grid-cell timing (runs inside Python workers)
# --------------------------------------------------------------------------

def timed_cell_kernel(fn, cell_dir: str, run: str):
    """Wrap a ``grid_cogroup`` cell kernel so each call appends its wall
    time to a per-worker file under ``cell_dir``. The kernel runs in Python
    worker processes, so the timing travels back through the local file
    system (the benchmark runs Spark in local mode)."""

    def kernel(key, left, right):
        t0 = time.perf_counter()
        out = fn(key, left, right)
        dt = time.perf_counter() - t0
        with open(os.path.join(cell_dir, f"{run}-{os.getpid()}.tsv"), "a") as f:
            f.write(f"{dt:.6f}\n")
        return out

    return kernel


def read_cell_times(cell_dir: str, run: str) -> list[float]:
    out: list[float] = []
    for path in glob.glob(os.path.join(cell_dir, f"{run}-*.tsv")):
        with open(path) as f:
            out.extend(float(line) for line in f if line.strip())
    return out


# --------------------------------------------------------------------------
# Event log
# --------------------------------------------------------------------------

@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0

    def add(self, other: "GroupStats") -> None:
        for k in vars(self):
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class Job:
    start: float                   # epoch s
    end: float
    group: str | None
    stats: GroupStats


@dataclass
class EventLog:
    jobs: list[Job]

    def group_stats(self, group: str) -> GroupStats:
        total = GroupStats()
        for j in self.jobs:
            if j.group == group:
                total.add(j.stats)
        return total

    def window_stats(self, lo: float, hi: float) -> GroupStats:
        """Every job submitted inside [lo, hi], whatever its group (jobs a
        streaming query runs carry the query's own group)."""
        total = GroupStats()
        for j in self.jobs:
            if lo <= j.start <= hi:
                total.add(j.stats)
        return total


def event_log_file(log_dir: str) -> str:
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return files[0]


def parse_event_log(path: str) -> EventLog:
    """Task metrics per job, with each job's group, from a Spark JSON event
    log (uncompressed, not rolled)."""
    stage_job: dict[int, int] = {}
    jobs: dict[int, Job] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in e["Stage IDs"]:
                    stage_job[sid] = e["Job ID"]
                jobs[e["Job ID"]] = Job(e["Submission Time"] / 1000.0, 0.0, group,
                                        GroupStats(jobs=1))
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                g = jobs[stage_job[e["Stage ID"]]].stats
                g.tasks += 1
                info = e.get("Task Info") or {}
                if info.get("Failed") or (e.get("Task End Reason") or {}).get("Reason") != "Success":
                    g.failed_tasks += 1
                m = e.get("Task Metrics") or {}
                g.task_s += m.get("Executor Run Time", 0) / 1000.0
                g.gc_s += m.get("JVM GC Time", 0) / 1000.0
                g.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                g.spill_bytes += m.get("Disk Bytes Spilled", 0)
    return EventLog(list(jobs.values()))


def span_stats(log: EventLog, span: Span) -> GroupStats:
    """The jobs ``span`` ran itself (its children own theirs)."""
    return log.group_stats(f"{GROUP_PREFIX}{span.id}")


def self_time(span: Span, spans: list[Span]) -> float:
    """Wall time of ``span`` minus the time its children cover."""
    kids = [(c.start, c.end) for c in spans if c.parent == span.id]
    return span.wall - covered(kids, span.start, span.end)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total

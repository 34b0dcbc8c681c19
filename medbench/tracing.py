"""Layer spans and the Spark event-log fold for the traced benchmark run.

A span is one benchmark-side call into a layer: a name, a wall interval and
a job-group id. ``Tracer.span`` sets ``setJobGroup(id)`` around the call, so
the span is also visible in Spark's own event log. Spans whose jobs run on
threads the benchmark does not own (the Structured Streaming triggers) are
added afterwards with ``Tracer.add`` from the interval the program reports.

``fold`` reads the event log (written uncompressed, not rolling) after the
session stops and charges jobs to spans. A ``span`` owns the jobs of its own
job group and of the spans nested in it on the same thread, so concurrent
streams never leak into it; an ``add``-ed span owns every job submitted
inside its interval. Nested spans therefore report inclusive numbers, like
a profiler's "total" column.

Spans stay in memory until the run ends; nothing is written while measuring.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

GROUP_KEY = "spark.jobGroup.id"
FIELDS = ("s", "jobs", "tasks", "cpu_s", "gc_s", "shuffle_mb", "driver_s", "slot_util")


@dataclass
class Span:
    name: str
    sid: str
    t0: float
    t1: float
    thread: int
    timed: bool  # added from an interval: owns jobs by submission time


class Tracer:
    """In-memory span recorder bound to one SparkContext."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []  # appended from several threads
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str):
        sid = f"{name}#{next(self._ids)}"
        prev = self.sc.getLocalProperty(GROUP_KEY)
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobGroup(sid, name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            # Restore the enclosing span's group (setLocalProperty(None)
            # removes the property when there was none).
            self.sc.setLocalProperty(GROUP_KEY, prev)
            self.sc.setLocalProperty("spark.job.description", prev_desc)
            self.spans.append(Span(name, sid, t0, t1, threading.get_ident(), False))

    def add(self, name: str, t0: float, t1: float) -> None:
        """Record a span measured elsewhere; its jobs are matched by time."""
        sid = f"{name}#{next(self._ids)}"
        self.spans.append(Span(name, sid, t0, t1, threading.get_ident(), True))


@dataclass
class Job:
    submit: float
    end: float
    group: str | None
    tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    run_s: float = 0.0
    shuffle_b: int = 0


def read_jobs(path: str) -> list[Job]:
    """Per-job task totals from one uncompressed event-log file."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(ev["Submission Time"] / 1e3, ev["Submission Time"] / 1e3,
                          props.get(GROUP_KEY))
                jobs[ev["Job ID"]] = job
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, ev["Job ID"])
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if jid is None or jid not in jobs or not m:
                    continue
                job = jobs[jid]
                rd = m.get("Shuffle Read Metrics", {})
                wr = m.get("Shuffle Write Metrics", {})
                job.tasks += 1
                job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                job.gc_s += m.get("JVM GC Time", 0) / 1e3
                job.run_s += m.get("Executor Run Time", 0) / 1e3
                job.shuffle_b += (
                    rd.get("Remote Bytes Read", 0)
                    + rd.get("Local Bytes Read", 0)
                    + wr.get("Shuffle Bytes Written", 0)
                )
    return list(jobs.values())


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def fold(spans: list[Span], jobs: list[Job], cores: int) -> dict[str, dict[str, float]]:
    """Per span name: summed FIELDS over all its instances."""
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0.0))
    run_s: dict[str, float] = defaultdict(float)
    by_group: dict[str | None, list[Job]] = defaultdict(list)
    for j in jobs:
        by_group[j.group].append(j)
    for sp in spans:
        if sp.timed:
            mine = [j for j in jobs if sp.t0 <= j.submit <= sp.t1]
        else:
            mine = [
                j
                for inner in spans
                if not inner.timed and inner.thread == sp.thread
                and sp.t0 <= inner.t0 and inner.t1 <= sp.t1
                for j in by_group[inner.sid]
            ]
        wall = sp.t1 - sp.t0
        acc = out[sp.name]
        acc["s"] += wall
        acc["jobs"] += len(mine)
        acc["tasks"] += sum(j.tasks for j in mine)
        acc["cpu_s"] += sum(j.cpu_s for j in mine)
        acc["gc_s"] += sum(j.gc_s for j in mine)
        acc["shuffle_mb"] += sum(j.shuffle_b for j in mine) / 1e6
        acc["driver_s"] += wall - _covered(
            [(max(j.submit, sp.t0), min(j.end, sp.t1)) for j in mine if j.end > sp.t0]
        )
        run_s[sp.name] += sum(j.run_s for j in mine)
    for name, acc in out.items():
        acc["slot_util"] = run_s[name] / (acc["s"] * cores) if acc["s"] > 0 else 0.0
    return dict(out)

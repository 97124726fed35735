"""Spans recorded from outside the program, and the event-log reducer.

The traced run wraps each layer's entry points (see ``instrument_crawl``)
and keeps one ``Span`` per call in memory. Spark's event log, written under
the work directory, is reduced after the session stops: every job, stage
and task is attributed to the spans whose wall-clock window contains it.
Attribution is by time window, not job group, because commit wave 2 runs
on the engine's own thread pool, which does not inherit properties the
caller sets.
"""

from __future__ import annotations

import bisect
import functools
import glob
import json
import statistics
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# spans whose Spark execution is reported, in report order
EXEC_SPANS = ("absorb", "schedule", "fetch", "commit", "wave1", "wave2", "obs_read", "snapstore", "expire")
EXEC_COUNTERS = ("jobs", "tasks", "executor_run_s", "shuffle_bytes", "spill_bytes", "idle_s")


@dataclass
class Span:
    name: str
    start: float  # wall clock, seconds since the epoch (the event log's clock)
    end: float
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span list; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._undo: list = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append(Span(name, t0, time.time(), attrs))

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a spanned call until ``restore``; the
        span records whether the call ran on the main thread."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def spanned(*a, **k):
            with self.span(name, main=threading.current_thread() is threading.main_thread()):
                return orig(*a, **k)

        self.patch(owner, attr, spanned)

    def patch(self, owner, attr: str, value) -> None:
        """Set ``owner.attr`` until ``restore``."""
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def restore(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


def instrument_crawl(tracer: Tracer) -> None:
    """Wrap the crawl engine's phase entry points (plans.frontier), the
    checkpoint helper as frontier binds it (plans.ckpt), the observation
    read (operators.observe) and the seen-set count that closes
    ``CrawlEngine.run``."""
    from pyspark.sql.classic.dataframe import DataFrame

    from maga_spark.operators.observe import RobustObservation
    from maga_spark.plans import frontier

    eng = frontier.CrawlEngine
    tracer.wrap(eng, "_absorb", "absorb")
    tracer.wrap(eng, "_schedule", "schedule")
    tracer.wrap(eng, "_fetch", "fetch")
    tracer.wrap(eng, "_commit_state", "commit")
    tracer.wrap(frontier, "local_ckpt", "ckpt")

    read = RobustObservation.get.fget

    def timed_read(self):
        with tracer.span("obs_read"):
            return read(self)

    tracer.patch(RobustObservation, "get", property(timed_read))

    count = DataFrame.count
    run_code = eng.run.__code__

    def traced_count(self):
        if sys._getframe(1).f_code is not run_code:  # only run()'s own seen.count()
            return count(self)
        with tracer.span("seen_count"):
            return count(self)

    tracer.patch(DataFrame, "count", traced_count)


def waves(tracer: Tracer) -> list[Span]:
    """Commit wave 1 (the checkpoint on the calling thread) and wave 2 (the
    pool-thread checkpoints, as one span from first start to last end),
    derived from the ``ckpt`` calls inside each ``commit`` span."""
    out = []
    calls = tracer.named("ckpt")
    for c in tracer.named("commit"):
        inside = [k for k in calls if c.start <= k.start <= c.end]
        out += [Span("wave1", k.start, k.end) for k in inside if k.attrs.get("main")]
        pool = [k for k in inside if not k.attrs.get("main")]
        if pool:
            out.append(Span("wave2", min(k.start for k in pool), max(k.end for k in pool)))
    return out


# ---------------------------------------------------------------------------
# event-log reduction
# ---------------------------------------------------------------------------


@dataclass
class ExecLog:
    jobs: list  # submission times (s)
    tasks: list  # (launch s, run s, shuffle bytes, spill bytes), by launch
    stages: list  # (submit s, complete s)

    @classmethod
    def read(cls, log_dir: str) -> "ExecLog":
        jobs, tasks, stages = [], [], []
        # Spark 4 writes each application as a directory of event files
        for path in glob.glob(f"{log_dir}/**/events_*", recursive=True):
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        jobs.append(ev["Submission Time"] / 1e3)
                    elif kind == "SparkListenerStageCompleted":
                        info = ev["Stage Info"]
                        if "Submission Time" in info and "Completion Time" in info:
                            stages.append((info["Submission Time"] / 1e3, info["Completion Time"] / 1e3))
                    elif kind == "SparkListenerTaskEnd":
                        m = ev.get("Task Metrics") or {}
                        shuffle = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                        spill = m.get("Disk Bytes Spilled", 0)
                        tasks.append(
                            (ev["Task Info"]["Launch Time"] / 1e3, m.get("Executor Run Time", 0) / 1e3, shuffle, spill)
                        )
        tasks.sort()
        return cls(sorted(jobs), tasks, sorted(stages))

    def within(self, s: Span) -> dict:
        """Spark execution attributed to one span's window."""
        lo = bisect.bisect_left(self.jobs, s.start)
        hi = bisect.bisect_right(self.jobs, s.end)
        t_lo = bisect.bisect_left(self.tasks, (s.start,))
        t_hi = bisect.bisect_right(self.tasks, (s.end, float("inf")))
        tasks = self.tasks[t_lo:t_hi]
        runs = [t[1] for t in tasks]
        return {
            "jobs": hi - lo,
            "tasks": len(tasks),
            "executor_run_s": sum(runs),
            "shuffle_bytes": sum(t[2] for t in tasks),
            "spill_bytes": sum(t[3] for t in tasks),
            "idle_s": s.dur - _covered(self.stages, s.start, s.end),
            # slowest task over the mean task: 1.0 is perfectly even
            "task_skew": max(runs) / statistics.fmean(runs) if runs and sum(runs) > 0 else 1.0,
        }


def _covered(intervals: list, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of the (sorted) intervals."""
    covered, cur = 0.0, lo
    for a, b in intervals:
        if a > hi:
            break
        a, b = max(a, cur), min(b, hi)
        if b > a:
            covered += b - a
            cur = b
    return covered

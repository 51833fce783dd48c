"""Spans, job-group attribution and Spark work counters.

The tracer wraps engine entry points from outside by rebinding module
and class attributes, so the engine itself carries no benchmark code.
Each span sets the Spark job group to its own id while it is the
innermost span and restores the previous group on exit, which lets the
work counters read from the local UI REST API be attributed to the
span (and so the layer) that issued each job.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import functools
import json
import time
import urllib.request
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

GROUP_PROP = "spark.jobGroup.id"
GROUP_PREFIX = "whbench-span-"

Interval = tuple[float, float]


# ---------------------------------------------------------------------------
# Interval arithmetic
# ---------------------------------------------------------------------------


def union(intervals: list[Interval]) -> list[Interval]:
    """Merge overlapping intervals into a sorted disjoint list."""
    out: list[list[float]] = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def subtract(base: list[Interval], cut: list[Interval]) -> list[Interval]:
    """Parts of ``base`` not covered by ``cut``."""
    cut = union(cut)
    out: list[Interval] = []
    for a, b in union(base):
        cur = a
        for c, d in cut:
            if d <= cur or c >= b:
                continue
            if c > cur:
                out.append((cur, c))
            cur = max(cur, d)
        if cur < b:
            out.append((cur, b))
    return out


def length(intervals: list[Interval]) -> float:
    return sum(b - a for a, b in intervals)


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    detail: str | None = None

    @property
    def group(self) -> str:
        return f"{GROUP_PREFIX}{self.sid}"


class Tracer:
    """In-memory span recorder. ``sc`` is anything with Spark's
    ``getLocalProperty``/``setLocalProperty``; ``None`` records spans
    without touching job groups."""

    def __init__(self, sc=None, clock: Callable[[], float] = time.time):
        self.sc = sc
        self.clock = clock
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._stack: list[Span] = []

    @property
    def current(self) -> Span | None:
        return self._stack[-1] if self._stack else None

    @contextlib.contextmanager
    def span(self, name: str, detail: str | None = None) -> Iterator[Span]:
        t0 = time.perf_counter()
        parent = self.current
        s = Span(len(self.spans), name, parent.sid if parent else None, self.clock(), detail=detail)
        self.spans.append(s)
        self._stack.append(s)
        prev = None
        if self.sc is not None:
            prev = self.sc.getLocalProperty(GROUP_PROP)
            self.sc.setLocalProperty(GROUP_PROP, s.group)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield s
        finally:
            t1 = time.perf_counter()
            s.end = self.clock()
            self._stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty(GROUP_PROP, prev)
            self.overhead_s += time.perf_counter() - t1

    def wrap(self, name: str, fn: Callable) -> Callable:
        """``fn`` recorded as a ``name`` span. A call made while the
        innermost span already has this name (``set_status`` calling
        ``upsert``) passes straight through, so a layer's call count
        and self time count each outer call once."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            cur = self.current
            if cur is not None and cur.name == name:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    @contextlib.contextmanager
    def instrument(self, targets: list[tuple[object, str, str]]) -> Iterator[None]:
        """Rebind each ``(owner, attribute, span name)`` to a traced
        wrapper for the duration of the block, then restore it."""
        saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]
        try:
            for (owner, attr, name), (_, _, fn) in zip(targets, saved):
                setattr(owner, attr, self.wrap(name, fn))
            yield
        finally:
            for owner, attr, fn in saved:
                setattr(owner, attr, fn)

    def children(self, sid: int | None) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]

    def self_intervals(self, s: Span) -> list[Interval]:
        """The part of ``s`` not covered by any of its child spans."""
        return subtract([(s.start, s.end)], [(c.start, c.end) for c in self.children(s.sid)])


class NullTracer:
    """Stand-in used for the untraced runs: spans cost nothing."""

    def span(self, name: str, detail: str | None = None):
        return contextlib.nullcontext()

    def instrument(self, targets):
        return contextlib.nullcontext()


# ---------------------------------------------------------------------------
# Spark work counters from the local UI REST API
# ---------------------------------------------------------------------------


class CountersIncomplete(RuntimeError):
    """The status store no longer (or not yet) holds every job or stage
    of the measured window; a partial sum would undercount."""


@dataclass
class Work:
    jobs: int = 0
    cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    output_bytes: int = 0
    spill_bytes: int = 0
    # (first task launched, stage completed) in epoch seconds
    stage_intervals: list[Interval] = field(default_factory=list)

    def add_stage(self, st: dict) -> None:
        self.cpu_s += st["executorCpuTime"] / 1e9
        self.shuffle_write_bytes += st["shuffleWriteBytes"]
        self.output_bytes += st["outputBytes"]
        self.spill_bytes += st["diskBytesSpilled"]
        if st.get("firstTaskLaunchedTime") and st.get("completionTime"):
            self.stage_intervals.append(
                (_epoch(st["firstTaskLaunchedTime"]), _epoch(st["completionTime"]))
            )

    def merge(self, other: "Work") -> None:
        self.jobs += other.jobs
        self.cpu_s += other.cpu_s
        self.shuffle_write_bytes += other.shuffle_write_bytes
        self.output_bytes += other.output_bytes
        self.spill_bytes += other.spill_bytes
        self.stage_intervals += other.stage_intervals


def _epoch(stamp: str) -> float:
    """REST timestamps read like ``2026-10-17T03:09:09.252GMT``."""
    t = dt.datetime.strptime(stamp[:-3], "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=dt.timezone.utc).timestamp()


def attribute(jobs: list[dict], stages: list[dict], first: int, end: int) -> dict[str | None, Work]:
    """Sum stage metrics per job group over the jobs ``first``..``end-1``.

    Raises ``CountersIncomplete`` if any of those jobs, or any stage
    they ran, is missing from the listing or not finished. A stage
    listed by several jobs counts once, for the first job that ran it.
    """
    by_job = {j["jobId"]: j for j in jobs}
    missing = [i for i in range(first, end) if i not in by_job]
    if missing:
        raise CountersIncomplete(f"jobs {missing[:5]}… of {first}..{end - 1} are not in the status store")
    by_stage: dict[int, list[dict]] = {}
    for st in stages:
        by_stage.setdefault(st["stageId"], []).append(st)
    seen: set[int] = set()
    out: dict[str | None, Work] = {}
    for jid in range(first, end):
        job = by_job[jid]
        if job["status"] not in ("SUCCEEDED", "FAILED"):
            raise CountersIncomplete(f"job {jid} is still {job['status']}")
        work = out.setdefault(job.get("jobGroup"), Work())
        work.jobs += 1
        for sid in job["stageIds"]:
            if sid in seen:
                continue
            attempts = by_stage.get(sid)
            if not attempts:
                raise CountersIncomplete(f"stage {sid} of job {jid} is not in the status store")
            seen.add(sid)
            for st in attempts:
                if st["status"] == "SKIPPED":
                    continue
                if st["status"] not in ("COMPLETE", "FAILED"):
                    raise CountersIncomplete(f"stage {sid} is still {st['status']}")
                work.add_stage(st)
    return out


class SparkCounters:
    """Reads per-job-group work of a window of jobs from the driver's
    own UI (loopback only)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def mark(self) -> int:
        """Number of jobs submitted so far; the next job gets this id."""
        return int(self._jsc.dagScheduler().numTotalJobs())

    def _get(self, path: str) -> list[dict]:
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def read(self, first: int, end: int) -> dict[str | None, Work]:
        # Wait until the status listener has seen every event of the
        # window, read jobs and stages once. Raises on timeout.
        self._jsc.listenerBus().waitUntilEmpty(60_000)
        return attribute(self._get("/jobs"), self._get("/stages"), first, end)


def total(work: dict[str | None, Work]) -> Work:
    out = Work()
    for w in work.values():
        out.merge(w)
    return out


@dataclass
class LayerStats:
    calls: int = 0
    self_s: float = 0.0
    driver_s: float = 0.0
    work: Work = field(default_factory=Work)


def layer_stats(tracer: Tracer, work: dict[str | None, Work]) -> dict[str, LayerStats]:
    """Per span name: calls, self time, the work of the jobs its spans
    issued, and driver time (self time during which none of those jobs'
    stages had tasks running)."""
    stats: dict[str, LayerStats] = {}
    self_iv: dict[str, list[Interval]] = {}
    for s in tracer.spans:
        st = stats.setdefault(s.name, LayerStats())
        iv = tracer.self_intervals(s)
        st.calls += 1
        st.self_s += length(iv)
        self_iv.setdefault(s.name, []).extend(iv)
        if s.group in work:
            st.work.merge(work[s.group])
    for name, st in stats.items():
        st.driver_s = length(subtract(self_iv[name], st.work.stage_intervals))
    return stats

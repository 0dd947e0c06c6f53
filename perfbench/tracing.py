"""Spans around the program's public calls, and the statistics over them.

A ``Tracer`` records a span around every call the workloads make: name,
start, end, parent span and trace id (the end-to-end metrics are read from
these timings). With tracing on it also tags each span's Spark work with
``SparkContext.setJobGroup`` and reads jobs and tasks back through
``statusTracker()`` once a pass ends, so the read-back never lands inside a
timed region. Spans stay in memory until ``dump`` writes them out.
"""

from __future__ import annotations

import itertools
import json
import math
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

_GROUP_PREFIX = "perfbench-span-"


@dataclass
class Span:
    name: str
    trace_id: str
    span_id: int
    parent_id: int | None
    start: float
    end: float = math.nan
    jobs: int = 0  # Spark jobs run under this span's own job group
    tasks: int = 0  # completed tasks of those jobs
    error: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._trace_ids = itertools.count(1)
        self._resolved = 0  # spans[:_resolved] already have jobs/tasks

    def new_trace(self, kind: str) -> str:
        return f"{kind}-{next(self._trace_ids)}"

    @contextmanager
    def span(self, name: str, trace_id: str | None = None, **attrs):
        """Time the block; yields the Span (attrs may be added inside)."""
        parent = self._stack[-1] if self._stack else None
        tid = trace_id or (parent.trace_id if parent else "untraced")
        s = Span(name, tid, next(self._ids), parent.span_id if parent else None,
                 time.perf_counter(), attrs=attrs)
        if self.enabled:
            self.sc.setJobGroup(f"{_GROUP_PREFIX}{s.span_id}", name)
        self._stack.append(s)
        try:
            yield s
        except BaseException as e:
            s.error = f"{type(e).__name__}: {e}"
            raise
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                if parent is not None:
                    self.sc.setJobGroup(f"{_GROUP_PREFIX}{parent.span_id}", parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(s)

    def resolve_jobs(self) -> None:
        """Fill jobs/tasks of spans closed since the last call. Call it
        outside timed regions: it is a few py4j round trips per job."""
        if not self.enabled:
            return
        st = self.sc.statusTracker()
        for s in self.spans[self._resolved:]:
            jobs = st.getJobIdsForGroup(f"{_GROUP_PREFIX}{s.span_id}")
            s.jobs = len(jobs)
            for j in jobs:
                info = st.getJobInfo(j)
                for stage in info.stageIds if info else ():
                    si = st.getStageInfo(stage)
                    s.tasks += si.numCompletedTasks if si else 0
        self._resolved = len(self.spans)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


# -- statistics ---------------------------------------------------------------
def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def percentile(xs, p: float) -> float:
    """Linear-interpolated p-th percentile (0 <= p <= 100), the same rule as
    ``statistics.quantiles(method='inclusive')``."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int, beyond: int = 10) -> float | None:
    """The highest percentile that n samples support with at least
    ``beyond`` samples above it: 100 * (1 - beyond / n). None when n is too
    small to have one."""
    if n <= beyond:
        return None
    return 100.0 * (1.0 - beyond / n)


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of it its children cover (overlapping
    children count once)."""
    covered, cur_lo, cur_hi = 0.0, None, None
    for c in sorted(children, key=lambda c: c.start):
        lo, hi = max(c.start, span.start), min(c.end, span.end)
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return span.duration - covered


def self_times(spans: list[Span]) -> dict[int, float]:
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent_id is not None:
            kids.setdefault(s.parent_id, []).append(s)
    return {s.span_id: self_time(s, kids.get(s.span_id, [])) for s in spans}

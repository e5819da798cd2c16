"""Measurement helpers for perfbench: the tail-percentile rule, the
mapping from a file to the micro-batch that committed it, interval
arithmetic, and the in-memory span tracer.

Nothing here starts Spark; the tracer only talks to a SparkContext
handed to it.
"""

from __future__ import annotations

import datetime
import itertools
import threading
import time
from contextlib import contextmanager

# Samples that must lie beyond a reported tail percentile.
TAIL_BEYOND = 10


def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2


def tail(xs: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float]:
    """The highest percentile that has at least `beyond` samples above
    it: (value, percentile).  With too few samples for any such
    percentile, the maximum is returned at percentile 100."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("tail of no samples")
    if n <= beyond:
        return s[-1], 100.0
    return s[n - beyond - 1], 100.0 * (n - beyond) / n


def timing_summary(xs: list[float]) -> dict:
    value, pct = tail(xs)
    return {"p50": median(xs), "tail": value, "tail_percentile": pct,
            "samples": len(xs)}


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end)."""
    total = 0.0
    cur_s = cur_e = None
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


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> self time: the span's duration minus the part of its
    interval that its child spans cover (children may overlap each
    other and may run on other threads)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp["parent"] is not None:
            children.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    out = {}
    for sp in spans:
        clipped = [
            (max(s, sp["start"]), min(e, sp["end"]))
            for s, e in children.get(sp["id"], [])
            if min(e, sp["end"]) > max(s, sp["start"])
        ]
        out[sp["id"]] = (sp["end"] - sp["start"]) - union_length(clipped)
    return out


# -- streaming progress --------------------------------------------------


def parse_progress_time(ts: str) -> float:
    """StreamingQueryProgress.timestamp (ISO-8601, UTC, ms) -> epoch s."""
    return (
        datetime.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ")
        .replace(tzinfo=datetime.timezone.utc)
        .timestamp()
    )


def _log_offset(offset: dict | None) -> int:
    """File-source offset as progress JSON carries it ({"logOffset":
    n}, or null before the first batch) -> n, or -1 for none."""
    return -1 if offset is None else int(offset["logOffset"])


def batch_commits(progress: list[dict]) -> list[tuple[int, int, float]]:
    """(first source log offset, last source log offset, commit epoch
    s) per micro-batch that read data.  A batch commits when its
    trigger ends: start timestamp plus triggerExecution."""
    out = []
    for p in progress:
        src = p["sources"][0]
        lo, hi = _log_offset(src["startOffset"]), _log_offset(src["endOffset"])
        if hi > lo:
            end = parse_progress_time(p["timestamp"]) + (
                p["durationMs"]["triggerExecution"] / 1000.0
            )
            out.append((lo + 1, hi, end))
    return out


def commit_time(log_offset: int, commits: list[tuple[int, int, float]]) -> float | None:
    """When the micro-batch that consumed source log entry `log_offset`
    committed (None if none did)."""
    for lo, hi, end in commits:
        if lo <= log_offset <= hi:
            return end
    return None


def freshness_ms(
    due: dict[str, float],
    offsets: list[dict[str, int]],
    commits: list[list[tuple[int, int, float]]],
) -> dict[str, float | None]:
    """File name -> ms from when the file was due until every query
    (one offsets map and one commit list each) committed the batch
    that consumed it; None if some query never did."""
    out: dict[str, float | None] = {}
    for name, t_due in due.items():
        ends = []
        for off, com in zip(offsets, commits):
            end = commit_time(off[name], com) if name in off else None
            ends.append(end)
        out[name] = (
            None if any(e is None for e in ends) else (max(ends) - t_due) * 1000.0
        )
    return out


# -- tracing ---------------------------------------------------------------

# The local properties SparkContext.setJobGroup sets; saved and
# restored around each span so a span never leaks its group.
_JOB_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


class NullTracer:
    """The untraced run: same interface, no bookkeeping."""

    enabled = False

    @contextmanager
    def span(self, name: str, **attrs):
        yield {}

    def set_root(self, name: str):
        return self.span(name)


class Tracer:
    """In-memory spans (name, start, end, parent, run id) around calls
    into the program's layers.  Each span runs its Spark jobs under its
    own job group, so `resolve_jobs` can count them afterwards from the
    status tracker.  Spans opened on a thread with no open span (the
    foreachBatch callbacks) take the current root span as parent."""

    enabled = True

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self.overhead_s = 0.0  # time spent in the tracer itself
        self.root: int | None = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._t0 = time.perf_counter()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def add_overhead(self, seconds: float) -> None:
        with self._lock:
            self.overhead_s += seconds

    @contextmanager
    def span(self, name: str, **attrs):
        t_in = time.perf_counter()
        with self._lock:
            sid = next(self._ids)
        stack = self._stack()
        parent = stack[-1] if stack else self.root
        group = f"perfbench-{self.run_id}-{sid}"
        saved = {k: self.sc.getLocalProperty(k) for k in _JOB_PROPS}
        self.sc.setJobGroup(group, name)
        stack.append(sid)
        rec = {"id": sid, "name": name, "parent": parent, "run": self.run_id,
               "group": group, "attrs": dict(attrs)}
        start = time.perf_counter()
        self.add_overhead(start - t_in)
        try:
            yield rec["attrs"]
        finally:
            end = time.perf_counter()
            stack.pop()
            for k, v in saved.items():
                self.sc.setLocalProperty(k, v)
            rec["start"] = (start - self._t0) * 1000.0
            rec["end"] = (end - self._t0) * 1000.0
            with self._lock:
                self.spans.append(rec)
            self.add_overhead(time.perf_counter() - end)

    @contextmanager
    def set_root(self, name: str):
        """A span that also parents spans opened on other threads."""
        with self.span(name) as attrs:
            prev, self.root = self.root, self._stack()[-1]
            try:
                yield attrs
            finally:
                self.root = prev

    def resolve_jobs(self) -> None:
        """Count each span's own Spark jobs (call after the jobs ran)."""
        tracker = self.sc.statusTracker()
        for sp in self.spans:
            sp["jobs"] = len(tracker.getJobIdsForGroup(sp["group"]))

    def named(self, name: str) -> list[dict]:
        return [sp for sp in self.spans if sp["name"] == name]

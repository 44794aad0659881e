"""Spans around calls into the program, and the statistics the report needs.

A ``Tracer`` records one span per wrapped call: name, start, end, parent
span and the id of the operation (cycle, query, batch) it belongs to. Each
span runs under its own Spark job group, so after an operation the Spark
jobs it caused can be read back from the Spark driver's status REST API
(the local endpoint the Spark UI serves) and attached to it, with their
intervals and the bytes their stages read and shuffled. Spans stay in
memory; the benchmark writes them out when the run ends.

Nothing here reaches into the program: wrapping replaces module or class
attributes for the duration of a ``with tracer.patched(...)`` block.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import time
import urllib.request
from dataclasses import dataclass, field
from datetime import datetime, timezone


def percentile(values: list[float], q: float) -> float | None:
    """The ``q``-th percentile (nearest rank), or None unless at least ten
    samples lie above it: a tail figure resting on fewer is noise."""
    if not values:
        return None
    xs = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    return xs[rank - 1] if len(xs) - rank >= 10 else None


def median(values: list[float]) -> float:
    xs = sorted(values)
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2.0


def union_ms(intervals: list[tuple[float, float]], lo: float | None = None, hi: float | None = None) -> float:
    """Total length of the union of ``(start, end)`` intervals, clipped to
    ``[lo, hi]`` when given (same unit as the inputs)."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class Job:
    job_id: int
    group: str | None
    start_ms: float
    end_ms: float
    stage_ids: list[int]
    scan_bytes: int = 0
    shuffle_bytes: int = 0
    task_ms: float = 0.0


@dataclass
class Span:
    sid: int
    name: str
    op: str
    parent: int | None
    start_ms: float
    end_ms: float = 0.0
    jobs: list[Job] = field(default_factory=list)
    attrs: dict = field(default_factory=dict)

    @property
    def wall_ms(self) -> float:
        return self.end_ms - self.start_ms


def self_ms(span: Span, children: list[Span]) -> float:
    """Wall time of ``span`` not covered by any of its child spans."""
    return span.wall_ms - union_ms(
        [(c.start_ms, c.end_ms) for c in children], span.start_ms, span.end_ms
    )


def driver_gap_ms(span: Span, jobs: list[Job]) -> float:
    """Wall time of ``span`` during which none of ``jobs`` (the jobs of the
    span and its descendants) was running on the cluster: Python plan
    building, Catalyst planning, driver-side IO and collects."""
    return span.wall_ms - union_ms(
        [(j.start_ms, j.end_ms) for j in jobs], span.start_ms, span.end_ms
    )


def _rest_ms(stamp: str) -> float:
    # "2026-08-01T01:02:03.456GMT"
    dt = datetime.strptime(stamp[:23], "%Y-%m-%dT%H:%M:%S.%f").replace(tzinfo=timezone.utc)
    return dt.timestamp() * 1000.0


class Tracer:
    """Records spans; ``enabled=False`` makes every method a cheap no-op so
    the untraced run executes the same benchmark code."""

    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled and spark is not None
        self.spark = spark
        self.spans: list[Span] = []
        self.jobs: dict[int, Job] = {}
        self._stack: list[Span] = []  # open spans; recorded from one thread
        self._op = ""
        self._recording = False
        self._seen_stages: set[int] = set()
        if self.enabled:
            sc = spark.sparkContext
            self._api = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    # -- recording ---------------------------------------------------------
    @contextlib.contextmanager
    def recording(self, op: str, on: bool = True):
        """Record spans for operation ``op`` inside the block (when the
        tracer is enabled and ``on``); outside it every span is a no-op."""
        saved = self._op, self._recording
        self._op, self._recording = op, on and self.enabled
        try:
            yield
        finally:
            self._op, self._recording = saved

    @property
    def is_recording(self) -> bool:
        return self._recording

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self._recording:
            yield None
            return
        stack = self._stack
        parent = stack[-1] if stack else None
        sp = Span(len(self.spans), name, self._op, parent.sid if parent else None, time.time() * 1000.0, attrs=attrs)
        self.spans.append(sp)
        stack.append(sp)
        sc = self.spark.sparkContext
        sc.setJobGroup(f"pb-{sp.sid}", name)
        try:
            yield sp
        finally:
            sp.end_ms = time.time() * 1000.0
            stack.pop()
            if parent is not None:
                sc.setJobGroup(f"pb-{parent.sid}", parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def wrap(self, name: str, fn, on_result=None):
        """``fn`` wrapped in a span; ``on_result(span, result)`` runs after
        the span has closed and may attach attributes to it."""

        def traced(*args, **kwargs):
            with self.span(name) as sp:
                out = fn(*args, **kwargs)
            if sp is not None and on_result is not None:
                on_result(sp, out)
            return out

        traced.__wrapped__ = fn
        return traced

    @contextlib.contextmanager
    def patched(self, targets: list[tuple]):
        """Replace ``owner.attr`` with a traced wrapper named ``span`` for
        each ``(owner, attr, span[, on_result])`` while the block runs."""
        if not self._recording:
            yield
            return
        saved = [(t[0], t[1], getattr(t[0], t[1])) for t in targets]
        try:
            for owner, attr, name, *on_result in targets:
                setattr(owner, attr, self.wrap(name, getattr(owner, attr), *on_result))
            yield
        finally:
            for owner, attr, fn in saved:
                setattr(owner, attr, fn)

    # -- Spark jobs ----------------------------------------------------------
    def _get(self, path: str):
        with urllib.request.urlopen(f"{self._api}/{path}", timeout=30) as r:
            return json.load(r)

    def collect_jobs(self) -> None:
        """Read every finished job and stage the status API still holds and
        attach new jobs to their spans. Call between operations: the API
        keeps a bounded history."""
        if not self.enabled:
            return
        stages = {}
        for st in self._get("stages?status=complete"):
            if st["stageId"] in self._seen_stages:
                continue
            stages.setdefault(st["stageId"], st)
        for j in self._get("jobs"):
            if j["jobId"] in self.jobs or "completionTime" not in j:
                continue  # seen, or still running
            job = Job(
                j["jobId"],
                j.get("jobGroup"),
                _rest_ms(j["submissionTime"]),
                _rest_ms(j["completionTime"]),
                list(j.get("stageIds", [])),
            )
            for sid in job.stage_ids:
                st = stages.get(sid)
                if st is None:
                    continue  # skipped stage (reused shuffle output)
                self._seen_stages.add(sid)
                job.scan_bytes += int(st.get("inputBytes", 0))
                job.shuffle_bytes += int(st.get("shuffleWriteBytes", 0))
                job.task_ms += float(st.get("executorRunTime", 0))
            self.jobs[job.job_id] = job
            if job.group and job.group.startswith("pb-"):
                sid = int(job.group[3:])
                if sid < len(self.spans):
                    self.spans[sid].jobs.append(job)

    # -- queries over the recorded spans -------------------------------------
    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                out.setdefault(sp.parent, []).append(sp)
        return out

    def subtree_jobs(self, sp: Span, kids: dict[int, list[Span]]) -> list[Job]:
        jobs, todo = [], [sp]
        while todo:
            s = todo.pop()
            jobs.extend(s.jobs)
            todo.extend(kids.get(s.sid, []))
        return jobs

    def dump(self, path: str) -> None:
        kids = self.children()
        rows = []
        for sp in self.spans:
            jobs = self.subtree_jobs(sp, kids)
            rows.append(
                {
                    "id": sp.sid,
                    "name": sp.name,
                    "op": sp.op,
                    "parent": sp.parent,
                    "start_ms": sp.start_ms,
                    "end_ms": sp.end_ms,
                    "self_ms": self_ms(sp, kids.get(sp.sid, [])),
                    "driver_gap_ms": driver_gap_ms(sp, jobs),
                    "jobs": [j.job_id for j in sp.jobs],
                    "attrs": sp.attrs,
                }
            )
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(rows, f)

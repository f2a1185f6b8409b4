"""Outside-in tracing for the benchmark's traced run.

Spans are recorded by the benchmark's own wrappers around the calls into
each layer of the engine; nothing inside the package changes. A span's
layer is the first dotted part of its name (``sources.load_table`` is in
``sources``). Spark's work is attributed afterwards from its event log:
a job counts toward every span that was open when it was submitted.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

PACKAGE = "data_engineering_projects_spark"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    op: int | None

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    """In-memory span recorder. Each thread keeps its own stack of open
    spans; a span opened on a thread with an empty stack (a streaming
    callback thread) is parented to the innermost span open on the
    thread that runs the current operation."""

    def __init__(self, clock=time.time, job_group=None):
        self.clock = clock
        #: ``job_group(name_or_None)`` tags the Spark jobs of the current
        #: thread with the operation they belong to.
        self.job_group = job_group
        self.spans: list[Span] = []
        self.enabled = False
        self.op: int | None = None
        self._op_stack: list[int] | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        outer = stack or self._op_stack
        parent = outer[-1] if outer else None
        with self._lock:
            s = Span(len(self.spans), name, self.clock(), None, parent, self.op)
            self.spans.append(s)
        stack.append(s.id)
        try:
            yield s
        finally:
            s.end = self.clock()
            stack.pop()

    @contextmanager
    def operation(self, op: int, name: str):
        """The root span of one operation; layer spans opened inside it
        (on any thread) carry its id."""
        self.op = op
        self._op_stack = self._stack()
        tag = self.enabled and self.job_group is not None
        if tag:
            self.job_group(f"op-{op}")
        try:
            with self.span(f"op.{name}") as s:
                yield s
        finally:
            self.op = self._op_stack = None
            if tag:
                self.job_group(None)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def patch(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a traced wrapper, and every other
        binding of the same function object in the package's loaded
        modules -- modules that did ``from ..sources import load_table``
        hold their own reference, which patching the defining module
        alone would miss."""
        orig = getattr(owner, attr)
        traced = self.wrap(orig, name)
        targets = [(owner, attr)]
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or mod is owner or not (
                    mod_name == PACKAGE or mod_name.startswith(PACKAGE + ".")):
                continue
            for k, v in list(vars(mod).items()):
                if v is orig:
                    targets.append((mod, k))
        for obj, k in targets:
            self._patched.append((obj, k, getattr(obj, k)))
            setattr(obj, k, traced)

    def unpatch(self) -> None:
        for obj, k, orig in reversed(self._patched):
            setattr(obj, k, orig)
        self._patched.clear()

    def to_json(self) -> list[dict]:
        return [{"id": s.id, "name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, "op": s.op} for s in self.spans]


def _union_length(intervals) -> float:
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover
    (children may overlap each other when they run on other threads, so
    the covered part is the union of their intervals, clipped to the
    parent)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = _union_length(
            (max(c.start, s.start), min(c.end, s.end))
            for c in kids.get(s.id, ()) if min(c.end, s.end) > max(c.start, s.start))
        out[s.id] = (s.end - s.start) - covered
    return out


def self_time_by_layer(spans: list[Span]) -> dict[str, float]:
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.layer] = out.get(s.layer, 0.0) + st[s.id]
    return out


# -- Spark event log -------------------------------------------------------

@dataclass
class Job:
    id: int
    submit: float
    group: str | None
    stages: list[int]
    end: float | None = None


def read_event_log(log_dir: str) -> dict:
    """Jobs and per-task metrics from the (uncompressed) event logs in
    ``log_dir``; each task carries the job its stage belongs to."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    # Spark 4 writes an application's log as a directory holding
    # ``events_<n>_<app>`` files and an empty ``appstatus`` marker.
    for path in sorted(glob.glob(os.path.join(log_dir, "*", "events_*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    j = Job(ev["Job ID"], ev["Submission Time"] / 1000.0,
                            (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                            list(ev.get("Stage IDs", [])))
                    jobs[j.id] = j
                    for sid in j.stages:
                        stage_job.setdefault(sid, j.id)
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append({
                        "stage": ev["Stage ID"],
                        "run_s": m.get("Executor Run Time", 0) / 1e3,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "shuffle_read": sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                        "input": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    })
    for t in tasks:
        t["job"] = stage_job.get(t["stage"])
    return {"jobs": jobs, "tasks": tasks}


def jobs_in(jobs, spans: list[Span]) -> list:
    """Jobs submitted while any of ``spans`` was open."""
    iv = [(s.start, s.end) for s in spans]
    return [j for j in jobs if any(a <= j.submit <= b for a, b in iv)]


def union_length(spans: list[Span]) -> float:
    """Wall time during which at least one of ``spans`` was open."""
    return _union_length((s.start, s.end) for s in spans)

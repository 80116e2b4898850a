"""Span recorder for the traced benchmark run.

Spans are recorded from the benchmark's own files: ``Tracer.patch`` swaps a
module or class attribute of the program for a wrapper and ``restore`` puts
the original back, so no program file changes. Spans live in memory and are
written out once, at the end of the run.

Spark jobs are attributed to spans through the Spark event log (the traced
session turns it on). Every span sets the thread-local Spark property
``perfbench.span`` while it is open, so a job submitted from the span's own
thread names its span. A job whose property does not name a span open at
its submission time (a pool thread created by the program carries no
property, or a stale one) goes to the most recently started span that was
open when it was submitted.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from dataclasses import dataclass, field

SPAN_PROP = "perfbench.span"


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds
    parent: int | None
    key: object  # round id or query id, inherited from the parent
    thread: str
    end: float | None = None
    attrs: dict = field(default_factory=dict)
    prev_prop: str | None = None  # the thread's span property before this
    # a span whose lazy result is executed right after it returns, on the
    # same thread (search_query): its jobs keep the property and the span
    # is extended to the last of them
    extends: bool = False


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[Span] = []
        self._undo: list[tuple[object, str, object]] = []

    # -- spans ----------------------------------------------------------------
    def _stack(self) -> list[Span]:
        if threading.current_thread() is self._main:
            return self._main_stack
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def begin(self, name: str, key=None, extends: bool = False) -> Span:
        stack = self._stack()
        # a span opened on a program-created thread is caused by whatever
        # the main thread is doing at that moment
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        if key is None and parent is not None:
            key = parent.key
        with self._lock:
            sp = Span(
                next(self._ids), name, time.time(),
                parent.id if parent else None, key,
                threading.current_thread().name, extends=extends,
            )
            self.spans.append(sp)
        sp.prev_prop = self.sc.getLocalProperty(SPAN_PROP)
        self.sc.setLocalProperty(SPAN_PROP, str(sp.id))
        stack.append(sp)
        return sp

    def end(self, sp: Span) -> None:
        """End ``sp`` and any span still open above it on its thread."""
        now = time.time()
        stack = self._stack()
        inner = [sp]
        if sp in stack:
            i = stack.index(sp)
            inner = stack[i:]
            del stack[i:]
        for s in reversed(inner):
            s.end = now
            if not s.extends:
                self.sc.setLocalProperty(SPAN_PROP, s.prev_prop)

    def top(self) -> Span | None:
        stack = self._stack()
        return stack[-1] if stack else None

    def wrap(self, fn, name: str, key_fn=None, extends: bool = False):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            sp = self.begin(name, key_fn(a, kw) if key_fn else None, extends)
            try:
                return fn(*a, **kw)
            finally:
                self.end(sp)

        return wrapper

    def patch(self, owner, attr: str, replacement) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def restore(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- output ---------------------------------------------------------------
    def dump(self, path: str) -> None:
        """One JSON line per span, with its self time."""
        kids = children(self.spans)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({
                    "id": sp.id, "name": sp.name, "start": sp.start,
                    "end": sp.end, "parent": sp.parent, "key": sp.key,
                    "thread": sp.thread,
                    "self_s": None if sp.end is None
                    else self_time(sp, kids.get(sp.id, [])),
                    "attrs": sp.attrs,
                }, default=str) + "\n")


def children(spans: list[Span]) -> dict[int, list[Span]]:
    out: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            out.setdefault(sp.parent, []).append(sp)
    return out


def self_time(sp: Span, kids: list[Span]) -> float:
    """Duration minus the part of [start, end] its children cover."""
    ivs = sorted(
        (max(c.start, sp.start), min(c.end, sp.end))
        for c in kids if c.end is not None
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (sp.end - sp.start) - covered


# -- Spark event log ----------------------------------------------------------
@dataclass
class Job:
    id: int
    submit: float  # epoch seconds
    stage_ids: list[int]
    prop: str | None
    end: float | None = None
    task_s: float = 0.0  # executor run time of the stages this job ran
    shuffle_write_b: int = 0
    shuffle_read_b: int = 0
    span: int | None = None


def read_event_log(path: str) -> list[Job]:
    jobs: dict[int, Job] = {}
    stage_run_s: dict[int, float] = {}
    stage_sw: dict[int, int] = {}
    stage_sr: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = Job(
                    jid, ev["Submission Time"] / 1000.0,
                    list(ev.get("Stage IDs", [])),
                    (ev.get("Properties") or {}).get(SPAN_PROP),
                )
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                m = ev.get("Task Metrics") or {}
                stage_run_s[sid] = stage_run_s.get(sid, 0.0) + m.get(
                    "Executor Run Time", 0) / 1000.0
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                stage_sw[sid] = stage_sw.get(sid, 0) + sw.get(
                    "Shuffle Bytes Written", 0)
                stage_sr[sid] = stage_sr.get(sid, 0) + sr.get(
                    "Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    # a stage's tasks run under the first job that needs it; later jobs
    # list it as skipped
    owner: dict[int, int] = {}
    for jid in sorted(jobs):
        for sid in jobs[jid].stage_ids:
            owner.setdefault(sid, jid)
    for sid, jid in owner.items():
        j = jobs[jid]
        j.task_s += stage_run_s.get(sid, 0.0)
        j.shuffle_write_b += stage_sw.get(sid, 0)
        j.shuffle_read_b += stage_sr.get(sid, 0)
    return [jobs[j] for j in sorted(jobs)]


def assign_jobs(jobs: list[Job], spans: list[Span]) -> None:
    """Give every job the span it was submitted in (see module doc), and
    extend ``extends`` spans to the completion of their last job."""
    by_id = {sp.id: sp for sp in spans}
    closed = [sp for sp in spans if sp.end is not None]
    for j in jobs:
        sp = by_id.get(int(j.prop)) if j.prop and j.prop.isdigit() else None
        if sp is not None and sp.end is not None and sp.start <= j.submit and (
            j.submit <= sp.end or sp.extends
        ):
            j.span = sp.id
            continue
        best = None
        for c in closed:
            if c.start <= j.submit <= c.end and (
                best is None or c.start > best.start
            ):
                best = c
        j.span = best.id if best else None
    for j in jobs:
        sp = by_id.get(j.span) if j.span is not None else None
        if sp is not None and sp.extends and j.end is not None:
            sp.end = max(sp.end, j.end)

"""Tracing from outside the program: spans kept in memory, timing shims
installed on public entry points, self time per layer, and the Spark
event-log reader that attaches executor metrics to spans.

A span records name, layer, start, end and the span that caused it.
Every span is also a Spark job group (it sets the ``spark.jobGroup.id``
local property, as ``sc.setJobGroup`` does, and puts back the value it
found when it closes), so the event log's job, stage and task records can
be attributed to the span that started them.  Jobs that Spark groups
itself, such as a streaming query's micro-batches (grouped under the
query's run id), are attributed to a span by listing that group in the
span's ``job_groups`` attribute.  Nothing here edits a program file: a
shim replaces an attribute on a module or class object for the duration
of the traced loop and puts the original back afterwards.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "pb-"


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    layer: str
    t0: float
    t1: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return (self.t1 if self.t1 is not None else self.t0) - self.t0


class Tracer:
    """Spans in memory.  ``sc`` (a SparkContext) is optional: without it
    spans are still recorded but carry no job group."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        # the innermost open span of the thread that opened the first
        # span; callback threads (foreachBatch) hang their spans here
        self._main_stack: list[Span] | None = None
        self._patched: list[tuple[object, str, object]] = []
        # wall time spent opening and closing spans: the tracer's own cost
        self.bookkeeping_s = 0.0

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
            if self._main_stack is None:
                self._main_stack = st
        return st

    def _get_group(self) -> tuple:
        if self.sc is None:
            return ()
        return (self.sc.getLocalProperty("spark.jobGroup.id"),
                self.sc.getLocalProperty("spark.job.description"))

    def _set_group(self, group: tuple) -> None:
        if self.sc is None:
            return
        self.sc.setLocalProperty("spark.jobGroup.id", group[0])
        self.sc.setLocalProperty("spark.job.description", group[1])

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        b0 = time.perf_counter()
        st = self._stack()
        if st:
            parent = st[-1]
        elif self._main_stack:
            parent = self._main_stack[-1]
        else:
            parent = None
        with self._lock:
            sp = Span(next(self._ids), parent.id if parent else None, name, layer,
                      time.perf_counter(), attrs=dict(attrs))
            self.spans.append(sp)
        st.append(sp)
        # a callback thread (foreachBatch) runs on the JVM thread of the
        # streaming query, whose own group must survive the span
        prev = self._get_group()
        self._set_group((group_id(sp), sp.name))
        self.bookkeeping_s += time.perf_counter() - b0
        try:
            yield sp
        finally:
            b1 = sp.t1 = time.perf_counter()
            st.pop()
            self._set_group(prev)
            self.bookkeeping_s += time.perf_counter() - b1

    def add(self, name: str, layer: str, t0: float, t1: float, parent: int | None,
            **attrs) -> Span:
        """Record a span measured elsewhere (e.g. from a progress event)."""
        with self._lock:
            sp = Span(next(self._ids), parent, name, layer, t0, t1, dict(attrs))
            self.spans.append(sp)
        return sp

    def shim(self, owner: object, attr: str, layer: str, name: str | None = None) -> None:
        """Replace ``owner.attr`` with a wrapper that opens a span around
        each call; :meth:`uninstall` restores the original."""
        orig = getattr(owner, attr)
        label = name or f"{layer}.{attr}"
        tracer = self

        @functools.wraps(orig)
        def traced(*a, **kw):
            with tracer.span(label, layer):
                return orig(*a, **kw)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # -- queries over recorded spans ---------------------------------
    def children(self) -> dict[int | None, list[Span]]:
        out: dict[int | None, list[Span]] = defaultdict(list)
        for sp in self.spans:
            out[sp.parent].append(sp)
        return out

    def subtree(self, root: Span) -> list[Span]:
        kids = self.children()
        out, todo = [], [root]
        while todo:
            sp = todo.pop()
            out.append(sp)
            todo.extend(kids.get(sp.id, ()))
        return out


def group_id(sp: Span) -> str:
    return f"{GROUP_PREFIX}{sp.id}"


def job_groups(spans: list[Span]) -> list[str]:
    """The job groups whose jobs belong to ``spans``: each span's own and
    those listed in its ``job_groups`` attribute."""
    return [g for sp in spans for g in (group_id(sp), *sp.attrs.get("job_groups", ()))]


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of each span: its duration minus the part of its interval
    that its children's intervals cover (children clipped to the parent,
    overlapping children counted once)."""
    kids: dict[int, list[Span]] = defaultdict(list)
    for sp in spans:
        if sp.parent is not None:
            kids[sp.parent].append(sp)
    out = {}
    for sp in spans:
        t1 = sp.t1 if sp.t1 is not None else sp.t0
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(kids.get(sp.id, ()), key=lambda s: s.t0):
            lo = max(c.t0, sp.t0)
            hi = min(c.t1 if c.t1 is not None else c.t0, t1)
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
        out[sp.id] = max(0.0, (t1 - sp.t0) - covered)
    return out


# -- Spark event log ---------------------------------------------------

_ZERO = {
    "jobs": 0,
    "stages": 0,
    "tasks": 0,
    "executor_run_s": 0.0,
    "executor_cpu_s": 0.0,
    "gc_s": 0.0,
    "shuffle_read_bytes": 0,
    "shuffle_write_bytes": 0,
    "spill_bytes": 0,
}


def parse_event_log(lines) -> dict[str | None, dict]:
    """Aggregate an uncompressed Spark event log by job group.

    Returns ``{job_group_id or None: {jobs, stages, tasks,
    executor_run_s, executor_cpu_s, gc_s, shuffle_read_bytes,
    shuffle_write_bytes, spill_bytes}}``.  A stage shared by two jobs is
    counted under the job that submitted it first."""
    stage_group: dict[int, str | None] = {}
    out: dict[str | None, dict] = {}

    def bucket(g):
        if g not in out:
            out[g] = dict(_ZERO)
        return out[g]

    stages_seen: set[int] = set()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            bucket(g)["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerTaskEnd":
            sid = ev.get("Stage ID")
            b = bucket(stage_group.get(sid))
            if sid not in stages_seen:
                stages_seen.add(sid)
                b["stages"] += 1
            b["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            b["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            b["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            b["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            b["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            sw = m.get("Shuffle Write Metrics") or {}
            b["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            b["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
    return out


def sum_groups(by_group: dict[str | None, dict], groups) -> dict:
    """Sum the event-log buckets of the job groups ``groups``."""
    tot = dict(_ZERO)
    for g in set(groups):
        b = by_group.get(g)
        if b:
            for k in tot:
                tot[k] += b[k]
    return tot

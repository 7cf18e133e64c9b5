"""Per-layer tracing, installed at runtime from the benchmark's own files.

The package is not edited: the tracer rebinds the package's public functions
and methods to thin wrappers that record a span (name, start, end, parent,
op id) around each call. Spans stay in memory and are summarised when the
traced phase ends. A span's parent is the innermost open span on the same
thread; a span opened on another thread (the executor's query thread, the
checkpoint pool) is parented to the innermost open span of the client
thread, which is blocked waiting for that work. Self time is a span's
duration minus the part of it its children cover.

Job counts come from one fresh job group per op plus the scheduler's job
counter: jobs launched during the op that belong to neither the op's group
nor a query group the op started are jobs a timeout or cancel cannot reach.
"""

from __future__ import annotations

import functools
import itertools
import json
import sys
import threading
import time
from collections import defaultdict
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any

PACKAGE = "iceberg_explorer_spark"
#: Catalyst phases of a QueryPlanningTracker that count as planning
PLAN_PHASES = ("analysis", "optimization", "planning")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    start: float = 0.0
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class OpRecord:
    id: int
    kind: str
    groups: list[str]
    first_job: int = 0
    end_job: int = 0
    jobs: int = 0
    tasks: int = 0
    outside_group: int = 0


@dataclass
class StreamRecord:
    name: str
    op: int | None
    first_s: float | None = None
    busy_s: float = 0.0
    bytes: int = 0
    rows: int = 0


def plan_seconds(df) -> float:
    """Analysis + optimization + planning time recorded for ``df``'s plan."""
    phases = df._jdf.queryExecution().tracker().phases()
    total_ms = 0
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() in PLAN_PHASES:
            total_ms += kv._2().durationMs()
    return total_ms / 1000.0


class Tracer:
    """Span and count recorder for one traced phase on one client thread."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.active = False
        self.spans: list[Span] = []
        self.ops: list[OpRecord] = []
        self.streams: list[StreamRecord] = []
        self._ids = itertools.count(1)
        self._op_ids = itertools.count(1)
        self._op: OpRecord | None = None
        self._lock = threading.Lock()
        self._local = threading.local()
        self._client = threading.get_ident()
        self._client_stack: list[Span] = []
        self._patched: list[tuple[Any, str, Any]] = []
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()

    # -- recording -----------------------------------------------------------
    def jobs_submitted(self) -> int:
        """Jobs the scheduler has been asked to run so far in this app."""
        return int(self._dag.nextJobId())

    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._client:
            return self._client_stack
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str, *, count_jobs: bool = False, **attrs) -> Iterator[Span | None]:
        if not self.active:
            yield None
            return
        stack = self._stack()
        outer = stack or self._client_stack
        s = Span(
            next(self._ids),
            name,
            outer[-1].id if outer else None,
            self._op.id if self._op else None,
            attrs=dict(attrs),
        )
        jobs0 = self.jobs_submitted() if count_jobs else 0
        stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            if count_jobs:
                s.attrs["jobs"] = self.jobs_submitted() - jobs0
            with self._lock:
                self.spans.append(s)

    @contextmanager
    def op(self, kind: str, **attrs) -> Iterator[OpRecord | None]:
        """One client op under a fresh job group."""
        if not self.active:
            yield None
            return
        rec = OpRecord(next(self._op_ids), kind, [])
        rec.groups.append(f"perfbench-op-{rec.id}")
        self.spark.sparkContext.setJobGroup(rec.groups[0], f"perfbench {kind}")
        rec.first_job = self.jobs_submitted()
        self._op = rec
        try:
            with self.span(f"op.{kind}", **attrs):
                yield rec
        finally:
            self._op = None
            rec.end_job = self.jobs_submitted()
            self.ops.append(rec)

    def timed_iter(self, name: str, it: Iterator) -> Iterator:
        """Re-yield ``it``, timing only the producer's share of each step."""
        rec = StreamRecord(name, self._op.id if self._op else None)
        try:
            while True:
                t0 = time.perf_counter()
                try:
                    item = next(it)
                except StopIteration:
                    rec.busy_s += time.perf_counter() - t0
                    break
                rec.busy_s += time.perf_counter() - t0
                if rec.first_s is None:
                    rec.first_s = rec.busy_s
                rec.bytes += len(item)
                if isinstance(item, str) and item.startswith('{"type": "data"'):
                    rec.rows += len(json.loads(item)["rows"])
                yield item
        finally:
            with self._lock:
                self.streams.append(rec)

    # -- installing wrappers --------------------------------------------------
    def wrap(self, fn: Callable, name: str, *, count_jobs: bool = False) -> Callable:
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            with tracer.span(name, count_jobs=count_jobs):
                return fn(*args, **kwargs)

        return traced

    def wrap_iter(self, fn: Callable, name: str) -> Callable:
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            it = fn(*args, **kwargs)
            return tracer.timed_iter(name, it) if tracer.active else it

        return traced

    def patch_function(self, fn: Callable, name: str, *, stream: bool = False, **kw) -> None:
        """Rebind ``fn`` to a traced wrapper in every loaded package module
        that binds it (``from x import fn`` copies the binding)."""
        wrapper = self.wrap_iter(fn, name) if stream else self.wrap(fn, name, **kw)
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith(PACKAGE):
                continue
            for attr, value in list(vars(mod).items()):
                if value is fn:
                    setattr(mod, attr, wrapper)
                    self._patched.append((mod, attr, fn))

    def patch_method(self, cls: type, attr: str, name: str, **kw) -> None:
        original = cls.__dict__[attr]
        setattr(cls, attr, self.wrap(original, name, **kw))
        self._patched.append((cls, attr, original))

    def patch_planned(self, cls: type, attr: str, name: str, *, of_result: bool) -> None:
        """Time ``cls.attr`` and record the Catalyst time of the plan it
        produced (the returned DataFrame) or ran (the receiver)."""
        original = cls.__dict__[attr]
        tracer = self

        @functools.wraps(original)
        def traced(obj, *args, **kwargs):
            if not tracer.active:
                return original(obj, *args, **kwargs)
            with tracer.span(name) as s:
                out = original(obj, *args, **kwargs)
            s.attrs["plan_s"] = plan_seconds(out if of_result else obj)
            return out

        setattr(cls, attr, traced)
        self._patched.append((cls, attr, original))

    def unpatch(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    # -- summarising ----------------------------------------------------------
    def account_jobs(self) -> None:
        """Fill job, task and outside-group counts of every op."""
        st = self.spark.sparkContext.statusTracker()
        for rec in self.ops:
            launched = set(range(rec.first_job, rec.end_job))
            grouped: set[int] = set()
            for group in rec.groups:
                grouped.update(st.getJobIdsForGroup(group))
            rec.jobs = len(launched)
            rec.outside_group = len(launched - grouped)
            tasks = 0
            for job in launched:
                info = st.getJobInfo(job)
                for stage in list(info.stageIds) if info else []:
                    sinfo = st.getStageInfo(stage)
                    tasks += sinfo.numTasks if sinfo else 0
            rec.tasks = tasks

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals
    (clipped to the span)."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for a, b in sorted(
            (max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.id, [])
        ):
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.id] = s.duration - covered
    return out

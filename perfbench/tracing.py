"""Spans around the program's public calls, and Spark stage attribution.

The benchmark never edits the program. Instead :meth:`Tracer.wrap`
replaces a module attribute (a function or a method) with a wrapper that
records a span around each call. Wrappers are installed before the
program's entry modules are imported, so ``from x import f`` bindings
pick them up too. A wrapper costs one flag test while the tracer is
inactive.

A span has a name, a start, an end and a parent. The parent is the
innermost open span on the same thread; a span opened on a thread with
no open span (the stream execution and ``foreachBatch`` callback
threads) takes the client thread's innermost open span as its parent,
because the single client thread caused that work.

While a span is open on a thread, the thread's Spark job group is the
span's id, so a job started there is attributed to the span exactly.
Jobs from threads the benchmark does not own (the stream's micro-batch
jobs) are attributed by time: to the innermost span open when they were
submitted.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench-"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    thread: str
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start

    def as_dict(self) -> dict:
        return {
            "id": self.id,
            "name": self.name,
            "parent": self.parent,
            "thread": self.thread,
            "start": self.start,
            "end": self.end,
            "attrs": self.attrs,
        }


def covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``[start, end)`` intervals."""
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """A span's self time: its duration minus the part of its interval
    that its child spans cover (children clipped to the parent)."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        end = s.end if s.end is not None else s.start
        clipped = [
            (max(c.start, s.start), min(c.end, end))
            for c in children[s.id]
            if c.end is not None and c.end > s.start and c.start < end
        ]
        out[s.id] = s.duration - covered(clipped)
    return out


def outermost(spans: list[Span], prefix: str) -> list[Span]:
    """Spans whose name starts with ``prefix`` and that have no ancestor
    whose name does: summing their durations counts nested calls once."""
    by_id = {s.id: s for s in spans}

    def inside(s: Span) -> bool:
        p = by_id.get(s.parent) if s.parent is not None else None
        while p is not None:
            if p.name.startswith(prefix):
                return True
            p = by_id.get(p.parent) if p.parent is not None else None
        return False

    return [s for s in spans if s.name.startswith(prefix) and not inside(s)]


class Tracer:
    """Span recorder. Spans stay in memory until :meth:`write_jsonl`."""

    def __init__(self, spark=None):
        self.spark = spark
        self.active = False
        self.spans: list[Span] = []
        self.bookkeeping_s = 0.0
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._client = threading.get_ident()
        self._client_stack: list[Span] = []

    # ------------------------------------------------------------ spans

    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._client:
            return self._client_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _swap_group(self, group: str | None) -> str | None:
        """Set this thread's Spark job group; return the previous one."""
        if self.spark is None:
            return None
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", group)
        return prev

    def open(self, name: str, **attrs) -> Span:
        t0 = time.perf_counter()
        stack = self._stack()
        if stack:
            parent = stack[-1].id
        elif self._client_stack:
            parent = self._client_stack[-1].id
        else:
            parent = None
        with self._lock:
            span = Span(
                next(self._ids), name, parent, threading.current_thread().name,
                time.time(), attrs=dict(attrs),
            )
            self.spans.append(span)
        stack.append(span)
        span.attrs["_prev_group"] = self._swap_group(f"{GROUP_PREFIX}{span.id}")
        self.bookkeeping_s += time.perf_counter() - t0
        span.start = time.time()
        return span

    def close(self, span: Span) -> None:
        span.end = time.time()
        t0 = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()
        self._swap_group(span.attrs.pop("_prev_group"))
        self.bookkeeping_s += time.perf_counter() - t0

    def span(self, name: str, **attrs):
        """Context manager for a span; a no-op while inactive."""
        return _SpanCtx(self, name, attrs)

    def wrap(self, owner, attr: str, name: str, on_call=None) -> None:
        """Replace ``owner.attr`` by a wrapper that records span ``name``.

        ``on_call(span, args, kwargs, result_fn)`` may add attributes: it
        is called with a thunk that runs the original and returns its
        result, so it can look at state before and after the call."""
        orig = getattr(owner, attr)
        if getattr(orig, "_perfbench_orig", None) is not None:
            return
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            span = tracer.open(name)
            try:
                if on_call is None:
                    return orig(*args, **kwargs)
                return on_call(span, args, kwargs, lambda: orig(*args, **kwargs))
            finally:
                tracer.close(span)

        wrapper._perfbench_orig = orig
        setattr(owner, attr, wrapper)

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.as_dict()) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs
        self.span: Span | None = None

    def __enter__(self) -> Span | None:
        if self.tracer.active:
            self.span = self.tracer.open(self.name, **self.attrs)
        return self.span

    def __exit__(self, *exc) -> None:
        if self.span is not None:
            self.tracer.close(self.span)


# --------------------------------------------------------- Spark engine

STAGE_FIELDS = (
    "numTasks", "executorRunTime", "executorCpuTime", "jvmGcTime",
    "inputBytes", "outputBytes", "shuffleReadBytes", "shuffleWriteBytes",
    "memoryBytesSpilled", "diskBytesSpilled",
)


def _opt_time(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def read_status_store(spark) -> tuple[list[dict], list[dict]]:
    """Jobs and stages from the driver's status store. The store is
    filled by the status listener whether or not the UI is enabled."""
    jvm = spark.sparkContext._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    jobs = []
    for j in conv.asJava(store.jobsList(None)):
        group = j.jobGroup()
        jobs.append(
            {
                "job": j.jobId(),
                "group": group.get() if group.isDefined() else None,
                "submitted": _opt_time(j.submissionTime()),
                "stages": list(conv.asJava(j.stageIds())),
            }
        )
    stages = []
    no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
    for s in conv.asJava(store.stageList(None, False, False, no_quantiles, None)):
        row = {"stage": s.stageId(), "attempt": s.attemptId()}
        row["submitted"] = _opt_time(s.submissionTime())
        for f in STAGE_FIELDS:
            row[f] = getattr(s, f)()
        stages.append(row)
    return jobs, stages


def attribute(spans: list[Span], jobs: list[dict], stages: list[dict]) -> dict[int, dict]:
    """Spark work per span id: ``{"jobs": n, <stage field>: sum, ...}``.

    A job carrying a benchmark job group goes to that span. Any other job
    goes to the innermost span that was open when it was submitted. A
    stage goes with the first job that lists it."""
    by_id = {s.id: s for s in spans}
    depth: dict[int, int] = {}

    def d(s: Span) -> int:
        if s.id not in depth:
            depth[s.id] = 0 if s.parent not in by_id else d(by_id[s.parent]) + 1
        return depth[s.id]

    def at_time(t: float | None) -> int | None:
        if t is None:
            return None
        best = None
        for s in spans:
            if s.end is not None and s.start <= t <= s.end:
                if best is None or d(s) > d(best):
                    best = s
        return best.id if best is not None else None

    out: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    stage_owner: dict[int, int] = {}
    for j in sorted(jobs, key=lambda j: j["job"]):
        g = j["group"]
        if g and g.startswith(GROUP_PREFIX) and int(g[len(GROUP_PREFIX):]) in by_id:
            sid = int(g[len(GROUP_PREFIX):])
        else:
            sid = at_time(j["submitted"])
        if sid is None:
            continue
        out[sid]["jobs"] += 1
        for st in j["stages"]:
            stage_owner.setdefault(st, sid)
    for st in stages:
        sid = stage_owner.get(st["stage"])
        if sid is None or st["submitted"] is None:
            continue  # skipped stages never ran
        for f in STAGE_FIELDS:
            out[sid][f] += st[f]
    return out

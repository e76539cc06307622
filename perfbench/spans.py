"""Spans around the engine's layer entry points, recorded from outside.

``Tracer.wrap`` swaps a module or class attribute for a wrapper that records
a span and sets a Spark job group named after it, so the jobs a layer runs
can be read back per span from Spark's status store afterwards. Spans are
kept in memory; ``Tracer.dump`` writes them out when the run ends. Nothing
in the engine is edited: ``Patches.uninstall`` puts every attribute back.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass, field

_GROUP = "spark.jobGroup.id"
_DESC = "spark.job.description"


@dataclass
class Span:
    """One timed call: ``trace`` is shared by the spans of one file,
    micro-batch or query; ``parent`` is the enclosing span's id."""

    id: int
    name: str
    trace: int
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the time its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.dur - _covered(kids.get(s.id, []), s.start, s.end) for s in spans}


class Patches:
    """Module or class attributes swapped for wrappers; :meth:`uninstall`
    (or leaving the ``with`` block) puts them back, last swap first."""

    def __init__(self):
        self._patched: list[tuple[object, str, object]] = []

    def __enter__(self):
        return self

    def __exit__(self, *exc) -> None:
        self.uninstall()

    def patch(self, owner, attr: str, value) -> None:
        """Set ``owner.attr`` to ``value`` until :meth:`uninstall`."""
        self._patched.append((owner, attr, owner.__dict__[attr] if isinstance(owner, type)
                              else getattr(owner, attr)))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, fn = self._patched.pop()
            setattr(owner, attr, fn)


class Tracer(Patches):
    """Records spans per thread (a stream's micro-batches arrive on a py4j
    callback thread) and counts py4j round trips while installed."""

    def __init__(self, sc):
        super().__init__()
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self.py4j_calls = 0

    # -- spans ---------------------------------------------------------------
    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def start(self, name: str, new_trace: bool = False, **attrs) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        trace = sid if new_trace or parent is None else parent.trace
        span = Span(sid, name, trace, parent.id if parent else None, time.perf_counter(),
                    attrs=dict(attrs))
        self._local.muted = True
        span.attrs["prev_group"] = (self.sc.getLocalProperty(_GROUP),
                                    self.sc.getLocalProperty(_DESC))
        self.sc.setJobGroup(self.group(span), name)
        self._local.muted = False
        span.attrs["py4j0"] = self.py4j_calls
        stack.append(span)
        self.spans.append(span)
        return span

    def finish(self, span: Span) -> None:
        span.attrs["py4j"] = self.py4j_calls - span.attrs.pop("py4j0")
        self._stack().pop()
        self._local.muted = True
        group, desc = span.attrs.pop("prev_group")
        self.sc.setLocalProperty(_GROUP, group)
        self.sc.setLocalProperty(_DESC, desc)
        self._local.muted = False
        span.end = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, new_trace: bool = False, **attrs):
        span = self.start(name, new_trace, **attrs)
        try:
            yield span
        finally:
            self.finish(span)

    @staticmethod
    def group(span: Span) -> str:
        return f"perfbench:{span.id}"

    # -- patching ------------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, new_trace: bool = False) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper."""
        fn = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name, new_trace):
                return fn(*args, **kwargs)

        self.patch(owner, attr, wrapper)

    def count_py4j(self) -> None:
        from py4j.clientserver import ClientServerConnection

        send = ClientServerConnection.send_command
        tracer = self

        def counted(conn, command):
            if not getattr(tracer._local, "muted", False):
                tracer.py4j_calls += 1
            return send(conn, command)

        self.patch(ClientServerConnection, "send_command", counted)

    # -- reading back --------------------------------------------------------
    def stage_stats(self, spark) -> None:
        """Attach each span's own jobs and stage totals (the jobs that ran
        while it was the innermost span) as ``attrs``."""
        from py4j.protocol import Py4JJavaError

        tracker = spark.sparkContext.statusTracker()
        store = spark.sparkContext._jsc.sc().statusStore()
        for s in self.spans:
            jobs = list(tracker.getJobIdsForGroup(self.group(s)))
            st = {"jobs": len(jobs), "stages": 0, "tasks": 0, "run_ms": 0, "cpu_ms": 0.0,
                  "gc_ms": 0, "shuffle_bytes": 0, "spill_bytes": 0}
            for j in jobs:
                info = tracker.getJobInfo(j)
                for sid in info.stageIds if info else []:
                    try:
                        data = store.lastStageAttempt(sid)
                    except Py4JJavaError:  # skipped stages have no attempt
                        continue
                    if str(data.status()) == "SKIPPED":
                        continue
                    st["stages"] += 1
                    st["tasks"] += data.numCompleteTasks()
                    st["run_ms"] += data.executorRunTime()
                    st["cpu_ms"] += data.executorCpuTime() / 1e6
                    st["gc_ms"] += data.jvmGcTime()
                    st["shuffle_bytes"] += data.shuffleReadBytes() + data.shuffleWriteBytes()
                    st["spill_bytes"] += data.memoryBytesSpilled() + data.diskBytesSpilled()
            s.attrs.update(st)

    def dump(self, path: str) -> None:
        own = self_times(self.spans)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**asdict(s), "self": own[s.id]}) + "\n")


def inclusive(spans: list[Span], key: str, roots: list[Span]) -> float:
    """Sum of ``attrs[key]`` over ``roots`` and all their descendants."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    total, todo = 0.0, list(roots)
    while todo:
        s = todo.pop()
        total += s.attrs.get(key, 0)
        todo.extend(kids.get(s.id, []))
    return total

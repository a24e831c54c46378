"""Span recorder for the traced pass.

The traced pass wraps public functions of the engine's modules from the
benchmark's side; the engine itself is not changed. A span records name,
layer, start, end, parent span and thread. Spans stay in memory and are
written once, when the run ends. Where a span counts Spark work, it runs
its call under its own job group (``setJobGroup``) and the jobs, stages
and tasks of that group are read from ``statusTracker()`` after the run.

Untraced runs use ``NullTracer``: it installs nothing and records nothing.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass, field

JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    thread: int = 0
    group: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


class NullTracer:
    """Tracer of the untraced runs: every call is a no-op."""

    enabled = False
    sc = None

    @contextlib.contextmanager
    def span(self, name: str, layer: str, jobs: bool = False, **attrs):
        yield None

    def uninstall(self) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.sc = None  # SparkContext, once the session exists: enables job counting
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, layer: str, jobs: bool = False, **attrs):
        stack = self._stack()
        s = Span(next(self._ids), name, layer, time.perf_counter(),
                 parent=stack[-1].id if stack else None,
                 thread=threading.get_ident(), attrs=attrs)
        prev_group = None
        if jobs and self.sc is not None:
            s.group = f"streambench-{s.id}"
            prev_group = self.sc.getLocalProperty(JOB_GROUP)
            self.sc.setJobGroup(s.group, name)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            if s.group is not None:
                self.sc.setLocalProperty(JOB_GROUP, prev_group)
            with self._lock:
                self.spans.append(s)

    def wrap(self, owner, attr: str, name: str, layer: str, jobs: bool = False,
             key_arg: int | None = None, size_arg: int | None = None):
        """Replace ``owner.attr`` (a module function or an instance method
        on a class) by a wrapper that records a span around each call.
        ``key_arg``: index of a positional argument kept as the span's
        ``key`` (a stream name or a path). ``size_arg``: index of a path
        argument whose file size is recorded after the call."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            with self.span(name, layer, jobs=jobs) as s:
                if key_arg is not None and len(a) > key_arg:
                    s.attrs["key"] = str(a[key_arg])
                out = orig(*a, **kw)
                if size_arg is not None:
                    s.attrs["bytes"] = _size(a[size_arg])
                return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def wrap_lock(self, owner, attr: str, layer: str):
        """Wrap a function returning a lock context manager: records the
        wait (call to acquired) and the hold (acquired to released)."""
        orig = getattr(owner, attr)
        tracer = self

        class _Timed:
            def __init__(self, cm, key):
                self.cm, self.key = cm, key

            def __enter__(self):
                t = time.perf_counter()
                out = self.cm.__enter__()
                self.t_acq = time.perf_counter()
                tracer._record("lock.wait", layer, t, self.t_acq, key=self.key)
                return out

            def __exit__(self, *exc):
                try:
                    return self.cm.__exit__(*exc)
                finally:
                    tracer._record("lock.hold", layer, self.t_acq, time.perf_counter(), key=self.key)

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            return _Timed(orig(*a, **kw), str(a[0]) if a else "")

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def _record(self, name: str, layer: str, start: float, end: float, **attrs) -> None:
        stack = self._stack()
        s = Span(next(self._ids), name, layer, start, end,
                 parent=stack[-1].id if stack else None, thread=threading.get_ident(), attrs=attrs)
        with self._lock:
            self.spans.append(s)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ------------------------------------------------------------ analysis
    def subtree(self, root: Span) -> list[Span]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.id, ()))
        return out

    def job_counts(self, root: Span) -> tuple[int, int]:
        """(jobs, tasks) run under ``root``'s job group and the groups of
        every span below it. Tasks count those that completed."""
        if self.sc is None:
            return 0, 0
        st = self.sc.statusTracker()
        jobs = tasks = 0
        for s in self.subtree(root):
            if s.group is None:
                continue
            for jid in st.getJobIdsForGroup(s.group):
                jobs += 1
                info = st.getJobInfo(jid)
                for sid in (info.stageIds if info else ()):
                    si = st.getStageInfo(sid)
                    tasks += si.numCompletedTasks if si else 0
        return jobs, tasks

    def self_ms_by_layer(self) -> dict[str, float]:
        """Each layer's self time: its spans' time minus the time of their
        child spans (same thread), summed per layer."""
        child_ms: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_ms[s.parent] = child_ms.get(s.parent, 0.0) + s.ms
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.layer] = out.get(s.layer, 0.0) + max(0.0, s.ms - child_ms.get(s.id, 0.0))
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps(asdict(s)) + "\n")
            fh.write(json.dumps({"layer_self_ms": self.self_ms_by_layer()}) + "\n")


def _size(path) -> int:
    import os

    try:
        return os.path.getsize(path)
    except (OSError, TypeError):
        return 0

"""In-memory span recording and Spark job/task counting for the benchmark.

Spans are recorded only by code in this directory, around calls into the
library's public functions; the library itself is not instrumented.  A span
has a name, start and end (``time.perf_counter`` seconds), the id of the span
that caused it, and the id of the trace (one call, one study, or set-up) it
belongs to.  Spans stay in memory until :meth:`Tracer.dump` writes them out.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from pathlib import Path


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    trace_id: str

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise every method is a no-op.

    The parent of a new span is the innermost open span of the calling
    thread.  A thread with no open span (a library thread pool running a
    wrapped function) takes the innermost open span of the thread that
    created the tracer, so battery members nest under their study."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[tuple[int, str]] = []
        self._local.stack = self._main_stack

    def _stack(self) -> list[tuple[int, str]]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str, trace_id: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        outer = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        parent, parent_trace = outer if outer else (None, None)
        with self._lock:
            span_id = next(self._ids)
        tid = trace_id or parent_trace or f"t{span_id}"
        stack.append((span_id, tid))
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(span_id, name, start, end, parent, tid))

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span named ``name``."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.span_id]

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it covered by child spans (children
        may overlap each other when they ran on several threads)."""
        covered = 0.0
        cur_start = cur_end = None
        for s in sorted(self.children(span), key=lambda c: c.start):
            lo, hi = max(s.start, span.start), min(s.end, span.end)
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        return span.duration - covered

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        rows = [
            {**asdict(s), "self": self.self_time(s)}
            for s in sorted(self.spans, key=lambda s: s.start)
        ]
        path.write_text(json.dumps(rows, indent=1))


class JobCounter:
    """Counts the Spark jobs, tasks and failed tasks that ran since the last
    :meth:`take`, from the status tracker alone.

    Job ids increase monotonically, so the jobs of an interval are the ids
    above the highest one seen before it.  No job group is used: a job
    group applies only to the thread that sets it, and the Monte Carlo
    battery submits its jobs from a thread pool."""

    def __init__(self, sc):
        self._sc = sc
        self._st = sc.statusTracker()
        self._last = self._max_job()

    def _drain(self) -> None:
        # job/stage records reach the status store through the listener
        # bus asynchronously; wait until it has caught up
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _max_job(self) -> int:
        self._drain()
        return max(self._st.getJobIdsForGroup(None), default=-1)

    def take(self) -> tuple[int, int, int]:
        """(jobs, tasks run, failed tasks) since the previous call."""
        self._drain()
        new = sorted(j for j in self._st.getJobIdsForGroup(None) if j > self._last)
        if new:
            self._last = new[-1]
        stages: set[int] = set()
        for j in new:
            info = self._st.getJobInfo(j)
            if info is not None:
                stages.update(int(s) for s in info.stageIds)
        tasks = failed = 0
        for s in stages:
            info = self._st.getStageInfo(s)
            if info is not None:
                tasks += info.numCompletedTasks
                failed += info.numFailedTasks
        return len(new), tasks, failed

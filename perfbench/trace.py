"""In-memory span recorder for traced runs.

Spans are opened around calls into the program's public functions by
wrapping those functions from the benchmark's side (the program is not
edited). Each span records its name, start, end, parent span and the
request or batch id current on its thread. Spans stay in memory and are
written out once, when the run ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import sys
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    ctx: str | None


class Recorder:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        # Parent for spans opened on a thread with no open span, such as
        # Spark's streaming callback thread while a batch drains.
        self.fallback_parent: int | None = None

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def set_context(self, ctx: str | None) -> None:
        """Tag spans opened on this thread with a request or batch id."""
        self._local.ctx = ctx

    def context(self) -> str | None:
        return getattr(self._local, "ctx", None)

    def span(self, name: str) -> "_SpanCtx":
        return _SpanCtx(self, name)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped_original__ = fn
        return traced

    def wrap_everywhere(self, module, attr: str, name: str) -> None:
        """Replace `module.attr` with a traced wrapper everywhere it is
        bound (see `rebind`)."""
        rebind(module, attr, self.wrap(getattr(module, attr), name))


def rebind(module, attr: str, replacement) -> None:
    """Set `module.attr` to `replacement`, and also every program
    module's own binding of the original object: the program imports
    functions by name into its consumer modules."""
    original = getattr(module, attr)
    program = [
        m for m in list(sys.modules.values())
        if (getattr(m, "__name__", None) or "").startswith("marketviz_spark")
    ]
    for mod in [module, *program]:
        for key, value in list(vars(mod).items()):
            if value is original:
                setattr(mod, key, replacement)


class _SpanCtx:
    def __init__(self, rec: Recorder, name: str) -> None:
        self.rec = rec
        self.name = name

    def __enter__(self):
        stack = self.rec._stack()
        self.id = next(self.rec._ids)
        self.parent = stack[-1] if stack else self.rec.fallback_parent
        stack.append(self.id)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        end = time.perf_counter()
        self.rec._stack().pop()
        span = Span(self.id, self.name, self.start, end, self.parent, self.rec.context())
        with self.rec._lock:
            self.rec.spans.append(span)
        return False


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
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
    """Each span's duration minus the part of it covered by its
    children; overlapping children are counted once."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - _covered(children.get(s.id, []), s.start, s.end)
        for s in spans
    }


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    own = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + own[s.id]
    return out


def total_by_name(spans: list[Span]) -> dict[str, float]:
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start)
    return out


def spark_work(sc, group: str) -> tuple[int, int]:
    """(jobs, tasks) Spark ran under a job group of SparkContext `sc`."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        for s in info.stageIds if info else ():
            st = tracker.getStageInfo(s)
            tasks += st.numTasks if st else 0
    return len(jobs), tasks


def dump(spans: list[Span], path: str) -> None:
    with open(path, "w") as fh:
        json.dump([asdict(s) for s in spans], fh)


def load(path: str) -> list[Span]:
    with open(path) as fh:
        return [Span(**d) for d in json.load(fh)]

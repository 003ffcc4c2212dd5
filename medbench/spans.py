"""Spans around calls into the engine, and the Spark event log.

A span is opened around every call the benchmark wants to see: its
own operations, and the engine's public functions, which a traced run
wraps from outside (module attributes are replaced, no engine file
changes). The span id rides the calling thread's Spark local property
``medbench.span``, so every job the call launches carries it into the
event log. Thread pools inherit the submitting thread's span, so jobs
that the engine submits from worker threads (pipeline layer stages,
overlapped index writes) are attributed too.

The event log is attached only for the traced part of a run: an
``EventLoggingListener`` added to the live context, so the first half
of a traced run is a true untraced reference for ``trace.overhead``.
"""

from __future__ import annotations

import concurrent.futures as cf
import contextlib
import functools
import itertools
import json
import os
import statistics
import threading
import time

PROP = "medbench.span"


class Span:
    __slots__ = ("sid", "parent", "name", "t0", "t1", "extra", "op")

    def __init__(self, sid, parent, name, op):
        self.sid, self.parent, self.name, self.op = sid, parent, name, op
        self.t0 = time.monotonic()
        self.t1 = None
        self.extra: dict = {}


class Tracer:
    """Records spans; a disabled tracer records only the operation
    spans the benchmark itself times (no local properties, no
    wrappers), so untraced runs pay nothing for it."""

    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    # -- span stack ---------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def current(self) -> Span | None:
        st = self._stack()
        return st[-1] if st else None

    def _set_prop(self, span: Span | None) -> None:
        if self.enabled:
            self.sc.setLocalProperty(PROP, None if span is None else str(span.sid))

    @contextlib.contextmanager
    def span(self, name: str, op: bool = False):
        """A span around the block; ``op=True`` makes it an operation,
        the unit per-layer numbers are grouped by."""
        parent = self.current()
        s = Span(next(self._ids), parent.sid if parent else None, name,
                 parent.op if parent else None)
        if op:
            s.op = s.sid
        st = self._stack()
        st.append(s)
        self._set_prop(s)
        try:
            yield s
        finally:
            s.t1 = time.monotonic()
            st.pop()
            self._set_prop(st[-1] if st else None)
            if self.enabled or s.op == s.sid:
                self.spans.append(s)

    # -- wrapping the engine from outside -----------------------------
    def wrap(self, module, attr: str, name: str, before=None, after=None):
        """Replace ``module.attr`` with a spanned wrapper. ``name`` may
        be a callable that picks the name at call time. ``before(args,
        kwargs)`` and ``after(span, state, args, kwargs, result)``
        record counts at the same boundary."""
        orig = getattr(module, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name() if callable(name) else name) as s:
                state = before(args, kwargs) if before else None
                out = orig(*args, **kwargs)
                if after:
                    after(s, state, args, kwargs, out)
                return out

        setattr(module, attr, wrapper)
        self._patched.append((module, attr, orig))

    def inherit_threads(self) -> None:
        """Worker threads start inside the submitting thread's span."""
        orig = cf.ThreadPoolExecutor.submit
        tracer = self

        def submit(pool, fn, /, *args, **kwargs):
            parent = tracer.current()

            def run():
                st = tracer._stack()
                saved = list(st)
                st[:] = [parent] if parent else []
                tracer._set_prop(parent)
                try:
                    return fn(*args, **kwargs)
                finally:
                    st[:] = saved
                    tracer._set_prop(st[-1] if st else None)

            return orig(pool, run)

        cf.ThreadPoolExecutor.submit = submit
        self._patched.append((cf.ThreadPoolExecutor, "submit", orig))

    def enable(self) -> None:
        self.enabled = True
        self._set_prop(self.current())

    def restore(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

class EventLog:
    """An event-log listener attached to the running context."""

    def __init__(self, sc, log_dir: str):
        self.sc = sc
        self.jsc = sc._jsc.sc()
        self.dir = log_dir
        os.makedirs(log_dir, exist_ok=True)
        jvm = sc._jvm
        conf = (self.jsc.conf().clone()
                .set("spark.eventLog.compress", "false")
                .set("spark.eventLog.rolling.enabled", "false"))
        self.listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            f"{sc.applicationId}-medbench", jvm.scala.Option.empty(),
            jvm.java.net.URI("file://" + os.path.abspath(log_dir)),
            conf, sc._jsc.hadoopConfiguration(),
        )

    def _drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty(60_000)

    def start(self) -> None:
        self._drain()
        self.listener.start()
        self.jsc.addSparkListener(self.listener)

    def stop(self) -> list[dict]:
        self._drain()
        self.jsc.removeSparkListener(self.listener)
        self.listener.stop()
        events = []
        for f in sorted(os.listdir(self.dir)):
            if f.startswith("."):  # checksum side files
                continue
            with open(os.path.join(self.dir, f)) as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
        return events


# ---------------------------------------------------------------------------
# aggregation
# ---------------------------------------------------------------------------

def union_len(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def clip(intervals, lo, hi):
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs) -> float:
    """The highest percentile with at least ten samples beyond it; with
    fewer than eleven samples, the smallest sample (every other one lies
    beyond it)."""
    s = sorted(xs)
    return float(s[max(0, len(s) - 11)]) if s else 0.0


class Profile:
    """Per-span self time and jobs, and task-level totals, for the
    traced operations."""

    def __init__(self, spans: list[Span], events: list[dict], cores: int):
        self.spans = [s for s in spans if s.t1 is not None]
        by_id = {s.sid: s for s in self.spans}
        self.children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent in by_id:
                self.children.setdefault(s.parent, []).append(s)
        self.ops = [s for s in self.spans if s.op == s.sid]
        self.jobs_by_span: dict[int, int] = {}
        self.unattributed = 0
        self.n_jobs = 0
        tasks = []
        self.task_busy = self.gc = self.shuffle = self.spill = 0.0
        for e in events:
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                self.n_jobs += 1
                sid = (e.get("Properties") or {}).get(PROP)
                if sid is None or int(sid) not in by_id:
                    self.unattributed += 1
                else:
                    self.jobs_by_span[int(sid)] = self.jobs_by_span.get(int(sid), 0) + 1
            elif kind == "SparkListenerTaskEnd":
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                tasks.append((info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0))
                self.task_busy += m.get("Executor Run Time", 0) / 1000.0
                self.gc += m.get("JVM GC Time", 0) / 1000.0
                self.shuffle += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                self.spill += m.get("Disk Bytes Spilled", 0)
        self.tasks = tasks
        self.cores = cores

    def self_time(self, s: Span) -> float:
        kids = clip([(c.t0, c.t1) for c in self.children.get(s.sid, [])], s.t0, s.t1)
        return (s.t1 - s.t0) - union_len(kids)

    def per_op(self, name: str, value) -> float:
        """Median over the operations that ran ``name`` of the summed
        ``value(span)`` of its spans in that operation."""
        acc: dict[int, float] = {}
        for s in self.spans:
            if s.name == name:
                acc[s.op] = acc.get(s.op, 0.0) + value(s)
        return median(list(acc.values()))

    def seconds(self, name: str) -> float:
        return self.per_op(name, self.self_time)

    def jobs(self, name: str) -> float:
        return self.per_op(name, lambda s: self.jobs_by_span.get(s.sid, 0))

    def extra(self, name: str, key: str) -> float:
        return self.per_op(name, lambda s: s.extra.get(key, 0))

    def spark_metrics(self, wall_offset: float) -> dict:
        """``wall_offset`` maps monotonic span clocks onto the event
        log's epoch milliseconds."""
        n = max(1, len(self.ops))
        op_iv = [(s.t0 + wall_offset, s.t1 + wall_offset) for s in self.ops]
        wall = sum(b - a for a, b in op_iv) or 1e-9
        busy = sum(union_len(clip(self.tasks, a, b)) for a, b in op_iv)
        task_time = sum(b - a for a, b in self.tasks)
        return {
            "spark.jobs": self.n_jobs / n,
            "spark.task_busy_s": self.task_busy / n,
            "spark.core_util": task_time / (wall * self.cores),
            "spark.driver_share": 1.0 - busy / wall,
            "spark.shuffle_mb": self.shuffle / n / 1e6,
            "spark.spill_mb": self.spill / n / 1e6,
            "spark.gc_s": self.gc / n,
            "spark.unattributed_jobs": float(self.unattributed),
        }

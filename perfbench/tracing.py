"""In-memory span tracer, attached from the benchmark's own files.

``instrument`` wraps the public functions of each layer (topic log,
subscribe, session) in place for the life of the process; nothing under
``kafkaish_spark/`` is edited.  A span records name, start, end, its id
and the id of the span that was open on the same thread when it began
(its parent).  Self time is a span's duration minus the part of it its
child spans cover.  Spans stay in memory and are written out once, at
exit, by ``dump``.
"""

from __future__ import annotations

import importlib
import contextlib
import functools
import itertools
import json
import threading
import time
from collections import defaultdict


class Tracer:
    enabled = True

    def __init__(self) -> None:
        # (id, parent id, name, start, end); list.append is atomic, so
        # spans from the producer, callback and main threads interleave
        # safely
        self.spans: list[tuple[int, int, str, float, float]] = []
        self.busy: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self.recording = True

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else 0
        sid = next(self._ids)
        stack.append(sid)
        keep = self.recording
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            if keep:
                self.spans.append((sid, parent, name, t0, t1))

    @contextlib.contextmanager
    def paused(self):
        """Spans and counters begun inside are not kept: untimed work
        between timed work."""
        self.recording = False
        try:
            yield
        finally:
            self.recording = True

    def reset(self) -> None:
        """Forget everything recorded so far (set-up is not measured)."""
        self.spans.clear()
        self.busy.clear()
        self.calls.clear()

    def add(self, name: str, seconds: float, calls: int = 1) -> None:
        """Counter form for per-message paths too hot for one span each."""
        if not self.recording:
            return
        self.busy[name] += seconds
        self.calls[name] += calls

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # -- reading ------------------------------------------------------

    def durations(self, name: str) -> list[float]:
        return [t1 - t0 for _s, _p, n, t0, t1 in self.spans if n == name]

    def self_times(self, name: str) -> list[float]:
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for _s, parent, _n, t0, t1 in self.spans:
            if parent:
                children[parent].append((t0, t1))
        out = []
        for sid, _p, n, t0, t1 in self.spans:
            if n == name:
                out.append((t1 - t0) - covered(children.get(sid, []), t0, t1))
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sid, parent, name, t0, t1 in sorted(self.spans, key=lambda s: s[3]):
                fh.write(
                    json.dumps(
                        {"id": sid, "parent": parent, "name": name,
                         "start": t0, "end": t1}
                    )
                    + "\n"
                )
            for name in sorted(self.busy):
                fh.write(
                    json.dumps(
                        {"counter": name, "busy_s": self.busy[name],
                         "calls": self.calls[name]}
                    )
                    + "\n"
                )


class NullTracer(Tracer):
    """Tracing off: spans cost one context-manager call, nothing kept."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str):
        yield

    def add(self, name: str, seconds: float, calls: int = 1) -> None:
        pass


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def instrument(tracer: Tracer) -> None:
    """Wrap the layers' public functions with spans, in place."""
    from kafkaish_spark import session
    from kafkaish_spark.sources import topic_log
    subscribe_mod = importlib.import_module("kafkaish_spark.streaming.subscribe")

    topic = topic_log.Topic
    for meth in ("publish", "publish_df", "latest", "ack", "replay"):
        setattr(topic, meth, tracer.wrap(f"topic_log.{meth}", getattr(topic, meth)))

    # writer_lock is looked up in the module's globals at call time, so
    # replacing the module attribute reaches every locked path; the span
    # covers the ACQUIRE only (the wait), not the hold
    orig_lock = topic_log.writer_lock

    @contextlib.contextmanager
    def traced_lock(topic_root, what="publish"):
        with contextlib.ExitStack() as held:
            with tracer.span("topic_log.writer_lock.wait"):
                held.enter_context(orig_lock(topic_root, what))
            yield

    topic_log.writer_lock = traced_lock
    subscribe_mod.subscribe = tracer.wrap("subscribe.subscribe", subscribe_mod.subscribe)
    session.get_spark = tracer.wrap("session.get_spark", session.get_spark)

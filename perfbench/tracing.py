"""Spans around calls into the engine's layers, installed from the
benchmark's own files by wrapping module attributes and methods — the
package itself is not modified.

A span is ``(id, name, start, end, parent, op, attrs)``. ``parent`` is
the innermost open span of the same thread; ``op`` is the operation
the span belongs to (a copy_range call, a recovery, an HTTP request),
inherited from the thread's current op or, for threads the engine
starts itself (Spark's foreachBatch callbacks), from the process-wide
op. Spans are held in memory and written out once, at the end.

Spark jobs are counted through the public status tracker: a tiny
probe job in its own job group at the start and at the end brackets
the ids every other job took in between.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import sys
import threading
import time

now = time.perf_counter


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._tls = threading.local()
        #: op for threads that never set one (engine callback threads)
        self.global_op = None
        self.job_ids: list[int] = []
        self._undo: list[tuple[object, str, object]] = []

    # -- spans --------------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def current_op(self):
        return getattr(self._tls, "op", None) or self.global_op

    @contextlib.contextmanager
    def op(self, op_id):
        """Mark this thread's spans as belonging to ``op_id``."""
        prev = getattr(self._tls, "op", None)
        self._tls.op = op_id
        try:
            yield
        finally:
            self._tls.op = prev

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        st = self._stack()
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": st[-1] if st else None,
            "op": self.current_op(),
            "attrs": attrs,
        }
        st.append(sid)
        rec["start"] = now()
        try:
            yield rec
        finally:
            rec["end"] = now()
            st.pop()
            with self._lock:
                self.spans.append(rec)

    # -- installation -------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, result_attr=None, arg_attrs=None):
        """Replace ``owner.attr`` by a wrapper recording one span per
        call; ``arg_attrs(args, kwargs)`` and ``result_attr(result)``
        add attributes from the arguments and the return value."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **k):
            attrs = arg_attrs(a, k) if arg_attrs is not None else {}
            with tracer.span(name, **attrs) as rec:
                out = orig(*a, **k)
                if result_attr is not None:
                    rec["attrs"].update(result_attr(out))
                return out

        self._undo.append((owner, attr, orig))
        setattr(owner, attr, wrapper)
        return orig

    def wrap_cm(self, owner, attr: str, name: str):
        """Wrap a context-manager factory: the span covers entering it
        (for a lock: the time spent waiting to acquire)."""
        orig = getattr(owner, attr)
        tracer = self

        @contextlib.contextmanager
        @functools.wraps(orig)
        def wrapper(*a, **k):
            cm = orig(*a, **k)
            with tracer.span(name):
                cm.__enter__()
            try:
                yield
            except BaseException:
                if not cm.__exit__(*sys.exc_info()):
                    raise
            else:
                cm.__exit__(None, None, None)

        self._undo.append((owner, attr, orig))
        setattr(owner, attr, wrapper)
        return orig

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- spark jobs ---------------------------------------------------------
    def probe_jobs(self, spark) -> None:
        """Run one marker job and record its id."""
        sc = spark.sparkContext
        group = f"perfbench-probe-{len(self.job_ids)}"
        sc.setJobGroup(group, "perfbench job-id probe")
        try:
            sc.parallelize([0], 1).count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        self.job_ids.extend(sc.statusTracker().getJobIdsForGroup(group))

    def jobs_between_probes(self) -> int:
        if len(self.job_ids) < 2:
            return 0
        return max(self.job_ids[-1] - self.job_ids[0] - 1, 0)

    # -- output -------------------------------------------------------------
    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "job_ids": self.job_ids}, f)


def span_cost_us(samples: int = 20000) -> float:
    """Measured cost of recording one span through a wrapper, in µs:
    the per-call price tracing adds to the program."""
    t = Tracer()

    class Box:
        @staticmethod
        def f():
            return None

    t.wrap(Box, "f", "noop")
    f = Box.f
    t0 = now()
    for _ in range(samples):
        f()
    traced = now() - t0
    t.uninstall()
    f = Box.f
    t0 = now()
    for _ in range(samples):
        f()
    plain = now() - t0
    return max(traced - plain, 0.0) / samples * 1e6


# -- derivations --------------------------------------------------------------
def durations_ms(spans, name: str) -> list[float]:
    return [(s["end"] - s["start"]) * 1e3 for s in spans if s["name"] == name]


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_ms(spans, parent: str, children: tuple[str, ...]) -> list[float]:
    """Per ``parent`` span: its duration minus the part of it that
    ``children`` spans of the same op cover (any thread)."""
    kids: dict[object, list[tuple[float, float]]] = {}
    for s in spans:
        if s["name"] in children:
            kids.setdefault(s["op"], []).append((s["start"], s["end"]))
    out = []
    for p in spans:
        if p["name"] != parent:
            continue
        c = covered(kids.get(p["op"], []), p["start"], p["end"])
        out.append((p["end"] - p["start"] - c) * 1e3)
    return out

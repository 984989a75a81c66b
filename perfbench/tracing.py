"""In-memory spans around calls into the program's modules.

A span is ``{name, start, end, parent, op}``: ``parent`` is the index of the
span open on the same thread when it started, ``op`` the benchmark op the
thread was serving. Calls too frequent for a span each (one per series)
are *aggregated*: their total time and count are added to the enclosing
span (``agg``) and to the op's totals. Spans stay in memory until
``dump``.
"""

from __future__ import annotations

import functools
import json
import threading
import time

from stats import union_length

# request header carrying the client's op id to a traced server
OP_HEADER = "X-Perfbench-Op"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.op_agg: dict[str, dict[str, list[float]]] = {}
        self._local = threading.local()
        self._lock = threading.Lock()

    # -- per-thread state
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @property
    def op(self) -> str | None:
        return getattr(self._local, "op", None)

    @op.setter
    def op(self, value: str | None) -> None:
        self._local.op = value

    # -- recording
    def begin(self, name: str) -> int:
        st = self._stack()
        span = {
            "name": name, "start": time.perf_counter(), "end": None,
            "parent": st[-1] if st else None, "op": self.op, "agg": {},
        }
        with self._lock:
            self.spans.append(span)
            idx = len(self.spans) - 1
        st.append(idx)
        return idx

    def end(self, idx: int, **attrs) -> None:
        span = self.spans[idx]
        span["end"] = time.perf_counter()
        span.update(attrs)
        st = self._stack()
        if st and st[-1] == idx:
            st.pop()

    def add(self, name: str, seconds: float) -> None:
        """Account one aggregated call to the enclosing span and the op."""
        st = self._stack()
        if st:
            a = self.spans[st[-1]]["agg"].setdefault(name, [0, 0.0])
            a[0] += 1
            a[1] += seconds
        with self._lock:
            a = self.op_agg.setdefault(str(self.op), {}).setdefault(name, [0, 0.0])
            a[0] += 1
            a[1] += seconds

    # -- wrappers
    def wrap_span(self, fn, name: str):
        """``fn`` inside a span."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            idx = self.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(idx)

        return wrapper

    def wrap_agg(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.add(name, time.perf_counter() - t0)

        return wrapper

    def wrap_gen(self, fn, name: str):
        """A generator function whose time inside each ``next`` is
        aggregated (the caller's work between items is not)."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            it = iter(fn(*args, **kwargs))
            self.add(name, time.perf_counter() - t0)
            while True:
                t0 = time.perf_counter()
                try:
                    item = next(it)
                except StopIteration:
                    self.add(name, time.perf_counter() - t0)
                    return
                self.add(name, time.perf_counter() - t0)
                yield item

        return wrapper

    def dump(self, path: str) -> None:
        with self._lock:
            doc = {"spans": self.spans, "op_agg": self.op_agg}
        with open(path, "w") as f:
            json.dump(doc, f)


def children(spans: list[dict]) -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        if s["parent"] is not None:
            out.setdefault(s["parent"], []).append(i)
    return out


def duration(span: dict) -> float:
    return (span["end"] or span["start"]) - span["start"]


def self_time(spans: list[dict], idx: int, kids: dict[int, list[int]] | None = None) -> float:
    """The span's duration minus the time its child spans cover (their
    union, clipped to the span) and minus its aggregated calls."""
    kids = children(spans) if kids is None else kids
    s = spans[idx]
    lo, hi = s["start"], s["start"] + duration(s)
    covered = union_length(
        (max(lo, spans[k]["start"]), min(hi, spans[k]["start"] + duration(spans[k])))
        for k in kids.get(idx, ())
    )
    aggregated = sum(t for _, t in s["agg"].values())
    return max(0.0, duration(s) - covered - aggregated)


def has_ancestor(spans: list[dict], idx: int, prefixes: tuple[str, ...]) -> bool:
    p = spans[idx]["parent"]
    while p is not None:
        if spans[p]["name"].startswith(prefixes):
            return True
        p = spans[p]["parent"]
    return False

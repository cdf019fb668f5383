"""In-memory span recording around calls into the engine's layers.

A span is one timed call: id, parent id, name, layer, start and end on
the monotonic clock (``time.perf_counter``, which is CLOCK_MONOTONIC on
Linux and so comparable between the load generator and the engine
process on one host).  Spans stay in a list in memory and are written
out once, at the end of the run.

``Tracer.wrap`` replaces a class or module attribute with a timing
wrapper; the parent of a span is the innermost open span of the same
thread, or an explicit parent id (a request id sent by the client).
``self_times`` turns a span list into each span's self time: its
duration minus the part of it that its children cover.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from typing import Callable

# local property that carries the open span id into Spark's job events
SPARK_SPAN_PROPERTY = "perfbench.span"


class Tracer:
    def __init__(self, prefix: str = "s", set_spark_tag: Callable | None = None):
        self.prefix = prefix
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._set_spark_tag = set_spark_tag

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def wrap(self, owner, attr: str, name: str, layer: str,
             parent_from: Callable | None = None, tag_spark: bool = False,
             classify: Callable | None = None) -> None:
        """Time every call of owner.attr as a span.  `parent_from(args,
        kwargs)` may name an explicit parent id (else: the thread's open
        span); `tag_spark` (a bool, or a predicate of args and kwargs)
        stamps the span id on Spark jobs the call starts;
        `classify(args, kwargs)` may override the span name."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            parent = parent_from(args, kwargs) if parent_from else None
            span_name = (classify(args, kwargs) if classify else None) or name
            tag = tag_spark(args, kwargs) if callable(tag_spark) \
                else tag_spark
            with tracer.span(span_name, layer, parent=parent, tag_spark=tag):
                return fn(*args, **kwargs)

        setattr(owner, attr, wrapper)

    def span(self, name: str, layer: str, parent: str | None = None,
             tag_spark: bool = False, **attrs):
        return _Span(self, name, layer, parent, tag_spark, attrs)

    def _record(self, rec: dict) -> None:
        with self._lock:
            self.spans.append(rec)


class _Span:
    __slots__ = ("tr", "rec", "tag_spark", "prev_tag")

    def __init__(self, tr: Tracer, name, layer, parent, tag_spark, attrs):
        self.tr = tr
        self.tag_spark = tag_spark and tr._set_spark_tag is not None
        self.rec = {"id": f"{tr.prefix}{next(tr._ids)}", "name": name,
                    "layer": layer, "parent": parent, **attrs}
        if self.tag_spark:
            self.rec["spark"] = True

    def __enter__(self):
        st = self.tr._stack()
        if self.rec["parent"] is None and st:
            self.rec["parent"] = st[-1]
        st.append(self.rec["id"])
        if self.tag_spark:
            self.prev_tag = self.tr._set_spark_tag(self.rec["id"])
        self.rec["t0"] = time.perf_counter()
        return self.rec

    def __exit__(self, exc_type, exc, tb):
        self.rec["t1"] = time.perf_counter()
        if exc_type is not None:
            self.rec["error"] = exc_type.__name__
        if self.tag_spark:
            self.tr._set_spark_tag(self.prev_tag)
        self.tr._stack().pop()
        self.tr._record(self.rec)
        return False


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
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


def clip_to_parents(spans: list[dict]) -> list[dict]:
    """Copies of the spans with each one clipped to its parent's
    interval (applied top-down), so that children never outlast their
    parent and the self times of a tree add up to its root's wall time.
    Spans whose parent is not in the list keep their own interval."""
    by_id = {s["id"]: dict(s) for s in spans}
    done: set = set()

    def clip(s):
        if s["id"] in done:
            return s
        done.add(s["id"])
        p = by_id.get(s["parent"])
        if p is not None:
            clip(p)
            s["t0"] = min(max(s["t0"], p["t0"]), p["t1"])
            s["t1"] = max(min(s["t1"], p["t1"]), s["t0"])
        return s

    for s in by_id.values():
        clip(s)
    return list(by_id.values())


def self_times(spans: list[dict]) -> dict[str, float]:
    """span id -> self time (duration minus the union of its children's
    intervals, in the spans' own units)."""
    kids: dict[str, list] = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append(
                (s["t0"], s["t1"]))
    out = {}
    for s in spans:
        covered = union_length(
            (max(a, s["t0"]), min(b, s["t1"]))
            for a, b in kids.get(s["id"], ()) if b > s["t0"] and a < s["t1"])
        out[s["id"]] = (s["t1"] - s["t0"]) - covered
    return out


def layer_breakdown(spans: list[dict], root_layer_name: str = "unattributed"
                    ) -> dict[str, dict[str, float]]:
    """root span id -> {layer: summed self time} over the root's whole
    tree; the root's own self time is reported as `root_layer_name`.
    Spans are clipped to their parents first, so each tree's values add
    up to its root's wall time."""
    spans = clip_to_parents(spans)
    st = self_times(spans)
    by_id = {s["id"]: s for s in spans}

    def root_of(s):
        seen = 0
        while s.get("parent") in by_id and seen < 1000:
            s = by_id[s["parent"]]
            seen += 1
        return s

    out: dict[str, dict[str, float]] = {}
    for s in spans:
        r = root_of(s)
        layer = root_layer_name if s is r else s["layer"]
        d = out.setdefault(r["id"], {})
        d[layer] = d.get(layer, 0.0) + st[s["id"]]
    return out

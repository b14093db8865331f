"""Spans around the calls into each layer, for the traced run.

A span names its layer and the call (``state``/``upsert``), and while it is
open it sets the Spark job description of the calling thread to
``lb:<layer>:<name>:<span id>``. Spark keeps the description per thread, so
jobs launched from ``process_batch``'s persist pool carry the name of the
span that launched them: every ``Warehouse`` call opens its own span in the
pool thread, and work submitted to a pool inherits the submitter's span.
The event-log parser (``eventlog.py``) maps each job back to its span.

Spans are kept in memory and written out when the run ends.
"""

from __future__ import annotations

import itertools
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass, field

DESC_KEY = "spark.job.description"
PREFIX = "lb"


@dataclass
class Span:
    id: int
    layer: str
    name: str
    parent: int | None
    thread: int
    start: float
    end: float | None = None
    #: counts recorded at the boundary (e.g. connected_components' metrics)
    counts: dict = field(default_factory=dict)

    @property
    def description(self) -> str:
        return f"{PREFIX}:{self.layer}:{self.name}:{self.id}"


def parse_description(desc: str | None) -> tuple[str, str, int] | None:
    """``lb:<layer>:<name>:<id>`` → (layer, name, id); None for any other job."""
    parts = (desc or "").split(":")
    if len(parts) != 4 or parts[0] != PREFIX or not parts[3].isdigit():
        return None
    return parts[1], parts[2], int(parts[3])


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> Span | None:
        stack = self._stack()
        return stack[-1] if stack else None

    @contextmanager
    def _entered(self, span: Span):
        """Make ``span`` the calling thread's innermost span and job
        description; restore the previous description on exit."""
        prev = self.sc.getLocalProperty(DESC_KEY)
        self.sc.setLocalProperty(DESC_KEY, span.description)
        stack = self._stack()
        stack.append(span)
        try:
            yield span
        finally:
            stack.pop()
            self.sc.setLocalProperty(DESC_KEY, prev)

    @contextmanager
    def span(self, layer: str, name: str):
        parent = self.current()
        s = Span(next(self._ids), layer, name, parent.id if parent else None, threading.get_ident(), time.time())
        try:
            with self._entered(s):
                yield s
        finally:
            s.end = time.time()
            with self._lock:
                self.spans.append(s)

    def wrap(self, fn, layer: str, name: str, on_call=None):
        """``fn`` with a span around every call. ``on_call(span, kwargs)``
        may add keyword arguments (e.g. a metrics list to fill)."""

        def traced(*args, **kwargs):
            with self.span(layer, name) as s:
                if on_call is not None:
                    on_call(s, kwargs)
                return fn(*args, **kwargs)

        return traced

    def propagate(self, fn):
        """``fn`` run under the span that is current here, in whatever thread
        later calls it (no new span: the work is the submitter's)."""
        owner = self.current()
        if owner is None:
            return fn

        def adopted(*args, **kwargs):
            with self._entered(owner):
                return fn(*args, **kwargs)

        return adopted


def _cc_metrics(span: Span, kwargs: dict) -> None:
    """Hand connected_components a metrics list when its caller did not, so
    every call reports its rounds and edge count."""
    if kwargs.get("metrics") is None:
        kwargs["metrics"] = []
    span.counts["cc"] = kwargs["metrics"]


@contextmanager
def instrumented(tracer: Tracer):
    """Install spans around the program's layer boundaries for the duration
    of the block: every ``Warehouse`` call (``state``), the
    ``connected_components`` that ``process_batch`` and the purge call
    (``clustering``), and span propagation into thread pools."""
    from repostcheckerbot_spark.operators import ingest
    from repostcheckerbot_spark.sinks.state import Warehouse

    patches = [
        (Warehouse, "read_bucket_pruned", "state", "read_pruned", None),
        (Warehouse, "upsert", "state", "upsert", None),
        (Warehouse, "upsert_replace", "state", "replace", None),
        (Warehouse, "append", "state", "append", None),
        (Warehouse, "append_bucketed", "state", "append", None),
        (Warehouse, "delete_keys", "state", "delete", None),
        (Warehouse, "delete_where", "state", "delete", None),
        (ingest, "connected_components", "clustering", "connected_components", _cc_metrics),
    ]
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, *_ in patches]
    orig_submit = ThreadPoolExecutor.submit

    def submit(pool, fn, /, *args, **kwargs):
        return orig_submit(pool, tracer.propagate(fn), *args, **kwargs)

    try:
        for owner, attr, layer, name, on_call in patches:
            setattr(owner, attr, tracer.wrap(getattr(owner, attr), layer, name, on_call))
        ThreadPoolExecutor.submit = submit
        yield tracer
    finally:
        ThreadPoolExecutor.submit = orig_submit
        for owner, attr, fn in saved:
            setattr(owner, attr, fn)


def leaves(live: list[Span]) -> list[Span]:
    """The open spans that have no open child."""
    parents = {s.parent for s in live}
    return [s for s in live if s.id not in parents]


def exclusive_times(spans: list[Span], start: float, end: float) -> dict[int, float]:
    """Self time of each span inside [start, end], shared under concurrency.

    At every instant, the open spans that have no open child (the leaves of
    the open tree, across all threads) split that instant equally. A span's
    self time is its share summed over its lifetime. Nested spans in one
    thread reduce to the usual duration minus children; spans in pool
    threads that overlap each other split the time they share. The values
    add up to the time covered by at least one span."""
    spans = [s for s in spans if s.end is not None and s.end > start and s.start < end]
    points = sorted({start, end, *(max(start, s.start) for s in spans), *(min(end, s.end) for s in spans)})
    out = {s.id: 0.0 for s in spans}
    for t0, t1 in zip(points, points[1:]):
        mid = (t0 + t1) / 2
        leaf = leaves([s for s in spans if s.start <= mid < s.end])
        for s in leaf:
            out[s.id] += (t1 - t0) / len(leaf)
    return out

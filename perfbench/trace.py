"""In-memory span recorder for the traced benchmark run.

A span is (id, name, start, end, parent). Spans nest per thread: the
foreachBatch body of a streaming query runs on a py4j callback thread, and
the sink spans it opens belong under its batch span, not under whatever the
main thread has open. Spans stay in memory until ``dump``.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
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
    attrs: dict


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield attrs
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, attrs))

    def wrap(self, name: str, fn, on_result=None):
        """``fn`` run inside a span; ``on_result(attrs, result)`` may add
        counts to the span."""
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as attrs:
                result = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(attrs, result)
                return result
        return traced

    def since(self, t0: float) -> list[Span]:
        with self._lock:
            return [s for s in self.spans if s.start >= t0]

    def dump(self, path: str) -> None:
        with self._lock, open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def total(spans: list[Span], name: str) -> float:
    return sum(s.end - s.start for s in spans if s.name == name)


def self_time(spans: list[Span], name: str) -> float:
    """Duration of the ``name`` spans minus the time their direct children
    cover (children of one span run one after another on its thread)."""
    ids = {s.id for s in spans if s.name == name}
    child = sum(s.end - s.start for s in spans if s.parent in ids)
    return total(spans, name) - child


@contextlib.contextmanager
def patched(patches):
    """Temporarily replace attributes: ``patches`` is a list of
    (owner, attribute name, replacement)."""
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in patches]
    try:
        for owner, attr, new in patches:
            setattr(owner, attr, new)
        yield
    finally:
        for owner, attr, old in reversed(saved):
            setattr(owner, attr, old)

"""In-memory spans around the engine's public calls.

A span has a name, start, end, parent span, operation id and the Spark
job group it set while it ran, so status-store metrics can be charged to
it. Spans are kept in a list and written out once, at the end of a run.
Each thread has its own span stack; a span opened with an empty stack
hangs under the tracer's current ``root`` (the pass being timed). A span
without an explicit operation id takes its parent's, or else the
thread's current one (``Tracer.op``).
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

_GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    span_id: int
    name: str
    op: str
    parent: int | None
    start: float
    end: float
    group: str
    error: str | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.root: int | None = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @property
    def op(self) -> str:
        return getattr(self._local, "op", "")

    @op.setter
    def op(self, value: str) -> None:
        self._local.op = value

    @contextmanager
    def span(self, name: str, op: str | None = None):
        stack = self._stack()
        with self._lock:
            span_id = next(self._ids)
        parent = stack[-1].span_id if stack else self.root
        if op is None:
            op = stack[-1].op if stack else self.op
        span = Span(span_id, name, op, parent, time.time(), 0.0, f"pb{span_id}")
        prev_group = self.sc.getLocalProperty(_GROUP_KEY)
        self.sc.setLocalProperty(_GROUP_KEY, span.group)
        stack.append(span)
        try:
            yield span
        except BaseException as e:
            span.error = type(e).__name__
            raise
        finally:
            span.end = time.time()
            stack.pop()
            self.sc.setLocalProperty(_GROUP_KEY, prev_group)
            with self._lock:
                self.spans.append(span)

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a spanned call until ``unwrap``."""
        inner = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return inner(*args, **kwargs)

        self._patches.append((module, attr, inner))
        setattr(module, attr, traced)

    def unwrap(self) -> None:
        while self._patches:
            module, attr, inner = self._patches.pop()
            setattr(module, attr, inner)

    @contextmanager
    def pass_span(self, op: str):
        """The root span of one traced pass: spans opened on any thread
        with an empty stack hang under it until it closes."""
        with self.span("pass", op=op) as root:
            self.root = root.span_id
            try:
                yield root
            finally:
                self.root = None

    def descendants(self, span_id: int) -> list[Span]:
        by_parent: dict[int | None, list[Span]] = {}
        for s in self.spans:
            by_parent.setdefault(s.parent, []).append(s)
        out, todo = [], [span_id]
        while todo:
            kids = by_parent.get(todo.pop(), [])
            out.extend(kids)
            todo.extend(k.span_id for k in kids)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.span_id):
                f.write(json.dumps(asdict(s)) + "\n")

"""In-memory spans around the engine's public layer functions.

The benchmark patches the public functions of each layer (class methods
and module functions) with wrappers that record a span: name, start,
end, parent span and op id. Nothing in the engine package changes; the
patches are installed for a traced op and removed after it, so untraced
ops in the same process run the original functions.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager


class Span:
    __slots__ = ("id", "name", "start", "end", "parent", "op", "error", "attrs")

    def __init__(self, id, name, start, parent, op, attrs=None):
        self.id = id
        self.name = name
        self.start = start
        self.end = start
        self.parent = parent
        self.op = op
        self.error = None
        self.attrs = attrs or {}

    @property
    def dur(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        d = {
            "id": self.id,
            "name": self.name,
            "start": self.start,
            "end": self.end,
            "parent": self.parent,
            "op": self.op,
        }
        if self.error:
            d["error"] = self.error
        if self.attrs:
            d["attrs"] = self.attrs
        return d


class Tracer:
    """Collects spans from one client thread."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple] = []
        self._installed = False
        self.op_id: int | None = None
        # perf_counter -> epoch seconds, for joining with Spark's event log
        self.epoch_offset = time.time() - time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, time.perf_counter(), parent, self.op_id, attrs)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        except BaseException as e:
            s.error = type(e).__name__
            raise
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def patch(self, owner, attr: str, name: str) -> None:
        """Register ``owner.attr`` (a class or module attribute) to be
        wrapped with a span called ``name`` while installed."""
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return original(*args, **kwargs)

        self._patches.append((owner, attr, original, wrapper))

    def install(self) -> None:
        if not self._installed:
            for owner, attr, _orig, wrapper in self._patches:
                setattr(owner, attr, wrapper)
            self._installed = True

    def uninstall(self) -> None:
        if self._installed:
            for owner, attr, orig, _wrapper in reversed(self._patches):
                setattr(owner, attr, orig)
            self._installed = False

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.as_dict() for s in self.spans], f)


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
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


def self_times(spans) -> dict[int, float]:
    """Span id -> duration minus the part of it its child spans cover."""
    children: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = union_length(
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.id, ())
            if c.end > s.start and c.start < s.end
        )
        out[s.id] = s.dur - covered
    return out


def descendants(spans, root_id: int) -> list:
    """Every span below ``root_id``."""
    children: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out, todo = [], [root_id]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c.id)
    return out

"""In-memory spans around the calls into each layer, and self time.

A span has a name, a start, an end, a parent and an op id.  Spans are
kept in a list and written out when the run ends.  The benchmark opens
them from its own files, by replacing the package's functions with
wrappers (``patch``); nothing inside the package is edited.
"""

from __future__ import annotations

import functools
import sys
import threading
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float | None
    parent: int | None
    op: int | None


class Tracer:
    """Collects spans.  Spans nest per thread; a span opened on a thread
    with no open span (a streaming ``foreachBatch`` callback) hangs off
    the current op's root span."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op: int | None = None
        self.op_root: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        stack = self._stack()
        parent = stack[-1] if stack else self.op_root
        with self._lock:
            sp = Span(len(self.spans), name, time.perf_counter(), None, parent, self.op)
            self.spans.append(sp)
        stack.append(sp.sid)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()

    @contextmanager
    def op_span(self, op: int) -> Iterator[Span]:
        """The root span of one timed op; every span opened inside it
        (on any thread) carries ``op``."""
        self.op = op
        with self.span("op") as sp:
            self.op_root = sp.sid
            try:
                yield sp
            finally:
                self.op_root = None
                self.op = None

    def wrap(self, name: str, fn: Callable) -> Callable:
        """``fn`` with every call inside a span named ``name``."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover.

    Children may overlap each other (threads) and may start before or
    end after their parent; only the covered part inside the parent's
    interval is subtracted, and overlapping children count once."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[int, float] = {}
    for s in spans:
        end = s.end if s.end is not None else s.start
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s.sid, ()), key=lambda c: c.start):
            lo = max(c.start, s.start)
            hi = min(c.end if c.end is not None else c.start, end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.sid] = (end - s.start) - covered
    return out


def patch(prefix: str, original: object, replacement: object) -> list[tuple[object, str, object]]:
    """Rebind ``original`` to ``replacement`` in every loaded module
    whose name starts with ``prefix`` -- every ``from x import f``
    binding as well as the defining module.  Returns what ``unpatch``
    needs to undo it."""
    undo = []
    for name, mod in list(sys.modules.items()):
        if mod is None or not name.startswith(prefix):
            continue
        for attr, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, attr, replacement)
                undo.append((mod, attr, original))
    return undo


def unpatch(undo: list[tuple[object, str, object]]) -> None:
    for owner, attr, val in reversed(undo):
        setattr(owner, attr, val)

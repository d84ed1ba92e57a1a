"""Spans recorded around calls into the program's public functions.

A span has a name, a start, an end, a parent and the query execution
it belongs to.  Spans are kept in memory and written out at exit.
Wrappers are installed on classes and modules from outside the
program: nothing under the program's package is edited.
"""

from __future__ import annotations

import functools
import sys
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    exec_id: str
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its
    direct children cover (children may overlap one another)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_s, cur_e = 0.0, None, None
        for c in sorted(kids.get(s.sid, ()), key=lambda c: c.start):
            cs, ce = max(c.start, s.start), min(c.end, s.end)
            if ce <= cs:
                continue
            if cur_e is None or cs > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = cs, ce
            else:
                cur_e = max(cur_e, ce)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s.sid] = s.dur - covered
    return out


@dataclass
class Tracer:
    """Single-threaded span recorder.  ``exec_id`` names the query
    execution in progress ("" outside any query)."""

    clock: Callable[[], float] = time.time  # epoch seconds, as in the event log
    spans: list[Span] = field(default_factory=list)
    stack: list[Span] = field(default_factory=list)
    exec_id: str = ""
    overhead_s: float = 0.0  # time spent in the tracer's own bookkeeping

    def open(self, name: str) -> Span:
        t0 = self.clock()
        parent = self.stack[-1].sid if self.stack else None
        s = Span(len(self.spans), name, parent, self.exec_id, 0.0)
        self.spans.append(s)
        self.stack.append(s)
        s.start = self.clock()
        self.overhead_s += s.start - t0
        return s

    def close(self, s: Span) -> None:
        s.end = self.clock()
        # tolerate a wrapped call that raised past an inner span
        while self.stack and self.stack[-1] is not s:
            inner = self.stack.pop()
            inner.end = inner.end or s.end
        if self.stack:
            self.stack.pop()
        self.overhead_s += self.clock() - s.end

    @contextmanager
    def span(self, name: str):
        s = self.open(name)
        try:
            yield s
        finally:
            self.close(s)

    def inside(self, *names: str) -> bool:
        return any(s.name in names for s in self.stack)

    def wrap(self, fn, name: str, when=None):
        """``fn`` wrapped so each call records a span named ``name``
        (or the name ``name(args)`` returns), unless ``when`` says no."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if when is not None and not when(*args):
                return fn(*args, **kwargs)
            label = name(*args) if callable(name) else name
            s = self.open(label)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(s)

        wrapper.__wrapped_original__ = fn
        return wrapper


def patch_attr(owner, attr: str, wrapper_of) -> None:
    """Replace ``owner.attr`` with ``wrapper_of(original)``."""
    setattr(owner, attr, wrapper_of(getattr(owner, attr)))


def patch_function(package: str, module: str, name: str, wrapper_of) -> None:
    """Wrap a module-level function everywhere it is bound: in its own
    module and in every loaded module of ``package`` that imported it
    by name, so callers that resolve it through their own globals see
    the wrapper too."""
    original = getattr(sys.modules[module], name)
    wrapped = wrapper_of(original)
    for mname, mod in list(sys.modules.items()):
        if mod is None or not (mname == package or mname.startswith(package + ".")):
            continue
        if getattr(mod, name, None) is original:
            setattr(mod, name, wrapped)

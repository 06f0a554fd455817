"""In-memory spans around calls into the engine's layers.

A :class:`Tracer` records one span per call: name, start, end, parent
span and the op it belongs to. :meth:`Tracer.instrument` wraps public
functions of the engine for the length of a traced run, replacing every
reference the engine's modules hold to them, and restores the originals
on exit; nothing is wrapped in an untraced run.
"""

from __future__ import annotations

import contextlib
import functools
import sys
import time
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0


class Tracer:
    """Spans of one run. A disabled tracer records nothing. ``op`` is the
    index of the op being run, -1 outside ops (set-up, checks)."""

    def __init__(self, enabled: bool = True) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op = -1

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, self.op, parent, time.time()))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    @contextlib.contextmanager
    def instrument(self, package: str, layers: dict[str, list]):
        """Wrap each function in ``layers`` (span name -> functions)
        wherever a module of ``package`` refers to it by name."""
        by_id = {id(fn): (fn, name) for name, fns in layers.items() for fn in fns}
        patched = []
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == package or mod_name.startswith(package + ".")):
                continue
            for attr, value in list(vars(mod).items()):
                hit = by_id.get(id(value))
                if hit is not None:
                    setattr(mod, attr, self.wrap(hit[0], hit[1]))
                    patched.append((mod, attr, value))
        try:
            yield
        finally:
            for mod, attr, value in patched:
                setattr(mod, attr, value)

    def self_times(self) -> tuple[dict[str, float], dict[str, int]]:
        """Per span name, over spans inside ops: summed self time
        (duration minus the time its direct children cover; calls are
        sequential, so children never overlap) and number of calls."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        seconds: dict[str, float] = defaultdict(float)
        calls: dict[str, int] = defaultdict(int)
        for i, s in enumerate(self.spans):
            if s.op < 0:
                continue
            seconds[s.name] += (s.end - s.start) - child[i]
            calls[s.name] += 1
        return dict(seconds), dict(calls)

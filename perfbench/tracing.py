"""In-memory spans around calls into the library's layers.

A span is (name, start, end, parent).  The benchmark opens one root span
per measured phase; every library call it makes inside that phase is
wrapped in a child span named ``<layer>.<method>``, and calls the library
makes back into another wrapped object nest under it.  A layer's self
time is its spans' duration minus the part covered by their children, so
the self times of all spans plus the root's own self time (the
benchmark's residual) add up to the phase's wall time.

With tracing off, ``NullTracer.wrap`` hands back the object unchanged, so
an untraced run executes exactly the calls a user would make.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time
from collections import defaultdict

_clock = time.perf_counter


class Tracer:
    enabled = True

    def __init__(self) -> None:
        self.spans: list[list] = []  # [name, start, end, parent_index]
        self._local = threading.local()

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else -1
        idx = len(self.spans)
        self.spans.append([name, _clock(), None, parent])
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx][2] = _clock()

    def wrap(self, obj, layer: str, methods: tuple[str, ...]):
        return _Traced(obj, self, layer, frozenset(methods))

    # -- summaries ---------------------------------------------------------
    def durations(self, name: str) -> list[float]:
        return [s[2] - s[1] for s in self.spans if s[0] == name and s[2] is not None]

    def self_times(self, root: int) -> dict[str, float]:
        """Self seconds per span name under the root span index `root`
        (the root's own self time is reported under its name)."""
        child_total: dict[int, float] = defaultdict(float)
        inside = {root}
        for i, (_name, start, end, parent) in enumerate(self.spans):
            if i != root and parent in inside and end is not None:
                inside.add(i)
                child_total[parent] += end - start
        out: dict[str, float] = defaultdict(float)
        for i in sorted(inside):
            name, start, end, _parent = self.spans[i]
            out[name] += (end - start) - child_total[i]
        return dict(out)

    def root_index(self, name: str) -> int:
        for i, s in enumerate(self.spans):
            if s[0] == name and s[3] == -1:
                return i
        raise KeyError(name)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for name, start, end, parent in self.spans:
                fh.write(json.dumps(
                    {"name": name, "start": start, "end": end, "parent": parent}
                ) + "\n")


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str):
        yield

    def wrap(self, obj, layer, methods):
        return obj


class _Traced:
    """Attribute proxy that times the listed methods of `obj`."""

    def __init__(self, obj, tracer: Tracer, layer: str, methods: frozenset):
        self._obj, self._tracer, self._layer, self._methods = obj, tracer, layer, methods

    def __getattr__(self, name):
        attr = getattr(self._obj, name)
        if name not in self._methods:
            return attr
        tracer, span_name = self._tracer, f"{self._layer}.{name}"

        def timed(*args, **kwargs):
            with tracer.span(span_name):
                return attr(*args, **kwargs)

        return timed

"""In-memory spans, written out when the run ends.

A span is (id, request id, name, start, end, parent). The tracer is only
created for a traced run; an untraced run uses NO_TRACE, whose span()
is a bare yield, so end-to-end numbers carry no tracing cost.
"""

from __future__ import annotations

import contextlib
import functools
import time


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.request: int | None = None
        self.overhead_s = 0.0  # time spent in tracer bookkeeping

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid, "request": self.request, "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None, **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, fn, name: str):
        """``fn`` with a span around every call (for patching the name a
        program module imported)."""

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        return traced


class _NoTrace:
    request = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield {}


NO_TRACE = _NoTrace()


@contextlib.contextmanager
def patched(module, attr: str, tracer, name: str):
    """Replace ``module.attr`` by a traced wrapper for the duration."""
    orig = getattr(module, attr)
    setattr(module, attr, tracer.wrap(orig, name))
    try:
        yield
    finally:
        setattr(module, attr, orig)

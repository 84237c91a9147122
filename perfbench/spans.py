"""Outside-in span recorder.

Wrappers are installed from the benchmark's own files around the calls
into each layer of the program, at the name each caller looks the
callee up by (``search.py`` binds ``decode_columnar`` into its own
namespace, so the wrapper goes on ``operators.search.decode_columnar``,
not on ``functions.postings``).  Spans stay in memory and are written
to JSON when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import defaultdict

_MISSING = object()


class Tracer:
    """Records ``(name, start, end, parent, request, items)`` spans.

    ``parent`` is the index of the enclosing span (-1 for none),
    ``request`` the id the benchmark set for the operation in flight
    (``"<phase>:<n>"``), ``items`` an optional count the wrapper's
    ``count`` function took from the result (rows read, for example).
    """

    def __init__(self):
        self.spans: list = []
        self.request: str | None = None
        self._stack: list[int] = []
        self._patches: list = []

    @contextlib.contextmanager
    def span(self, name: str):
        """Record the enclosed block as one span; yields a one-slot list
        the block may set to the span's item count."""
        idx = len(self.spans)
        self.spans.append(None)
        parent = self._stack[-1] if self._stack else -1
        self._stack.append(idx)
        items = [None]
        t0 = time.perf_counter()
        try:
            yield items
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans[idx] = (name, t0, t1, parent, self.request, items[0])

    def wrap(self, owner, attr: str, name: str, count=None) -> None:
        """Replace ``owner.attr`` by a recording wrapper; ``count`` maps
        the result to the span's item count."""
        raw = vars(owner).get(attr, _MISSING)
        target = getattr(owner, attr) if raw is _MISSING else raw
        static = isinstance(target, staticmethod)
        orig = target.__func__ if static else target
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as items:
                res = orig(*args, **kwargs)
                if count is not None:
                    items[0] = count(res)
                return res

        setattr(owner, attr, staticmethod(wrapper) if static else wrapper)
        self._patches.append((owner, attr, raw))

    def restore(self) -> None:
        for owner, attr, raw in reversed(self._patches):
            if raw is _MISSING:
                delattr(owner, attr)
            else:
                setattr(owner, attr, raw)
        self._patches.clear()

    def phase_of(self, span) -> str:
        return (span[4] or "").split(":")[0]

    def summary(self, phase: str) -> dict:
        """Per span name within ``phase``: calls, total ms, self ms
        (duration minus the part covered by direct children) and items."""
        child_s = defaultdict(float)
        for name, t0, t1, parent, _, _ in self.spans:
            if parent >= 0:
                child_s[parent] += t1 - t0
        out: dict = defaultdict(lambda: {"calls": 0, "ms": 0.0,
                                         "self_ms": 0.0, "items": 0})
        for i, span in enumerate(self.spans):
            if self.phase_of(span) != phase:
                continue
            name, t0, t1, _, _, items = span
            s = out[name]
            s["calls"] += 1
            s["ms"] += (t1 - t0) * 1e3
            s["self_ms"] += (t1 - t0 - child_s[i]) * 1e3
            s["items"] += items or 0
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([{"name": n, "start": t0, "end": t1, "parent": p,
                        "request": r, "items": it}
                       for n, t0, t1, p, r, it in self.spans], fh)

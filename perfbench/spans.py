"""In-memory spans and counters recorded from the benchmark's own
files, around calls into each module's public functions.

The traced run patches module attributes (the names the calling module
looks up at call time) with timing wrappers, and restores them when the
traced unit ends, so untraced units run the program unmodified.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple] = []
        self.unit = 0

    # ---------------------------------------------------------------- spans
    @contextmanager
    def span(self, name: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        root = self._local.root if stack else sid
        if not stack:
            self._local.root = sid
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append({
                    "id": sid, "parent": parent, "request": root,
                    "name": name, "start": t0, "end": t1, "unit": self.unit,
                })

    def count(self, name: str) -> None:
        with self._lock:
            self.counts[(self.unit, name)] += 1

    # -------------------------------------------------------------- patches
    def wrap(self, owner, attr: str, name: str, before=None) -> None:
        """Replace ``owner.attr`` with a wrapper recording span ``name``;
        ``before(*args, **kwargs)`` runs first, inside the span."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name):
                if before is not None:
                    before(*args, **kwargs)
                return orig(*args, **kwargs)

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ------------------------------------------------------------- summaries
    def per_unit_ms(self, name: str, units) -> list[float]:
        """Total duration of span ``name`` in each of ``units``, in ms."""
        tot = defaultdict(float)
        for s in self.spans:
            if s["name"] == name:
                tot[s["unit"]] += (s["end"] - s["start"]) * 1000.0
        return [tot[u] for u in units]

    def per_unit_count(self, name: str, units) -> list[int]:
        return [self.counts[(u, name)] for u in units]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")

"""One memo for driver-side plan construction: the frames of
``tables.py``, the PromQL series adapter, compiled PromQL plans
(``memo``) and kernel expression trees (``memo_expr``). Building them
costs driver time that does not grow with the data: a parquet read
lists and infers (100-300 ms), a PromQL compile makes 0.15-0.5 s of
py4j round trips.

- Plans and expression trees only, never rows or results: every action
  scans its inputs again, and an executed plan is handed out as a fresh
  Dataset (``select("*")``), so AQE cannot reuse an earlier run's
  shuffle stages.
- A build that picks its plan by a data probe runs it through
  :func:`record_probe`; a hit must :func:`replay` the whole trace that
  :func:`traced` recorded before it serves the plan. The trace is a
  ``ContextVar``: request threads never see each other's probes, and a
  nested build's probes or replays join the enclosing build's trace.
- Keys start with the live py4j gateway object (not its ``id()``, which
  a new gateway can reuse); a new gateway drops every old entry, and
  session-bound keys hold the SparkSession. One LRU bound, :data:`CAP`,
  under one lock; builds run outside it (two threads that miss together
  both build, the later one is kept).
- A compiled PromQL plan is keyed by its series frame object. A frame
  holds the file listing it was read with, so a request that must see
  the latest commit builds a new frame, and misses. Keying instead on
  what the frame reads (canonical plan + file listing) hit on an
  unchanged store only: under live ingest and rollup ticks, or with a
  range that slides with ``now``, no refresh hit.
"""

from __future__ import annotations

import functools
import threading
from collections import OrderedDict
from contextvars import ContextVar

from pyspark import SparkContext

CAP = 1024

_LOCK = threading.Lock()
_ENTRIES: OrderedDict = OrderedDict()
_OWNER: list = [None]  # the gateway the entries belong to
_TRACE: ContextVar = ContextVar("plan_memo_trace", default=None)


def get(key: tuple):
    k = (SparkContext._gateway, *key)
    with _LOCK:
        value = _ENTRIES.get(k)
        if value is not None:
            _ENTRIES.move_to_end(k)
    return value


def put(key: tuple, value) -> None:
    gateway = SparkContext._gateway
    with _LOCK:
        if _OWNER[0] is not gateway:
            _ENTRIES.clear()
            _OWNER[0] = gateway
        _ENTRIES[(gateway, *key)] = value
        _ENTRIES.move_to_end((gateway, *key))
        while len(_ENTRIES) > CAP:
            _ENTRIES.popitem(last=False)


def memo(key: tuple, build):
    """``get(key)``, or ``build()`` stored under ``key`` on a miss."""
    value = get(key)
    if value is None:
        value = build()
        put(key, value)
    return value


def memo_expr(fn):
    """Memoize an expression-tree builder by its hashable arguments (a
    live Column argument falls through). The tree is shared: return
    tuples, not lists, so no caller can mutate it."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        key = ("expr", fn, args, tuple(sorted(kwargs.items())))
        try:
            hash(key)
        except TypeError:
            return fn(*args, **kwargs)
        return memo(key, lambda: fn(*args, **kwargs))

    return wrapper


def record_probe(run, counter: list):
    """Run the data probe ``run()``; trace it with its answer."""
    result = run()
    with _LOCK:
        counter[0] += 1
    trace = _TRACE.get()
    if trace is not None:
        trace.append((run, result))
    return result


def traced(build):
    """``(build(), the probes it ran)``."""
    trace: list = []
    token = _TRACE.set(trace)
    try:
        value = build()
    finally:
        _TRACE.reset(token)
    _join_outer(trace)
    return value, tuple(trace)


def replay(trace: tuple, counter: list) -> bool:
    """Re-run every recorded probe; True if each answers as recorded."""
    with _LOCK:
        counter[0] += len(trace)
    if not all(run() == expected for run, expected in trace):
        return False
    _join_outer(trace)
    return True


def _join_outer(trace) -> None:
    outer = _TRACE.get()
    if outer is not None:
        outer.extend(trace)

"""Per-process cache for static Column expression trees.

Building a Column tree is driver-side py4j traffic — ~0.5-1 ms per call
adds up to whole seconds for wide select-lists built per pipeline per
refresh (r13 measured the bronze extractor lists at ~4.6 s/call, the r14
profile puts the gold fact/asof lists at 0.4-0.5 s/call warm).  Columns
are unresolved expression trees: immutable, never bound to a DataFrame,
safe to reuse across plans and sessions of one JVM gateway.

Entries are keyed by (caller key, applicationId).  On every lookup,
entries from OTHER applicationIds are evicted: a stopped SparkContext's
Column handles point into a dead gateway and would otherwise accumulate
unboundedly in long-lived processes that restart Spark (test suites).
"""

from __future__ import annotations

from typing import Callable, TypeVar

T = TypeVar("T")

_CACHE: dict[tuple, object] = {}


def cached_cols(key: tuple, build: Callable[[], T]) -> T:
    """Return build() memoized per (key, live applicationId)."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    app = sc.applicationId if sc is not None else ""
    full = (key, app)
    got = _CACHE.get(full)
    if got is None:
        # list() snapshots the keys in one step, and pop() tolerates a
        # key another thread evicted first: pool threads share this dict
        for stale in [k for k in list(_CACHE) if k[1] != app]:
            _CACHE.pop(stale, None)
        got = build()
        _CACHE[full] = got
    return got

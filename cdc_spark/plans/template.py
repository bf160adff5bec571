"""Plan templates: per-epoch Column trees built once and reused.

An unresolved Column is an expression tree in the JVM that no DataFrame
owns, so one tree serves every epoch's plan. Building it costs a Py4J
round trip per node — thousands per epoch for normalize, the dedupe and
the projections, which at small epochs is the largest fixed cost of an
epoch — while reusing it costs none.

`template(key, build)` returns `build()`'s result, built once per live
SparkContext and `key` (the shape the tree depends on: kept columns,
registry fingerprint, probe flags). A new SparkContext, and so any new
JVM, starts from an empty cache: no handle built for an older one is
ever handed out. Builds run under one lock, so the replay look-ahead
thread and the applying thread share the cache safely.
"""

from __future__ import annotations

import threading
from typing import Callable, Hashable, TypeVar

from pyspark import SparkContext

_V = TypeVar("_V")

_LOCK = threading.RLock()
_CACHE: dict = {}
#: the SparkContext the cached handles belong to (held, so its identity
#: can never be reused by a later context)
_OWNER: SparkContext | None = None


def template(key: Hashable, build: Callable[[], _V]) -> _V:
    """`build()`'s Column tree(s) for `key`, built once per live
    SparkContext. Callers must put everything the tree depends on into
    `key`; the result is shared, so it must not be mutated."""
    global _OWNER
    sc = SparkContext._active_spark_context
    with _LOCK:
        if _OWNER is not sc:
            _CACHE.clear()
            _OWNER = sc
        if key not in _CACHE:
            _CACHE[key] = build()
        return _CACHE[key]

"""Tracked persist() for intra-query caches.

The dedup / near-dup self-joins persist their signature tables so both
join sides share one computation. Those caches are query-scoped, not
session-scoped: a long-lived driver session running many queries
(bench, the contract checker) would otherwise accumulate them until LRU
eviction. Operators call :func:`track_persist` instead of ``persist()``
and harness code calls :func:`release_persisted` after each action.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame

_LOG = logging.getLogger(__name__)

_PERSISTED: list[DataFrame] = []


def track_persist(df: DataFrame) -> DataFrame:
    """persist() a DataFrame and register it for later release."""
    df = df.persist()
    _PERSISTED.append(df)
    return df


def release_persisted() -> int:
    """Unpersist every tracked cache; returns how many were released.

    Safe to call at any time — releasing a cache only drops the stored
    blocks; a still-referenced plan recomputes instead of failing. A
    release that fails (e.g. the session already stopped) logs at
    WARNING with its traceback and the rest are still released.
    """
    n = 0
    while _PERSISTED:
        df = _PERSISTED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            _LOG.warning("releasing a tracked cache failed", exc_info=True)
    return n

"""caching.release_persisted: every tracked cache is released, and a
release that fails is logged, never swallowed."""

from __future__ import annotations

import logging

from cdc_spark import caching


class _Frame:
    """Stands in for a DataFrame: persist() is itself, unpersist() may fail."""

    def __init__(self, fail: bool):
        self.fail = fail
        self.released = False

    def persist(self):
        return self

    def unpersist(self):
        if self.fail:
            raise RuntimeError("injected unpersist failure")
        self.released = True


def test_release_failure_warns_and_releases_the_rest(caplog):
    frames = [_Frame(False), _Frame(True), _Frame(False)]
    for f in frames:
        assert caching.track_persist(f) is f
    with caplog.at_level(logging.WARNING, logger="cdc_spark"):
        n = caching.release_persisted()
    assert n == 2  # only successes count
    assert frames[0].released and frames[2].released
    warned = [r for r in caplog.records
              if r.name == "cdc_spark.caching" and r.levelno == logging.WARNING]
    assert len(warned) == 1
    assert "injected unpersist failure" in str(warned[0].exc_info[1])
    assert caching.release_persisted() == 0  # nothing left tracked

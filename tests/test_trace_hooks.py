"""perfbench's `--trace 1` wraps engine functions by name
(`perfbench/workloads.py::install_trace`). A rename or deletion of any
of them would otherwise surface only as an AttributeError in a traced
benchmark run; installing and removing the hooks needs no Spark session."""

from __future__ import annotations

import pathlib

_PERFBENCH = pathlib.Path(__file__).resolve().parents[1] / "perfbench"


def test_perfbench_trace_hooks_install_and_restore(monkeypatch):
    monkeypatch.syspath_prepend(str(_PERFBENCH))
    import tracing
    import workloads

    from cdc_spark.operators import fetch
    from cdc_spark.streaming import pipeline

    before = (pipeline.apply_batch, fetch.build_fetch_delta)
    rec = tracing.Recorder(None)
    workloads.install_trace(rec)
    try:
        assert pipeline.apply_batch is not before[0]
    finally:
        rec.restore()
    assert (pipeline.apply_batch, fetch.build_fetch_delta) == before

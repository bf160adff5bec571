"""Self-tests of the benchmark's own arithmetic (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from digest import rows_digest  # noqa: E402
from stats import dir_bytes, percentile  # noqa: E402
from tracing import Recorder, epoch_of_paths, overlap, self_times  # noqa: E402


# -- percentile ---------------------------------------------------------------

def test_percentile_reports_value_sample_count_and_beyond_count():
    xs = list(range(20, 0, -1))  # 1..20, unsorted
    assert percentile(xs, 50) == {"value": 10, "n": 20, "beyond": 10}
    assert percentile(xs, 90) == {"value": 18, "n": 20, "beyond": 2}
    assert percentile(xs, 100) == {"value": 20, "n": 20, "beyond": 0}


def test_percentile_needs_110_samples_for_ten_beyond_p90():
    assert percentile(list(range(100)), 90)["beyond"] == 10
    assert percentile(list(range(99)), 90)["beyond"] < 10


def test_percentile_edge_cases():
    assert percentile([], 50) == {"value": None, "n": 0, "beyond": 0}
    assert percentile([3.5], 90) == {"value": 3.5, "n": 1, "beyond": 0}
    with pytest.raises(ValueError):
        percentile([1, 2], 0)


# -- spans --------------------------------------------------------------------

def _span(sid, parent, start, end, thread=1, name="x"):
    return {"id": sid, "parent": parent, "start": start, "end": end, "thread": thread,
            "name": name, "epoch": None}


def test_self_time_subtracts_direct_children_only():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 4.0, 8.0),
        _span(3, 2, 5.0, 6.0),
        _span(4, None, 2.0, 9.0, thread=2),  # another thread's root
    ]
    st = self_times(spans)
    assert st == {0: 4.0, 1: 2.0, 2: 3.0, 3: 1.0, 4: 7.0}
    # one thread's self times add up to its root span
    assert st[0] + st[1] + st[2] + st[3] == pytest.approx(10.0)


def test_overlap_merges_each_side_first():
    a = [(0.0, 2.0), (1.0, 4.0), (6.0, 8.0)]
    b = [(3.0, 7.0)]
    assert overlap(a, b) == pytest.approx(2.0)
    assert overlap(a, []) == 0.0


class FakeSC:
    def __init__(self):
        self.props = {}
        self.calls = []

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setLocalProperty(self, key, value):
        self.calls.append(value)
        if value is None:
            self.props.pop(key, None)
        else:
            self.props[key] = value


class Mod:
    @staticmethod
    def apply(spark, table, batch, epoch):
        return Mod.inner()

    @staticmethod
    def inner():
        return "done"


def test_recorder_nests_spans_inherits_epoch_and_restores_job_group():
    sc = FakeSC()
    sc.props["spark.jobGroup.id"] = "outer"
    rec = Recorder(sc, clock=iter(range(100)).__next__)
    orig = Mod.apply
    rec.patch(Mod, "apply", "pipeline.apply_batch", jobs=True, epoch_arg=3)
    rec.patch(Mod, "inner", "normalize.normalize")
    assert Mod.apply(None, None, None, 7) == "done"
    rec.restore()
    assert Mod.apply is orig
    outer, = [s for s in rec.spans if s["name"] == "pipeline.apply_batch"]
    inner, = [s for s in rec.spans if s["name"] == "normalize.normalize"]
    assert inner["parent"] == outer["id"] and inner["epoch"] == 7 == outer["epoch"]
    assert sc.calls == [f"pb{outer['id']}", "outer"]  # tagged, then put back
    assert sc.props["spark.jobGroup.id"] == "outer"


def test_recorder_records_a_failing_call_and_reraises():
    rec = Recorder(None)

    def boom():
        raise KeyError("x")

    with pytest.raises(KeyError):
        rec.wrap(boom, "target.state")()
    assert rec.spans[0]["error"] == "KeyError" and rec.spans[0]["end"] is not None


def test_epoch_of_segment_paths():
    assert epoch_of_paths(["/f/segment-00012-p00003.parquet"]) == 12
    assert epoch_of_paths("/f/segment-00004.parquet") == 4
    assert epoch_of_paths(["/f/other.parquet"]) is None


def test_layer_metrics_emit_exactly_the_declared_names():
    spans = [
        {**_span(0, None, 0.0, 2.0, name="pipeline.apply_batch"), "epoch": 0},
        {**_span(1, 0, 0.5, 1.5, name="target.commit_delta"), "kind": "delta"},
        {**_span(2, None, 2.0, 3.0, name="pipeline.apply_batch"), "epoch": 1},
        {**_span(3, 2, 2.1, 2.9, name="target.commit_delta"), "kind": "compact"},
        _span(4, None, 1.0, 3.5, thread=2, name="fetch.prepare_fetch_epoch"),
    ]
    groups = {"pb1": {"jobs": 2, "run_ms": 1500}, None: {"jobs": 1, "run_ms": 500}}
    m = workloads.layer_metrics(spans, 4.0, 2, groups, {})
    assert set(m) == set(workloads.PER_LAYER)
    assert m["pipeline.driver_other_s"] == pytest.approx(1.0)
    assert m["pipeline.span_cover_frac"] == pytest.approx(0.75)
    assert m["pipeline.prefetch_overlap_frac"] == pytest.approx(2.0 / 2.5)
    assert m["target.compact_ticks"] == 1
    assert m["spark.jobs_per_epoch"] == 1.5
    assert m["spark.executor_run_s.commit_delta"] == pytest.approx(1.5)
    assert m["spark.executor_run_s.unattributed"] == pytest.approx(0.5)


# -- event log ----------------------------------------------------------------

def _ev(kind, **kw):
    return {"Event": kind, **kw}


SYNTHETIC_LOG = [
    _ev("SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1],
                                    "Properties": {"spark.jobGroup.id": "pb3"}}),
    _ev("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 1, "Stage Attempt ID": 0},
                                          "Properties": {"spark.jobGroup.id": "pb3"}}),
    _ev("SparkListenerStageCompleted", **{"Stage Info": {
        "Stage ID": 1, "Stage Attempt ID": 0, "Number of Tasks": 4, "Submission Time": 1001,
        "Accumulables": [
            {"Name": "internal.metrics.executorRunTime", "Value": 1200},
            {"Name": "internal.metrics.executorCpuTime", "Value": 900_000_000},
            {"Name": "internal.metrics.shuffle.write.bytesWritten", "Value": 2048},
            {"Name": "internal.metrics.shuffle.read.localBytesRead", "Value": 100},
            {"Name": "internal.metrics.shuffle.read.remoteBytesRead", "Value": 28},
            {"Name": "data sent to Python workers", "Value": "4096"},
            {"Name": "number of output rows", "Value": "7"},
        ]}}),
    _ev("SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 5000, "Stage IDs": [2],
                                    "Properties": {}}),
    _ev("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 2, "Stage Attempt ID": 0},
                                          "Properties": {}}),
    _ev("SparkListenerStageCompleted", **{"Stage Info": {
        "Stage ID": 2, "Stage Attempt ID": 0, "Number of Tasks": 1, "Submission Time": 5001,
        "Accumulables": [{"Name": "internal.metrics.executorRunTime", "Value": 30}]}}),
]


def test_eventlog_joins_stages_to_job_groups(tmp_path):
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    (d / "events_1_app").write_text("\n".join(json.dumps(e) for e in SYNTHETIC_LOG) + "\n")
    (d / "appstatus_app").write_text("")
    got = eventlog.summarize(eventlog.read_events(str(tmp_path)))
    assert got["pb3"]["jobs"] == 1 and got["pb3"]["tasks"] == 4
    assert got["pb3"]["run_ms"] == 1200 and got["pb3"]["cpu_ns"] == 900_000_000
    assert got["pb3"]["shuffle_write_bytes"] == 2048
    assert got["pb3"]["shuffle_read_bytes"] == 128
    assert got["pb3"]["py_sent_bytes"] == 4096
    assert got[None]["jobs"] == 1 and got[None]["run_ms"] == 30


def test_eventlog_windows_keep_only_work_submitted_inside():
    got = eventlog.summarize(SYNTHETIC_LOG, windows=[(900, 2000)])
    assert set(got) == {"pb3"}


# -- digests and sizes ---------------------------------------------------------

def test_rows_digest_ignores_row_order_and_sequence_type():
    a = [{"doc_id": "b", "tokens": (1, 2), "x": 1.5}, {"doc_id": "a", "tokens": [3], "x": None}]
    b = [{"x": None, "tokens": [3], "doc_id": "a"}, {"doc_id": "b", "tokens": [1, 2], "x": 1.5}]
    assert rows_digest({"t": a}) == rows_digest({"t": b})
    assert rows_digest({"t": a}) != rows_digest({"u": a})
    b[1]["x"] = 2.5
    assert rows_digest({"t": a}) != rows_digest({"t": b})


def test_dir_bytes_counts_hard_links_once(tmp_path):
    (tmp_path / "a").write_bytes(b"x" * 100)
    os.link(tmp_path / "a", tmp_path / "b")
    (tmp_path / "c").write_bytes(b"y" * 10)
    assert dir_bytes(str(tmp_path)) == 110


# -- BENCHMARK.json matches what the runner emits -------------------------------

def _benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_names_runnable_workloads():
    for w in _benchmark_json()["workloads"]:
        assert w["name"] in workloads.SPECS


def test_benchmark_json_metrics_match_the_runner_with_units():
    spec = _benchmark_json()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == workloads.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == workloads.PER_LAYER


def test_metric_block_refuses_missing_or_undeclared_metrics():
    units = {"a": "s", "b": "count"}
    assert run.metric_block({"a": 1, "b": 2}, units) == {
        "a": {"value": 1.0, "unit": "s"}, "b": {"value": 2.0, "unit": "count"}}
    with pytest.raises(KeyError):
        run.metric_block({"a": 1}, units)
    with pytest.raises(KeyError):
        run.metric_block({"a": 1, "b": 2, "c": 3}, units)

from __future__ import annotations

import gc
import glob
import json
import shutil
import tempfile
import threading
import time
import uuid

import pytest

from cdc_spark import oracle
from cdc_spark.genlog import GenConfig, write_binlog
from cdc_spark.session import get_spark
from cdc_spark.sinks.target import TargetTable


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app="cdc_spark_tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def workdir():
    d = tempfile.mkdtemp(prefix="cdc_tests_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="session")
def small_cfg():
    return GenConfig(n_events=5000, n_docs=400, events_per_epoch=1000, seed=42)


@pytest.fixture(scope="session")
def small_binlog(workdir, small_cfg):
    d = f"{workdir}/binlog_small"
    write_binlog(small_cfg, d)
    return d


def rows_equal(oracle_rows: list[dict], engine_rows: list[dict]) -> list[str]:
    """Order-insensitive per-row comparison; returns list of diffs."""
    orc = {r["doc_id"]: r for r in oracle_rows}
    eng = {r["doc_id"]: r for r in engine_rows}
    diffs = []
    for k in set(orc) | set(eng):
        if k not in orc:
            diffs.append(f"extra row {k}")
            continue
        if k not in eng:
            diffs.append(f"missing row {k}")
            continue
        o, e = orc[k], eng[k]
        for col, ov in o.items():
            ev = e.get(col)
            if col == "tokens":
                ov = list(ov) if ov is not None else None
                ev = list(ev) if ev is not None else None
            if ov != ev:
                diffs.append(f"{k}.{col}: oracle={ov!r} engine={ev!r}")
    return diffs


def jobs_during(spark, fn) -> int:
    """Spark jobs launched by fn(), via the sequential job-id counter:
    the ids strictly between the last job of a probe run before fn()
    and the first job of a probe run after it. Each probe runs in its
    own job group, so its job ids are read from the status tracker
    rather than assumed."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def probe() -> list[int]:
        group = f"job_probe_{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        spark.range(1).count()
        ids = tracker.getJobIdsForGroup(group)
        sc.setJobGroup(None, None)
        return ids

    before = max(probe())
    fn()
    after = min(probe())
    return after - before - 1


def py4j_calls_during(spark, fn) -> int:
    """Py4J round trips the driver makes while fn() runs, counted by
    wrapping the gateway client's send_command (calls from every thread,
    the look-ahead worker's and py4j's own object releases included).
    Releases of objects dropped before fn() are flushed first: py4j
    queues them for a worker thread that sends them up to a second
    later."""
    client = spark.sparkContext._gateway._gateway_client
    gc.collect()
    deadline = time.monotonic() + 30
    while getattr(client, "finalizer_deque", None) and time.monotonic() < deadline:
        time.sleep(0.05)
    real = client.send_command
    n = [0]
    lock = threading.Lock()

    def counted(*args, **kwargs):
        with lock:
            n[0] += 1
        return real(*args, **kwargs)

    client.send_command = counted
    try:
        fn()
    finally:
        client.send_command = real
    return n[0]


def assert_matches_oracle(spark, table, binlog_dir):
    state, reg = oracle.replay(f"{binlog_dir}/segment-*.parquet")
    expected = oracle.final_rows(state, reg)
    actual = [r.asDict() for r in table.read_resolved(spark).collect()]
    diffs = rows_equal(expected, actual)
    assert not diffs, f"{len(diffs)} diffs, first 10: {diffs[:10]}"


def assert_lineage_records(table_dir, target, epochs) -> list[dict]:
    """One `_lineage/epoch-N.json` record per applied epoch, with one
    entry per route (`table` null for a single TargetTable) whose op
    counts sum to that table's journal epoch_stats n_events and whose
    lsn range is the journal's."""
    routes = ({None: target} if isinstance(target, TargetTable)
              else {n: target.get(n) for n in target.names()})
    files = sorted(glob.glob(f"{table_dir}/_lineage/epoch-*.json"))
    records = [json.load(open(f)) for f in files]
    assert [r["epoch"] for r in records] == list(epochs)
    ops = ("n_insert", "n_update", "n_delete", "n_ddl", "n_heartbeat")
    for r in records:
        assert set(r) == {"epoch", "seconds", "tables"} and r["seconds"] > 0
        assert {t["table"] for t in r["tables"]} == set(routes)
        for t in r["tables"]:
            assert set(t) == {"table", "n_events", "min_lsn", "max_lsn", *ops,
                              "snapshot_id"}
            assert t["snapshot_id"]
            stats = routes[t["table"]].epoch_stats(r["epoch"])
            assert sum(t[c] for c in ops) == t["n_events"] == stats["n_events"]
            assert (t["min_lsn"], t["max_lsn"]) == (stats["min_lsn"], stats["max_lsn"])
    return records

from __future__ import annotations

import gc
import shutil
import tempfile
import threading
import time

import pytest

from cdc_spark import oracle
from cdc_spark.genlog import GenConfig, write_binlog
from cdc_spark.session import get_spark


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
    """Spark jobs launched by fn(), via the sequential job-id counter
    (probe jobs bracket the run; their own 2 jobs are subtracted)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def probe() -> int:
        sc.setJobGroup("job_probe", "job_probe")
        spark.range(1).count()
        ids = tracker.getJobIdsForGroup("job_probe")
        sc.setJobGroup(None, None)
        return max(ids)

    before = probe()
    fn()
    after = probe()
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

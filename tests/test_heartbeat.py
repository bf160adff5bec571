"""T10 heartbeat tolerance + K7 unknown-op strictness (reference:
heartbeats dropped Normalizer.java:68-72; unknown ops fail the batch
like the Kudu sink CDCKudu.java:171-173)."""

from __future__ import annotations

import glob

import pyarrow.parquet as pq
import pytest

from cdc_spark.genlog import GenConfig, write_binlog
from cdc_spark.streaming import pipeline
from cdc_spark.streaming.pipeline import apply_batch, read_changes, replay, stream
from cdc_spark.sinks.target import TargetTable
from tests.conftest import assert_lineage_records, assert_matches_oracle

HB_CFG = GenConfig(n_events=4000, n_docs=300, events_per_epoch=1000, p_heartbeat=0.05, seed=42)


@pytest.fixture(scope="module")
def hb_binlog(workdir):
    d = f"{workdir}/binlog_hb"
    write_binlog(HB_CFG, d)
    return d


def test_feed_contains_heartbeats(hb_binlog):
    ops = set()
    for p in glob.glob(f"{hb_binlog}/segment-*.parquet"):
        ops |= set(pq.read_table(p, columns=["op_type"])["op_type"].to_pylist())
    assert "H" in ops


def test_heartbeats_dropped_final_state_matches_oracle(spark, workdir, hb_binlog):
    table = replay(spark, hb_binlog, f"{workdir}/table_hb", lineage=True)
    assert_matches_oracle(spark, table, hb_binlog)
    # heartbeat counts surface in lineage, not in the table
    import json

    lineage_files = glob.glob(f"{workdir}/table_hb/_lineage/*.json")
    n_hb = sum(
        t["n_heartbeat"] for f in lineage_files for t in json.load(open(f))["tables"]
    )
    assert n_hb > 0


def test_stream_writes_one_lineage_record_per_epoch(spark, workdir, hb_binlog, monkeypatch):
    """`stream` applies every single-table carry epoch through the DDL
    probe and the Observation-folded write (never the grouped probe) and
    writes one lineage record per epoch, heartbeats counted there and
    dropped from the table."""
    calls = {"_probe": 0, "_ddl_probe": 0}
    for name in calls:
        real = getattr(pipeline, name)

        def counted(*args, _real=real, _name=name, **kwargs):
            calls[_name] += 1
            return _real(*args, **kwargs)

        monkeypatch.setattr(pipeline, name, counted)
    tdir = f"{workdir}/table_hb_stream"
    table = stream(spark, hb_binlog, tdir, checkpoint_dir=f"{workdir}/ckpt_hb_stream")
    assert_matches_oracle(spark, table, hb_binlog)
    n_epochs = HB_CFG.n_events // HB_CFG.events_per_epoch
    records = assert_lineage_records(tdir, table, range(n_epochs))
    assert sum(r["tables"][0]["n_heartbeat"] for r in records) > 0
    assert calls == {"_probe": 0, "_ddl_probe": n_epochs}, calls


def test_unknown_op_fails_batch(spark, workdir, small_binlog):
    seg = sorted(glob.glob(f"{small_binlog}/segment-*.parquet"))[0]
    bad = read_changes(spark, seg).withColumn(
        "op_type",
        __import__("pyspark.sql.functions", fromlist=["x"]).lit("X"),
    )
    table = TargetTable(f"{workdir}/table_badop")
    table.create_if_absent()
    with pytest.raises(ValueError, match="unknown op_type"):
        apply_batch(spark, table, bad, epoch=0)

"""Multi-table routing (reference: per-CT-table processing,
CTInputDStream.java:65-99): a 2-table binlog replays into independent
per-table TargetTables — per-table schema evolution (including a drop +
re-add on one table), exactly-once per (table, epoch), golden-checked
per row against the multi-table oracle."""

from __future__ import annotations

import pytest

from cdc_spark import oracle
from cdc_spark.genlog import GenConfig, write_binlog
from cdc_spark.sinks.target import TableRouter
from cdc_spark.streaming.pipeline import replay_multi

from conftest import jobs_during, rows_equal

MT_SCHEDULE = (
    (0.15, "add_column", {"name": "quality", "type": "float"}, 0),
    (0.30, "add_column", {"name": "rating", "type": "int"}, 1),
    (0.50, "rename_column", {"from": "quality", "to": "quality_score"}, 0),
    (0.60, "drop_column", {"name": "rating"}, 1),
    (0.80, "add_column", {"name": "rating", "type": "long"}, 1),
)


@pytest.fixture(scope="module")
def mt_cfg():
    return GenConfig(
        n_events=6000, n_docs=500, events_per_epoch=1500, seed=7,
        tables=("corpus.tokens", "corpus.aux"), ddl_schedule=MT_SCHEDULE,
    )


@pytest.fixture(scope="module")
def mt_binlog(workdir, mt_cfg):
    d = f"{workdir}/binlog_mt"
    write_binlog(mt_cfg, d)
    return d


def _assert_router_matches_oracle(spark, router, binlog_dir, tables):
    by_table = oracle.replay_tables(f"{binlog_dir}/segment-*.parquet")
    assert sorted(by_table) == sorted(tables)
    for name, (state, reg) in by_table.items():
        expected = oracle.final_rows(state, reg)
        actual = [r.asDict() for r in router.get(name).read_resolved(spark).collect()]
        diffs = rows_equal(expected, actual)
        assert not diffs, f"{name}: {len(diffs)} diffs, first 5: {diffs[:5]}"


def test_two_table_replay_matches_oracle(spark, workdir, mt_binlog, mt_cfg):
    router = replay_multi(spark, mt_binlog, f"{workdir}/mt_table")
    _assert_router_matches_oracle(spark, router, mt_binlog, mt_cfg.tables)
    # per-table registries evolved independently (incl. the drop+re-add)
    reg0 = router.get("corpus.tokens").state()["registry"]
    reg1 = router.get("corpus.aux").state()["registry"]
    assert [c["target"] for c in reg0] == ["quality_score"]
    assert [(c["target"], c["type"]) for c in reg1] == [("rating", "long")]


def test_multi_replay_resumes_and_redelivery_noops(spark, workdir, mt_binlog, mt_cfg):
    root = f"{workdir}/mt_resume"
    replay_multi(spark, mt_binlog, root, stop_after=2)
    router = replay_multi(spark, mt_binlog, root)  # resume: 2 no-op + rest
    _assert_router_matches_oracle(spark, router, mt_binlog, mt_cfg.tables)
    versions = {n: router.get(n).state()["version"] for n in router.names()}
    router2 = replay_multi(spark, mt_binlog, root)  # full redelivery: no-op
    for n in router2.names():
        assert router2.get(n).state()["version"] == versions[n]


def test_dropped_column_values_do_not_resurrect(spark, workdir, mt_binlog):
    """Rows of table 1 last updated before the drop must show NULL for
    the re-added `rating` column (drop is data loss by design,
    CDCKudu.java:103-106) — only post-re-add events populate it."""
    router = replay_multi(spark, mt_binlog, f"{workdir}/mt_drop")
    rows = router.get("corpus.aux").read_resolved(spark).collect()
    drop_lsn = int(6000 * 0.60)
    readd_lsn = int(6000 * 0.80)
    stale = [r for r in rows if r["last_lsn"] <= drop_lsn]
    assert stale, "fixture must leave some rows untouched after the drop"
    assert all(r["rating"] is None for r in stale)
    fresh_valued = [
        r for r in rows if r["last_lsn"] > readd_lsn and r["rating"] is not None
    ]
    assert fresh_valued, "some post-re-add rows must carry the new column"


def test_multi_stream_trigger_split_stages_then_applies(spark, workdir, mt_cfg):
    """Multi-table streaming with a trigger limit below the 4 files per
    segment: partial segments must stage (never partially commit any
    table) and converge to the same per-table final state."""
    import os

    from cdc_spark.streaming.pipeline import stream

    d = f"{workdir}/binlog_mt_parts"
    write_binlog(mt_cfg, d, parts=4)
    root = f"{workdir}/mt_stream_split"
    router = stream(
        spark, d, root, checkpoint_dir=f"{workdir}/ckpt_mt_split",
        multi=True, max_files_per_trigger=3,
    )
    _assert_router_matches_oracle(spark, router, d, mt_cfg.tables)
    staging = f"{root}/_staging"
    assert not os.path.isdir(staging) or not os.listdir(staging)


def test_multi_stream_blocks_later_epoch_behind_incomplete_one(spark, workdir, mt_cfg):
    """Round-2 review finding: multi-table streaming must not commit
    epoch e+1 while epoch e is staged-incomplete (cross-epoch DDL order);
    once e completes, both apply in order and match the oracle."""
    import glob
    import os
    import shutil as sh
    import time as _t

    from cdc_spark.streaming.pipeline import stream

    full = f"{workdir}/binlog_mt_block_full"
    write_binlog(mt_cfg, full, parts=4)
    feed = f"{workdir}/feed_mt_block"
    os.makedirs(feed, exist_ok=True)
    sh.copy(f"{full}/_manifest.json", feed)
    for p in sorted(glob.glob(f"{full}/segment-00000-*.parquet"))[:2]:
        sh.copy(p, feed)
    for p in sorted(glob.glob(f"{full}/segment-0000[123]-*.parquet")):
        sh.copy(p, feed)
    root, ckpt = f"{workdir}/mt_block_root", f"{workdir}/ckpt_mt_block"
    router = stream(spark, feed, root, checkpoint_dir=ckpt, multi=True)
    for name in router.names():
        assert router.get(name).max_epoch() is None  # nothing committed
    _t.sleep(1.1)
    for p in sorted(glob.glob(f"{full}/segment-00000-*.parquet"))[2:]:
        sh.copy(p, feed)
    router = stream(spark, feed, root, checkpoint_dir=ckpt, multi=True)
    _assert_router_matches_oracle(spark, router, full, mt_cfg.tables)


def test_jobs_per_epoch_independent_of_table_count(spark, workdir):
    """Round-3 single-pass routing pin: applying one epoch runs the SAME
    number of Spark jobs for 2 routed tables as for 8 — the feed is
    never re-scanned per table (per-table commits are journal-only
    references into one staged write)."""
    from cdc_spark.sources.binlog import list_segments, read_changes
    from cdc_spark.streaming.pipeline import apply_batch

    counts = {}
    for n_tables in (2, 8):
        tables = tuple(f"t{i}.x" for i in range(n_tables))
        d = f"{workdir}/binlog_jobs_{n_tables}"
        write_binlog(
            GenConfig(n_events=2000, n_docs=200, events_per_epoch=2000,
                      seed=23, tables=tables, ddl_schedule=()),
            d,
        )
        router = TableRouter(f"{workdir}/jobs_root_{n_tables}")
        batch = read_changes(spark, list_segments(d)[0])
        counts[n_tables] = jobs_during(
            spark, lambda: apply_batch(spark, router, batch, 0),
        )
        assert len(router.names()) == n_tables
    assert counts[2] == counts[8], counts


def test_sweep_stage_keeps_future_epochs(workdir):
    """The replay driver pre-stages epoch N+1 while N commits; epoch N's
    end-of-apply sweep must keep staged dirs (and their .inprogress
    temps) ABOVE the applied epoch, while still collecting unreferenced
    older ones."""
    import os

    from cdc_spark.streaming.pipeline import _sweep_stage

    router = TableRouter(f"{workdir}/sweep_root")
    stage = f"{workdir}/sweep_root/_mt_stage"
    dirs = [
        "epoch=00000001", "epoch=00000002.fetch",
        "epoch=00000002.fetch.inprogress",
    ]
    for d in dirs:
        os.makedirs(os.path.join(stage, d), exist_ok=True)
    _sweep_stage(router, stage, keep_above=1)
    left = sorted(os.listdir(stage))
    assert left == ["epoch=00000002.fetch", "epoch=00000002.fetch.inprogress"], left
    _sweep_stage(router, stage)  # no guard: everything unreferenced goes
    assert sorted(os.listdir(stage)) == [], os.listdir(stage)


def test_prestage_failure_warns_and_falls_back(
    spark, workdir, mt_binlog, mt_cfg, monkeypatch, caplog
):
    """A failed pre-stage of epoch N+1 is logged at WARNING with its
    traceback, and that epoch's apply then stages it synchronously: the
    tables still equal the oracle."""
    import logging
    import threading

    from cdc_spark.streaming import pipeline

    real = pipeline._stage_epoch_winners
    failed = []

    def fail_first_prestage(spark_, batch, stage_dir):
        if threading.current_thread() is not threading.main_thread() and not failed:
            failed.append(stage_dir)
            raise RuntimeError("injected pre-stage failure")
        return real(spark_, batch, stage_dir)

    monkeypatch.setattr(pipeline, "_stage_epoch_winners", fail_first_prestage)
    with caplog.at_level(logging.WARNING, logger=pipeline.__name__):
        router = replay_multi(spark, mt_binlog, f"{workdir}/mt_prestage_fail",
                              lineage=False)
    assert len(failed) == 1
    warned = [r for r in caplog.records
              if r.name == pipeline.__name__ and r.levelno == logging.WARNING]
    assert len(warned) == 1, [r.getMessage() for r in warned]
    assert "injected pre-stage failure" in str(warned[0].exc_info[1])
    _assert_router_matches_oracle(spark, router, mt_binlog, mt_cfg.tables)

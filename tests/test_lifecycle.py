"""One apply lifecycle, six cells: `apply_batch` on a single TargetTable
and on a TableRouter, each in carry mode without lineage, carry mode
with lineage, and fetch mode. Every cell must equal its oracle, and the
Spark jobs each epoch's apply runs are pinned against the counts the
three separate apply bodies ran before they were folded into one:
single-table carry (the Observation-folded write) stays equal, and
every router cell drops at least the job the merged probe saves
(per-table stats and the DDL probe are one aggregate now). Lineage
costs no job: carry with lineage runs exactly the jobs carry without
it runs."""

from __future__ import annotations

import pytest

from cdc_spark import oracle
from cdc_spark.genlog import GenConfig, write_binlog, write_binlog_keys
from cdc_spark.sinks.target import TableRouter, TargetTable
from cdc_spark.sources.binlog import list_segments, read_changes
from cdc_spark.streaming.pipeline import apply_batch

from conftest import assert_lineage_records, jobs_during, rows_equal

ROUTED_SCHEDULE = (
    (0.15, "add_column", {"name": "quality", "type": "float"}, 0),
    (0.30, "add_column", {"name": "rating", "type": "int"}, 1),
    (0.50, "rename_column", {"from": "quality", "to": "quality_score"}, 0),
    (0.60, "drop_column", {"name": "rating"}, 1),
    (0.80, "add_column", {"name": "rating", "type": "long"}, 1),
)
FEEDS = {
    "single": GenConfig(n_events=3000, n_docs=300, events_per_epoch=1000,
                        seed=61, p_heartbeat=0.01),
    "router": GenConfig(n_events=3000, n_docs=300, events_per_epoch=1000,
                        seed=62, tables=("a.t", "b.t"),
                        ddl_schedule=ROUTED_SCHEDULE, p_heartbeat=0.01),
}
#: jobs per epoch (3 epochs) of the three former apply bodies on these
#: feeds, local[4] with 8 shuffle partitions
BEFORE = {
    ("single", "carry"): [3, 3, 3],
    ("single", "carry_lineage"): [4, 4, 4],
    ("single", "fetch"): [11, 12, 12],
    ("router", "carry"): [5, 5, 5],
    ("router", "carry_lineage"): [6, 6, 6],
    ("router", "fetch"): [22, 24, 24],
}


@pytest.fixture(scope="module")
def feeds(workdir):
    out = {}
    for shape, cfg in FEEDS.items():
        out[shape, "carry"] = f"{workdir}/lifecycle_{shape}_carry"
        out[shape, "fetch"] = f"{workdir}/lifecycle_{shape}_keys"
        write_binlog(cfg, out[shape, "carry"])
        write_binlog_keys(cfg, out[shape, "fetch"])
    return out


def _expected(shape: str, feed: str, images: str) -> dict:
    glob = f"{feed}/segment-*.parquet"
    if shape == "single":
        return {None: oracle.final_rows(*oracle.replay(glob, images=images))}
    return {name: oracle.final_rows(state, reg)
            for name, (state, reg) in oracle.replay_tables(glob, images=images).items()}


def _apply_feed(spark, shape, root, feed, lineage_dir, images):
    """Apply every epoch of `feed` to a fresh target at `root`; returns
    the target and the Spark jobs each epoch's apply ran."""
    if shape == "single":
        target = TargetTable(root)
        target.create_if_absent()
    else:
        target = TableRouter(root)
    jobs = []
    for epoch, paths in sorted(list_segments(feed).items()):
        batch = read_changes(spark, paths)
        jobs.append(jobs_during(spark, lambda: apply_batch(
            spark, target, batch, epoch, lineage_dir=lineage_dir, images=images,
        )))
    return target, jobs


@pytest.mark.parametrize("shape", ["single", "router"])
@pytest.mark.parametrize("cell", ["carry", "carry_lineage", "fetch"])
def test_lifecycle_cell_matches_oracle_within_job_budget(
    spark, workdir, feeds, shape, cell
):
    images = "fetch" if cell == "fetch" else "carry"
    feed = feeds[shape, images]
    root = f"{workdir}/lifecycle_t_{shape}_{cell}"
    lineage_dir = f"{root}/_lineage" if cell == "carry_lineage" else None
    target, jobs = _apply_feed(spark, shape, root, feed, lineage_dir, images)

    for name, want in _expected(shape, feed, images).items():
        table = target if name is None else target.get(name)
        got = [r.asDict() for r in table.read_resolved(spark).collect()]
        diffs = rows_equal(want, got)
        assert not diffs, f"{name}: {len(diffs)} diffs, first 5: {diffs[:5]}"

    before = BEFORE[shape, cell]
    if (shape, cell) == ("single", "carry"):
        assert jobs == before
    elif shape == "router":
        assert all(j <= b - 1 for j, b in zip(jobs, before)), (jobs, before)
    else:
        assert all(j <= b for j, b in zip(jobs, before)), (jobs, before)
    if lineage_dir is not None:
        assert_lineage_records(root, target, range(len(jobs)))
        _, plain = _apply_feed(spark, shape, f"{root}_plain", feed, None, images)
        assert jobs == plain, (jobs, plain)


def test_carry_lookahead_failure_warns_and_applies_synchronously(
    spark, workdir, feeds, monkeypatch, caplog
):
    """A carry look-ahead whose probe of epoch N+1 fails is advisory:
    one WARNING with its traceback, that epoch's apply probes
    synchronously, and the table still equals the oracle."""
    import logging
    import threading

    from cdc_spark.streaming import pipeline

    feed = feeds["single", "carry"]
    real = pipeline._ddl_probe
    failed = []

    def fail_first_lookahead(*args, **kwargs):
        if threading.current_thread() is not threading.main_thread() and not failed:
            failed.append(True)
            raise RuntimeError("injected look-ahead failure")
        return real(*args, **kwargs)

    monkeypatch.setattr(pipeline, "_ddl_probe", fail_first_lookahead)
    with caplog.at_level(logging.WARNING, logger="cdc_spark"):
        table = pipeline.replay(spark, feed, f"{workdir}/lifecycle_lookahead_fail",
                                lineage=False)
    assert failed == [True]
    warned = [r for r in caplog.records
              if r.name.startswith("cdc_spark") and r.levelno >= logging.WARNING]
    assert len(warned) == 1, [r.getMessage() for r in warned]
    assert "injected look-ahead failure" in str(warned[0].exc_info[1])
    got = [r.asDict() for r in table.read_resolved(spark).collect()]
    diffs = rows_equal(_expected("single", feed, "carry")[None], got)
    assert not diffs, f"{len(diffs)} diffs, first 5: {diffs[:5]}"


def test_carry_lookahead_unknown_op_refuses_after_previous_commit(
    spark, workdir, monkeypatch
):
    """Epoch 1 carries an unknown op. The look-ahead probes it while
    epoch 0 applies, but the refusal comes from epoch 1's own apply:
    epoch 0 is committed, epoch 1 (its DDL included) is not, and the
    apply reuses the look-ahead's probe instead of scanning again."""
    import threading

    import pyarrow as pa
    import pyarrow.parquet as pq

    from cdc_spark.streaming import pipeline

    feed = f"{workdir}/lifecycle_unknown_op"
    write_binlog(GenConfig(n_events=3000, n_docs=300, events_per_epoch=1000,
                           seed=63), feed)
    path = list_segments(feed)[1][0]
    seg = pq.read_table(path)
    ops = seg.column("op_type").to_pylist()
    ops[next(i for i, o in enumerate(ops) if o in ("I", "U", "D"))] = "X"
    i = seg.schema.get_field_index("op_type")
    pq.write_table(seg.set_column(i, seg.schema.field(i), pa.array(ops, pa.string())), path)

    real = pipeline._ddl_probe
    probes = []

    def record(batch, epoch):
        probes.append((epoch, threading.current_thread() is threading.main_thread()))
        return real(batch, epoch)

    monkeypatch.setattr(pipeline, "_ddl_probe", record)
    root = f"{workdir}/lifecycle_t_unknown_op"
    with pytest.raises(ValueError, match="epoch 1: 1 events with unknown op_type"):
        pipeline.replay(spark, feed, root, lineage=False)
    assert (1, False) in probes and (1, True) not in probes, probes
    st = TargetTable(root).state()
    assert st["epochs"] == [0], st["epochs"]
    assert not any(d.startswith("1:") for d in st["applied_ddl"]), st["applied_ddl"]

"""One apply lifecycle, six cells: `apply_batch` on a single TargetTable
and on a TableRouter, each in carry mode without lineage, carry mode
with lineage, and fetch mode. Every cell must equal its oracle, and the
Spark jobs each epoch's apply runs are pinned against the counts the
three separate apply bodies ran before they were folded into one:
single-table carry without lineage (the Observation-folded write) stays
equal, and every router cell drops at least the job the merged probe
saves (per-table stats and the DDL probe are one aggregate now)."""

from __future__ import annotations

import os

import pytest

from cdc_spark import oracle
from cdc_spark.genlog import GenConfig, write_binlog, write_binlog_keys
from cdc_spark.sinks.target import TableRouter, TargetTable
from cdc_spark.sources.binlog import list_segments, read_changes
from cdc_spark.streaming.pipeline import apply_batch

from conftest import jobs_during, rows_equal

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
    ("single", "carry"): [4, 4, 4],
    ("single", "carry_lineage"): [5, 5, 5],
    ("single", "fetch"): [12, 13, 13],
    ("router", "carry"): [6, 6, 6],
    ("router", "carry_lineage"): [7, 7, 7],
    ("router", "fetch"): [23, 25, 25],
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


@pytest.mark.parametrize("shape", ["single", "router"])
@pytest.mark.parametrize("cell", ["carry", "carry_lineage", "fetch"])
def test_lifecycle_cell_matches_oracle_within_job_budget(
    spark, workdir, feeds, shape, cell
):
    images = "fetch" if cell == "fetch" else "carry"
    feed = feeds[shape, images]
    root = f"{workdir}/lifecycle_t_{shape}_{cell}"
    lineage_dir = f"{root}/_lineage" if cell == "carry_lineage" else None
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
        assert len(os.listdir(lineage_dir)) == len(jobs)

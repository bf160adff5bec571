"""Multi-table key-only feeds (`--multi-table --images fetch`): the
reference's CT-shaped source routed across tables (per-CT-table
processing, CTInputDStream.java:65-99, with the per-batch image fetch
of CTInputDStream.java:112-131 now answered by EACH table's own
resolved state).

Pins the same triangle as the single-table fetch suite, per table:
engine-fetch(keys) == oracle-fetch(keys) == engine-carry(fill_images),
plus resume/redelivery idempotency and the constant-feed-scan property
(one staging job regardless of table count)."""

from __future__ import annotations

import pytest

from cdc_spark import oracle
from cdc_spark.genlog import GenConfig, write_binlog_keys
from cdc_spark.streaming.pipeline import replay_multi

from conftest import rows_equal

MT_SCHEDULE = (
    (0.15, "add_column", {"name": "quality", "type": "float"}, 0),
    (0.30, "add_column", {"name": "rating", "type": "int"}, 1),
    (0.50, "rename_column", {"from": "quality", "to": "quality_score"}, 0),
    (0.60, "drop_column", {"name": "rating"}, 1),
    (0.80, "add_column", {"name": "rating", "type": "long"}, 1),
)


@pytest.fixture(scope="module")
def mtk_cfg():
    return GenConfig(
        n_events=6000, n_docs=400, events_per_epoch=1500, seed=13,
        tables=("corpus.tokens", "corpus.aux"), ddl_schedule=MT_SCHEDULE,
        p_pk_change=0.10, p_missing_tokens=0.4, p_missing_source=0.4,
        p_heartbeat=0.01,
    )


@pytest.fixture(scope="module")
def mtk_binlog(workdir, mtk_cfg):
    d = f"{workdir}/binlog_mtk"
    write_binlog_keys(mtk_cfg, d)
    return d


def _assert_matches(spark, router, binlog_dir, tables):
    by_table = oracle.replay_tables(
        f"{binlog_dir}/segment-*.parquet", images="fetch"
    )
    assert sorted(by_table) == sorted(tables)
    for name, (state, reg) in by_table.items():
        expected = oracle.final_rows(state, reg)
        actual = [
            r.asDict() for r in router.get(name).read_resolved(spark).collect()
        ]
        diffs = rows_equal(expected, actual)
        assert not diffs, f"{name}: {len(diffs)} diffs, first 5: {diffs[:5]}"


def test_multi_fetch_replay_matches_oracle(spark, workdir, mtk_binlog, mtk_cfg):
    router = replay_multi(
        spark, mtk_binlog, f"{workdir}/mtk_table", images="fetch"
    )
    _assert_matches(spark, router, mtk_binlog, mtk_cfg.tables)
    # per-table schema evolution under fetch (incl. drop + re-add): the
    # fold purge ran against corpus.aux's registry only
    reg1 = router.get("corpus.aux").state()["registry"]
    assert [(c["target"], c["type"]) for c in reg1] == [("rating", "long")]


def test_multi_fetch_resumes_and_redelivery_noops(spark, workdir, mtk_binlog, mtk_cfg):
    root = f"{workdir}/mtk_resume"
    replay_multi(spark, mtk_binlog, root, stop_after=2, images="fetch")
    router = replay_multi(spark, mtk_binlog, root, images="fetch")
    _assert_matches(spark, router, mtk_binlog, mtk_cfg.tables)
    versions = {n: router.get(n).state()["version"] for n in router.names()}
    router2 = replay_multi(spark, mtk_binlog, root, images="fetch")
    for n in router2.names():
        assert router2.get(n).state()["version"] == versions[n]


def test_multi_fetch_equals_carry_on_filled_feed(spark, workdir, mtk_binlog, mtk_cfg):
    """fill_images (multi-table aware) derives the state-honest
    full-image twin; carry-replaying it must land on fetch-replay's
    exact final state, table by table."""
    filled = f"{workdir}/binlog_mtk_filled"
    oracle.fill_images(f"{mtk_binlog}/segment-*.parquet", filled)
    r_carry = replay_multi(spark, filled, f"{workdir}/mtk_carry")
    r_fetch = replay_multi(
        spark, mtk_binlog, f"{workdir}/mtk_fetch2", images="fetch"
    )
    for name in mtk_cfg.tables:
        a = {r["doc_id"]: r.asDict()
             for r in r_carry.get(name).read_resolved(spark).collect()}
        b = {r["doc_id"]: r.asDict()
             for r in r_fetch.get(name).read_resolved(spark).collect()}
        assert set(a) == set(b)
        diffs = [(k, a[k], b[k]) for k in a
                 if {**a[k], "tokens": list(a[k]["tokens"] or [])}
                 != {**b[k], "tokens": list(b[k]["tokens"] or [])}]
        assert not diffs, f"{name}: {diffs[:5]}"


def test_multi_fetch_stages_feed_once(spark, workdir, mtk_binlog):
    """The epoch's key-only feed is normalized by ONE staging job
    partitioned by table — per-table tails read their own slice, never
    the raw feed (constant feed scans regardless of table count)."""
    import os

    from cdc_spark.sinks.target import TableRouter
    from cdc_spark.sources.binlog import list_segments, read_changes
    from cdc_spark.streaming.pipeline import apply_batch

    root = f"{workdir}/mtk_stage_probe"
    router = TableRouter(root)
    segs = list_segments(mtk_binlog)
    batch = read_changes(spark, segs[0])
    apply_batch(spark, router, batch, 0, images="fetch")
    # the fetch stage dir was created (and swept after both commits)
    assert not os.path.isdir(
        os.path.join(root, "_mt_stage", "epoch=00000000.fetch")
    )
    for name in router.names():
        assert router.get(name).has_epoch(0)

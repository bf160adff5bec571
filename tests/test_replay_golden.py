"""Apply-and-replay golden tests (SURVEY.md §5.2 #2): the distributed
engine's final table must equal the single-threaded oracle per-row
(token-array equality — the BASELINE.json input_hint invariant)."""

from cdc_spark.genlog import GenConfig, write_binlog
from cdc_spark.streaming.pipeline import replay
from tests.conftest import assert_matches_oracle


def test_golden_replay_default(spark, small_binlog, workdir):
    table = replay(spark, small_binlog, f"{workdir}/t_golden", compact_every=3)
    assert_matches_oracle(spark, table, small_binlog)


def test_golden_replay_no_compaction(spark, small_binlog, workdir):
    """Pure merge-on-read (no compaction ever) resolves identically."""
    table = replay(
        spark, small_binlog, f"{workdir}/t_nocompact", compact_every=10_000
    )
    assert_matches_oracle(spark, table, small_binlog)


def test_golden_replay_heavy_skew(spark, workdir):
    """Zipf s=1.6 + high pk-change rate still matches the oracle."""
    cfg = GenConfig(
        n_events=4000, n_docs=50, events_per_epoch=800,
        zipf_s=1.6, p_pk_change=0.15, seed=7,
    )
    d = f"{workdir}/binlog_skew"
    write_binlog(cfg, d)
    table = replay(spark, d, f"{workdir}/t_skew")
    assert_matches_oracle(spark, table, d)


def test_lineage_emitted(spark, small_binlog, workdir):
    import glob
    import json

    tdir = f"{workdir}/t_lineage"
    replay(spark, small_binlog, tdir, lineage=True)
    files = sorted(glob.glob(f"{tdir}/_lineage/epoch-*.json"))
    assert len(files) == 5
    rows = json.load(open(files[0]))
    assert rows and all(
        set(r) >= {"epoch", "partition_id", "min_lsn", "max_lsn", "n_insert",
                   "n_update", "n_delete", "n_ddl", "snapshot_id", "events_per_sec"}
        for r in rows
    )
    total = sum(r["n_insert"] + r["n_update"] + r["n_delete"] + r["n_ddl"] for r in rows)
    assert total == 1000  # epoch 0 event count


def test_observed_fast_path_equals_lineage_path(spark, small_binlog, workdir):
    """lineage=False routes apply_batch through the Observation-folded
    single-job fast path; final state, journal stats, and oracle match
    the two-pass lineage path exactly."""
    stats_fast: list = []
    t_fast = replay(spark, small_binlog, f"{workdir}/t_fast", lineage=False,
                    stats_out=stats_fast)
    t_full = replay(spark, small_binlog, f"{workdir}/t_full_ref", lineage=True)
    assert_matches_oracle(spark, t_fast, small_binlog)
    a = {r["doc_id"]: r.asDict() for r in t_fast.read_resolved(spark).collect()}
    b = {r["doc_id"]: r.asDict() for r in t_full.read_resolved(spark).collect()}
    assert a == b
    # journal-recorded per-epoch stats (the redelivery fingerprint) agree
    for e in range(5):
        assert t_fast.epoch_stats(e) == t_full.epoch_stats(e)
    assert all(r["applied"] for r in stats_fast)

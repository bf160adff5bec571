"""Apply-and-replay golden tests (SURVEY.md §5.2 #2): the distributed
engine's final table must equal the single-threaded oracle per-row
(token-array equality — the BASELINE.json input_hint invariant)."""

from cdc_spark.genlog import GenConfig, write_binlog
from cdc_spark.sinks.target import TargetTable
from cdc_spark.streaming.pipeline import replay
from tests.conftest import assert_lineage_records, assert_matches_oracle


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
    tdir = f"{workdir}/t_lineage"
    table = replay(spark, small_binlog, tdir, lineage=True)
    records = assert_lineage_records(tdir, table, range(5))
    assert records[0]["tables"][0]["n_events"] == 1000  # epoch 0 event count


def test_observed_fast_path_equals_lineage_path(spark, small_binlog, workdir):
    """Lineage on and off run one apply path: equal tables, equal
    journal stats and the same Spark jobs per epoch (each resumed
    `replay` call applies one more epoch)."""
    from tests.conftest import jobs_during

    def run(name: str, lineage: bool):
        d = f"{workdir}/{name}"
        jobs = [jobs_during(spark, lambda: replay(
            spark, small_binlog, d, lineage=lineage, stop_after=k + 1))
            for k in range(5)]
        return TargetTable(d), jobs

    t_off, jobs_off = run("t_fast", lineage=False)
    t_on, jobs_on = run("t_full_ref", lineage=True)
    assert_matches_oracle(spark, t_off, small_binlog)
    a = {r["doc_id"]: r.asDict() for r in t_off.read_resolved(spark).collect()}
    b = {r["doc_id"]: r.asDict() for r in t_on.read_resolved(spark).collect()}
    assert a == b
    # journal-recorded per-epoch stats (the redelivery fingerprint) agree
    for e in range(5):
        assert t_off.epoch_stats(e) == t_on.epoch_stats(e)
    assert jobs_on == jobs_off, (jobs_on, jobs_off)

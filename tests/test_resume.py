"""Exactly-once / resume tests (SURVEY.md §5.2 #3): kill after batch k,
resume, final state identical; re-deliver whole epochs → no double-apply.
The reference cannot do this — its offsets live in driver memory only
(CTInputDStream.java:60-62,96-97)."""

from cdc_spark.sinks.target import TargetTable
from cdc_spark.streaming.pipeline import apply_batch, read_changes, replay
from tests.conftest import assert_matches_oracle


def test_kill_and_resume(spark, small_binlog, workdir):
    tdir = f"{workdir}/t_resume"
    replay(spark, small_binlog, tdir, stop_after=2)  # "crash" after epoch 1
    t = TargetTable(tdir)
    assert t.state()["epochs_applied"] == 2 and t.max_epoch() == 1
    replay(spark, small_binlog, tdir)  # resume from scratch scan
    assert_matches_oracle(spark, TargetTable(tdir), small_binlog)


def test_epoch_redelivery_is_noop(spark, small_binlog, workdir):
    tdir = f"{workdir}/t_redeliver"
    table = replay(spark, small_binlog, tdir)
    v_before = table.state()["version"]
    batch = read_changes(spark, f"{small_binlog}/segment-00002.parquet")
    res = apply_batch(spark, table, batch, epoch=2)
    assert res["applied"] is False
    assert table.state()["version"] == v_before
    assert_matches_oracle(spark, table, small_binlog)


def test_full_replay_idempotent(spark, small_binlog, workdir):
    tdir = f"{workdir}/t_replay_twice"
    replay(spark, small_binlog, tdir)
    s1 = TargetTable(tdir).state()
    replay(spark, small_binlog, tdir)  # replay everything again
    s2 = TargetTable(tdir).state()
    assert s1["version"] == s2["version"]
    assert_matches_oracle(spark, TargetTable(tdir), small_binlog)


def test_structured_streaming_driver(spark, small_binlog, workdir):
    """readStream → foreachBatch path produces the same final state."""
    from cdc_spark.streaming.pipeline import stream

    tdir = f"{workdir}/t_stream"
    table = stream(
        spark, small_binlog, tdir, checkpoint_dir=f"{workdir}/ckpt_stream"
    )
    assert_matches_oracle(spark, table, small_binlog)


def test_streaming_reversed_mtimes_still_ordered(spark, small_binlog, workdir):
    """Regression: file-source delivery order is mtime-based; an
    availableNow run over segments with REVERSED mtimes must still apply
    epochs in order (sorted inside the batch), not corrupt DDL/DML
    ordering. Found by an out-of-order-delivery probe during /verify."""
    import os
    import shutil
    import tempfile

    from cdc_spark.streaming.pipeline import stream

    feed = tempfile.mkdtemp(prefix="feed_rev_", dir=workdir)
    for i in range(5):
        p = shutil.copy(f"{small_binlog}/segment-{i:05d}.parquet", feed)
        t = 1_700_000_000 - i * 1000  # newer file = older epoch
        os.utime(p, (t, t))
    tdir = f"{workdir}/t_stream_rev"
    table = stream(spark, feed, tdir, checkpoint_dir=f"{workdir}/ckpt_rev")
    assert table.state()["epochs_applied"] == 5 and table.max_epoch() == 4
    assert_matches_oracle(spark, table, small_binlog)


def test_streaming_epoch_gap_fails_loudly(spark, small_binlog, workdir):
    """A feed whose next segment skips an epoch must raise, not silently
    apply DML under a stale registry."""
    import shutil
    import tempfile

    import pytest

    from cdc_spark.streaming.pipeline import stream

    feed = tempfile.mkdtemp(prefix="feed_gap_", dir=workdir)
    shutil.copy(f"{small_binlog}/segment-00000.parquet", feed)
    tdir, ckpt = f"{workdir}/t_stream_gap", f"{workdir}/ckpt_gap"
    stream(spark, feed, tdir, checkpoint_dir=ckpt)
    shutil.copy(f"{small_binlog}/segment-00002.parquet", feed)  # skip epoch 1
    with pytest.raises(Exception, match="out-of-order segment delivery"):
        stream(spark, feed, tdir, checkpoint_dir=ckpt)


def test_streaming_resume_from_checkpoint(spark, small_binlog, workdir):
    """Process part of the feed via streaming, 'crash', then resume with the
    same checkpoint — segments already processed are not re-applied (and
    even if they were, the journal guard makes it a no-op)."""
    import shutil
    import tempfile

    from cdc_spark.streaming.pipeline import stream

    # stage only the first 2 segments, run, then add the rest and resume
    feed = tempfile.mkdtemp(prefix="feed_", dir=workdir)
    for i in range(2):
        shutil.copy(f"{small_binlog}/segment-{i:05d}.parquet", feed)
    tdir, ckpt = f"{workdir}/t_stream_resume", f"{workdir}/ckpt_resume"
    table = stream(spark, feed, tdir, checkpoint_dir=ckpt)
    assert table.state()["epochs_applied"] == 2 and table.max_epoch() == 1
    for i in range(2, 5):
        shutil.copy(f"{small_binlog}/segment-{i:05d}.parquet", feed)
    table = stream(spark, feed, tdir, checkpoint_dir=ckpt)
    assert table.state()["epochs_applied"] == 5 and table.max_epoch() == 4
    assert_matches_oracle(spark, table, small_binlog)


def test_trigger_split_epoch_stages_then_applies(spark, workdir):
    """maxFilesPerTrigger below the files-per-segment count splits every
    epoch across micro-batches; partial segments must STAGE (never
    commit partially — the file source won't redeliver them) and apply
    atomically once complete. Final state matches the oracle and no
    staging residue survives."""
    import os

    from cdc_spark.genlog import GenConfig, write_binlog
    from cdc_spark.streaming.pipeline import stream

    cfg = GenConfig(n_events=3000, n_docs=300, events_per_epoch=1000, seed=23)
    d = f"{workdir}/binlog_split"
    write_binlog(cfg, d, parts=4)  # 3 epochs x 4 part files
    tdir = f"{workdir}/t_trigger_split"
    table = stream(
        spark, d, tdir, checkpoint_dir=f"{workdir}/ckpt_trigger_split",
        max_files_per_trigger=3,  # never a whole segment per trigger
    )
    assert_matches_oracle(spark, table, d)
    staging = f"{tdir}/_staging"
    assert not os.path.isdir(staging) or not os.listdir(staging)


def test_staged_epoch_survives_restart_and_applies_when_files_arrive(spark, workdir):
    """A feed whose tail segment is genuinely incomplete leaves that
    epoch STAGED when the stream drains; after the remaining part files
    arrive, a restart from the same checkpoint merges staged + new rows
    and converges to the oracle state with the staging drained."""
    import glob
    import os
    import shutil as sh

    from cdc_spark.genlog import GenConfig, write_binlog
    from cdc_spark.streaming.pipeline import stream

    cfg = GenConfig(n_events=3000, n_docs=300, events_per_epoch=1000, seed=29)
    full = f"{workdir}/binlog_stage_restart_full"
    write_binlog(cfg, full, parts=4)
    feed = f"{workdir}/feed_stage_restart"
    os.makedirs(feed, exist_ok=True)
    # epochs 0,1 complete; epoch 2 delivers only 2 of 4 parts. The epoch
    # manifest rides along — it is what lets the gate KNOW the segment
    # is short (the bare dir listing can't).
    sh.copy(f"{full}/_manifest.json", feed)
    for p in sorted(glob.glob(f"{full}/segment-0000[01]-*.parquet")):
        sh.copy(p, feed)
    for p in sorted(glob.glob(f"{full}/segment-00002-*.parquet"))[:2]:
        sh.copy(p, feed)
    tdir = f"{workdir}/t_stage_restart"
    ckpt = f"{workdir}/ckpt_stage_restart"
    table = stream(spark, feed, tdir, checkpoint_dir=ckpt)
    _, _, sparse = table.applied_epochs()
    assert 2 not in sparse  # incomplete epoch not committed
    assert os.path.isdir(f"{tdir}/_staging/epoch=00000002")
    # the missing parts arrive; restart from the same checkpoint
    import time as _t

    _t.sleep(1.1)
    for p in sorted(glob.glob(f"{full}/segment-00002-*.parquet"))[2:]:
        sh.copy(p, feed)
    table = stream(spark, feed, tdir, checkpoint_dir=ckpt)
    assert_matches_oracle(spark, table, full)
    staging = f"{tdir}/_staging"
    assert not os.path.isdir(staging) or not os.listdir(staging)


def test_parked_complete_epoch_is_not_lost(spark, workdir):
    """Round-2 review finding: an epoch parked by the blocked flag (its
    OWN segment complete, but an earlier epoch incomplete) must apply
    later even though the file source never redelivers its files — and
    the incomplete earlier epoch must keep blocking it across batches."""
    import glob
    import os
    import shutil as sh
    import time as _t

    from cdc_spark.genlog import GenConfig, write_binlog
    from cdc_spark.streaming.pipeline import stream

    cfg = GenConfig(n_events=2000, n_docs=200, events_per_epoch=1000, seed=31)
    full = f"{workdir}/binlog_parked_full"
    write_binlog(cfg, full, parts=4)
    feed = f"{workdir}/feed_parked"
    os.makedirs(feed, exist_ok=True)
    sh.copy(f"{full}/_manifest.json", feed)
    # partial epoch 0 (2/4) + ALL of epoch 1 in the first delivery
    for p in sorted(glob.glob(f"{full}/segment-00000-*.parquet"))[:2]:
        sh.copy(p, feed)
    for p in sorted(glob.glob(f"{full}/segment-00001-*.parquet")):
        sh.copy(p, feed)
    tdir, ckpt = f"{workdir}/t_parked", f"{workdir}/ckpt_parked"
    table = stream(spark, feed, tdir, checkpoint_dir=ckpt)
    _f, _w, sparse = table.applied_epochs()
    assert sparse == set()  # neither epoch committed (0 incomplete, 1 parked)
    _t.sleep(1.1)
    for p in sorted(glob.glob(f"{full}/segment-00000-*.parquet"))[2:]:
        sh.copy(p, feed)
    table = stream(spark, feed, tdir, checkpoint_dir=ckpt)
    assert_matches_oracle(spark, table, full)
    staging = f"{tdir}/_staging"
    assert not os.path.isdir(staging) or not os.listdir(staging)


def test_stream_honours_compact_every(spark, workdir):
    """`stream(compact_every=N)` (and `job stream --compact-every N`)
    sets the inline compaction cadence: a 4-epoch feed at N=2 commits a
    compaction, and the table still matches the oracle."""
    from cdc_spark.genlog import GenConfig, write_binlog
    from cdc_spark.streaming.pipeline import stream

    d = f"{workdir}/binlog_stream_cadence"
    write_binlog(GenConfig(n_events=4000, n_docs=400, events_per_epoch=1000, seed=31), d)
    table = stream(spark, d, f"{workdir}/t_stream_cadence",
                   checkpoint_dir=f"{workdir}/ckpt_stream_cadence", compact_every=2)
    st = table.state()
    assert st["epochs_applied"] == 4 and st["base_version"] > 0, st
    assert_matches_oracle(spark, table, d)

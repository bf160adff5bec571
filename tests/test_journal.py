"""Journal epoch-accounting invariants (exactly-once bookkeeping).

Round-1 ADVICE finding: the compaction watermark fold popped sparse[0]
unconditionally, so a table whose feed starts at epoch N>0 treated every
epoch < N as already-applied — a late delivery of one would silently
no-op. The fold is now bounded below by epoch_floor."""

from __future__ import annotations

from pyspark.sql import functions as F

from cdc_spark.sinks.target import TargetTable


def _delta(spark, table, doc="d", lsn=1):
    sch = table.schema()
    return spark.createDataFrame(
        [("%s" % doc, [1, 2], 2, "s", lsn, False)],
        schema=sch,
    )


def test_watermark_fold_respects_nonzero_first_epoch(spark, tmp_path):
    t = TargetTable(str(tmp_path / "t"), compact_every=3)
    t.create_if_absent()
    # feed legitimately starts at epoch 10
    for e in (10, 11, 12):  # 3rd commit triggers compaction → fold
        t.commit_delta(_delta(spark, t, lsn=e), epoch=e)
    st = t.state()
    assert st["kind"] == "compact"
    assert st["epoch_floor"] == 10
    assert st["epoch_watermark"] == 12 and st["epochs"] == []
    # epochs below the floor are NOT applied: a late delivery of epoch 9
    # must be applied (or rejected by the stream driver), never no-op'd
    assert not t.has_epoch(9)
    assert all(t.has_epoch(e) for e in (10, 11, 12))
    assert t.commit_delta(_delta(spark, t, lsn=9), epoch=9) is not None
    assert t.has_epoch(9)


def test_fold_only_contiguous_prefix(spark, tmp_path):
    t = TargetTable(str(tmp_path / "t"), compact_every=3)
    t.create_if_absent()
    for e in (0, 1, 3):  # gap at 2
        t.commit_delta(_delta(spark, t, lsn=e + 1), epoch=e)
    st = t.state()
    assert st["kind"] == "compact"
    assert st["epoch_watermark"] == 1 and st["epochs"] == [3]
    assert not t.has_epoch(2) and t.has_epoch(3)


def test_resolved_rows_survive_compaction(spark, tmp_path):
    t = TargetTable(str(tmp_path / "t"), compact_every=2)
    t.create_if_absent()
    t.commit_delta(_delta(spark, t, doc="a", lsn=1), epoch=5)
    t.commit_delta(_delta(spark, t, doc="b", lsn=2), epoch=6)
    rows = {r["doc_id"] for r in t.read_resolved(spark).collect()}
    assert rows == {"a", "b"}
    assert t.state()["epoch_floor"] == 5


def test_orphan_delta_dir_from_crash_is_ignored_then_overwritten(spark, tmp_path):
    """Crash window: delta files written but journal never committed
    (e.g. the fast path's guard raised after the write). The orphan dir
    must not be read (only journaled delta_epochs resolve) and a later
    apply of the same epoch must overwrite it cleanly."""
    import os

    t = TargetTable(str(tmp_path / "t"), compact_every=100)
    t.create_if_absent()
    t.commit_delta(_delta(spark, t, doc="a", lsn=1), epoch=0)
    # simulate the crash leftovers: garbage rows in an unjournaled epoch dir
    orphan = str(tmp_path / "t" / "delta" / "epoch=00000007")
    _delta(spark, t, doc="GARBAGE", lsn=999).write.mode("overwrite").parquet(orphan)
    assert os.path.isdir(orphan)
    rows = {r["doc_id"] for r in t.read_resolved(spark).collect()}
    assert rows == {"a"}  # orphan not visible
    t.commit_delta(_delta(spark, t, doc="b", lsn=2), epoch=7)
    rows = {r["doc_id"] for r in t.read_resolved(spark).collect()}
    assert rows == {"a", "b"}  # garbage overwritten, not unioned


def test_bootstrap_then_incremental_replay(spark, workdir, small_binlog):
    """Initial load (bootstrap from an existing tokens parquet at lsn 0)
    + incremental replay: feed events (lsn >= 1) win LWW over seeded
    rows, feed deletes remove seeded docs, and untouched seeded docs
    survive — the standard initial-load-then-CDC deployment."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from cdc_spark import oracle
    from cdc_spark.streaming.pipeline import replay

    # a seed corpus: doc ids that overlap the feed plus some that don't
    seed_rows = [
        (f"doc1000{i:04d}", [1, 2, i], 3, "seed") for i in range(50)
    ] + [("zzz_seed_only_%d" % i, [9, 9], 2, "seed") for i in range(5)]
    seed = spark.createDataFrame(
        seed_rows, "doc_id string, tokens array<int>, n_tok int, source string"
    )
    tdir = f"{workdir}/t_bootstrap"
    t = TargetTable(tdir)
    t.create_if_absent()
    t.commit_delta(
        seed.select(
            "doc_id", "tokens", "n_tok", "source",
            F.lit(0).cast("long").alias("last_lsn"),
            F.lit(False).alias("deleted"),
        ),
        epoch=-1,
    )
    replay(spark, small_binlog, tdir)

    state, reg = oracle.replay(f"{small_binlog}/segment-*.parquet")
    expected = {r["doc_id"]: r for r in oracle.final_rows(state, reg)}
    touched = set()
    for seg in sorted(glob.glob(f"{small_binlog}/segment-*.parquet")):
        for ev in pq.read_table(seg).to_pylist():
            for side in ("before", "after"):
                if ev[side] and ev[side]["doc_id"]:
                    touched.add(ev[side]["doc_id"])
            if ev["doc_id"]:
                touched.add(ev["doc_id"])
    actual = {r["doc_id"]: r.asDict() for r in t.read_resolved(spark).collect()}
    for doc_id, tokens, n_tok, source in seed_rows:
        if doc_id in touched:
            continue  # the feed's outcome governs
        assert actual[doc_id]["tokens"] == tokens and actual[doc_id]["last_lsn"] == 0
    for doc_id, want in expected.items():
        got = actual[doc_id]
        assert list(got["tokens"] or []) == list(want["tokens"] or [])
        assert got["last_lsn"] == want["last_lsn"]
    # nothing else: every actual row is either feed-final or untouched seed
    assert set(actual) == set(expected) | {
        d for d, *_ in seed_rows if d not in touched
    }


def test_registry_before_ddl_walks_versions(spark, tmp_path):
    """registry_before_ddl returns the registry as of just before the
    given ddl_id's journal commit (redelivery-safe DDL captures):
    unapplied ids see the live registry; applied ids see their
    predecessor entry, including mid-epoch sequences where a rename
    takes a freed name."""
    import json

    t = TargetTable(str(tmp_path / "t"))
    t.create_if_absent()
    t.apply_ddl(spark, "add_column", json.dumps({"name": "a", "type": "int"}), "0:10")
    t.apply_ddl(spark, "add_column", json.dumps({"name": "b", "type": "int"}), "0:20")
    # unapplied id → live registry
    live = {c["target"] for c in t.registry_before_ddl("1:99")}
    assert live == {"a", "b"}
    t.apply_ddl(spark, "drop_column", json.dumps({"name": "b"}), "1:30")
    t.apply_ddl(spark, "rename_column", json.dumps({"from": "a", "to": "b"}), "1:40")
    # before the drop: both mappings, b still keyed by source b
    before_drop = t.registry_before_ddl("1:30")
    assert {(c["target"], c["source_key"]) for c in before_drop} == {
        ("a", "a"), ("b", "b")
    }
    # before the rename: the drop has landed, a not yet renamed
    before_rename = t.registry_before_ddl("1:40")
    assert {(c["target"], c["source_key"]) for c in before_rename} == {("a", "a")}
    # live registry after both: the renamed column holds the freed name
    assert {(c["target"], c["source_key"]) for c in t.state()["registry"]
            if c["target"] == "b"} == {("b", "a")}


def test_journal_pruned_at_compaction(spark, tmp_path):
    """The journal dir must not grow O(commits) forever: compaction
    expires entries older than journal_keep (Iceberg expireSnapshots
    analogue), the latest entry keeps working, and registry_before_ddl
    still walks the retained window — raising loudly (not guessing) if
    asked about history that was pruned away."""
    import json
    import os

    import pytest

    t = TargetTable(str(tmp_path / "t"), compact_every=4, journal_keep=6)
    t.create_if_absent()
    t.apply_ddl(spark, "add_column", json.dumps({"name": "q", "type": "int"}), "0:5")
    for e in range(12):  # 3 compactions at compact_every=4
        d = spark.createDataFrame(
            [("d", [1, 2], 2, "s", 7, e + 10, False)], schema=t.phys_schema()
        )
        t.commit_delta(d, epoch=e)
    files = [f for f in os.listdir(t.journal_dir) if f.endswith(".json")]
    assert len(files) <= 6
    st = t.state()
    assert st["epoch_watermark"] == 11 and st["base_version"]
    assert t.has_epoch(11) and not t.has_epoch(12)
    # recent unapplied ddl_id → live registry (no walk needed)
    assert [c["target"] for c in t.registry_before_ddl("99:1")] == ["q"]
    # the add at 0:5 predates the retained window → loud failure
    with pytest.raises(RuntimeError, match="pruned"):
        t.registry_before_ddl("0:5")
    # a DDL inside the retained window still resolves
    t.apply_ddl(spark, "drop_column", json.dumps({"name": "q"}), "12:900")
    assert [c["target"] for c in t.registry_before_ddl("12:900")] == ["q"]


def test_missing_journal_referenced_delta_dir_fails_loudly(spark, tmp_path):
    """A journal-referenced dir missing on disk must fail the read:
    skipping it would return state missing a committed epoch, and the
    next compaction would fold that loss into the base forever."""
    import os
    import shutil

    import pytest

    t = TargetTable(str(tmp_path / "t"), compact_every=100)
    t.create_if_absent()
    t.commit_delta(_delta(spark, t, doc="a", lsn=1), epoch=0)
    t.commit_delta(_delta(spark, t, doc="b", lsn=2), epoch=1)
    # lose a committed epoch dir (bad sweep / manual cleanup)
    shutil.rmtree(os.path.join(t.path, "delta", "epoch=00000001"))
    with pytest.raises(FileNotFoundError, match="committed data is missing"):
        t.read_resolved(spark).collect()


def test_missing_ref_delta_dir_fails_loudly(spark, tmp_path):
    import shutil

    import pytest

    from cdc_spark.schema import APPLY_SCHEMA

    t = TargetTable(str(tmp_path / "t"), compact_every=100)
    t.create_if_absent()
    # journal-only ref commit pointing at a staged slice, then lose it
    stage = tmp_path / "stage" / "epoch=00000000" / "table=t"
    stage.mkdir(parents=True)
    spark.createDataFrame(
        [(1, 0, "a", False, [1], 1, "s", {})], schema=APPLY_SCHEMA,
    ).write.mode("overwrite").parquet(str(stage))
    t.commit_delta_ref(spark, 0, str(stage),
                       stats={"n_events": 1, "min_lsn": 1, "max_lsn": 1})
    shutil.rmtree(str(stage))
    with pytest.raises(FileNotFoundError, match="committed data is missing"):
        t.read_resolved(spark).collect()


def test_cleanup_failures_warn_and_commit_stands(spark, tmp_path, monkeypatch, caplog):
    """Journal expiry and data-dir GC run after the commit point. A path
    a concurrent remover already took stays quiet; any other failure
    leaks the path, so it is logged at WARNING with its traceback and
    the compaction still commits."""
    import logging
    import os
    import shutil

    t = TargetTable(str(tmp_path / "t"), compact_every=100, journal_keep=2)
    t.create_if_absent()
    t.commit_delta(_delta(spark, t, doc="a", lsn=1), epoch=0)
    t.commit_delta(_delta(spark, t, doc="b", lsn=2), epoch=1)
    real_remove, real_rmtree = os.remove, shutil.rmtree

    def failing(real, exc):
        def fn(path, *a, **k):
            if str(path).startswith(t.path) and not k.get("ignore_errors"):
                raise exc(13, "injected", path)
            return real(path, *a, **k)
        return fn

    caplog.set_level(logging.WARNING, logger="cdc_spark.sinks.target")
    monkeypatch.setattr(os, "remove", failing(real_remove, PermissionError))
    monkeypatch.setattr(shutil, "rmtree", failing(real_rmtree, PermissionError))
    entry = t.compact(spark)
    assert t.state()["version"] == entry["version"] and entry["kind"] == "compact"
    assert {r["doc_id"] for r in t.read_resolved(spark).collect()} == {"a", "b"}
    warned = [r for r in caplog.records if r.name == "cdc_spark.sinks.target"]
    leaked = {"epoch=00000000", "epoch=00000001", "v00000000.json", "v00000001.json"}
    assert {os.path.basename(r.getMessage().split(":")[0]) for r in warned} == leaked
    assert all(r.levelno == logging.WARNING and r.exc_info for r in warned)
    assert os.path.isdir(os.path.join(t.path, "delta", "epoch=00000000"))

    # a concurrent remover got there first: nothing to report
    caplog.clear()
    monkeypatch.setattr(os, "remove", failing(real_remove, FileNotFoundError))
    monkeypatch.setattr(shutil, "rmtree", failing(real_rmtree, FileNotFoundError))
    t.commit_delta(_delta(spark, t, doc="c", lsn=3), epoch=2)
    t.compact(spark)
    assert not [r for r in caplog.records if r.name == "cdc_spark.sinks.target"]

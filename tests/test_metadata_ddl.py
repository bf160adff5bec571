"""Round-3 scale redesign pins: metadata-only DDL, dirty-bucket
compaction, and the broadcast-resolve fast path (VERDICT r2 items 1+2).

At 100 TB the properties asserted here are the difference between a DDL
event stalling the stream for a full-table rewrite and an O(journal)
metadata commit; and between every read/compaction paying a full-table
exchange and paying only for the (small) delta set."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from cdc_spark.sinks.target import TargetTable

from conftest import jobs_during


def _data_files(path: str) -> set[str]:
    out = set()
    for sub in ("base", "delta"):
        d = os.path.join(path, sub)
        for root, _dirs, files in os.walk(d):
            for f in files:
                out.add(os.path.join(root, f))
    return out


def _delta(spark, table, rows, epoch, lsn_key="last_lsn"):
    """rows: list of dicts with doc_id/last_lsn and optional extras."""
    sch = table.phys_schema()
    data = []
    for r in rows:
        base = {
            "doc_id": r["doc_id"], "tokens": r.get("tokens", [1]),
            "n_tok": r.get("n_tok", 1), "source": r.get("source", "s"),
            "last_lsn": r["last_lsn"], "deleted": r.get("deleted", False),
        }
        for f in sch.fieldNames():
            if f not in base:
                base[f] = r.get(f)
        data.append(tuple(base[f] for f in sch.fieldNames()))
    df = spark.createDataFrame(data, schema=sch)
    lo = min(r["last_lsn"] for r in rows)
    hi = max(r["last_lsn"] for r in rows)
    return table.commit_delta(
        df, epoch, stats={"n_events": len(rows), "min_lsn": lo, "max_lsn": hi}
    )


def test_ddl_writes_no_data_files(spark, tmp_path):
    """rename/widen/drop/add are all journal-only commits (the Iceberg
    ALTER TABLE shape) — zero data files touched."""
    t = TargetTable(str(tmp_path / "t"), compact_every=2)
    t.create_if_absent()
    t.apply_ddl(spark, "add_column", json.dumps({"name": "q", "type": "int"}), "0:1")
    _delta(spark, t, [{"doc_id": "a", "last_lsn": 2, "q_x1": 7}], epoch=0)
    _delta(spark, t, [{"doc_id": "b", "last_lsn": 3, "q_x1": 8}], epoch=1)  # compacts
    before = _data_files(t.path)
    assert before, "fixture must have data files"
    t.apply_ddl(spark, "rename_column", json.dumps({"from": "q", "to": "q2"}), "1:10")
    t.apply_ddl(spark, "widen_column", json.dumps({"name": "q2", "to": "long"}), "1:11")
    t.apply_ddl(spark, "drop_column", json.dumps({"name": "q2"}), "1:12")
    t.apply_ddl(spark, "add_column", json.dumps({"name": "q", "type": "long"}), "1:13")
    assert _data_files(t.path) == before, "DDL must not write or remove data files"


def test_metadata_rename_and_widen_visible_on_read(spark, tmp_path):
    """Old files keep the narrow type under the stable phys name; the
    read maps phys→target and upcasts in place (no rewrite)."""
    t = TargetTable(str(tmp_path / "t"), compact_every=100)
    t.create_if_absent()
    t.apply_ddl(spark, "add_column", json.dumps({"name": "q", "type": "int"}), "0:1")
    _delta(spark, t, [{"doc_id": "a", "last_lsn": 2, "q_x1": 7}], epoch=0)
    t.apply_ddl(spark, "rename_column", json.dumps({"from": "q", "to": "q2"}), "1:10")
    t.apply_ddl(spark, "widen_column", json.dumps({"name": "q2", "to": "long"}), "1:11")
    df = t.read_resolved(spark)
    assert dict(df.dtypes)["q2"] == "bigint"
    assert df.filter(F.col("q2") == 7).count() == 1


def test_widen_int_to_double_read(spark, tmp_path):
    """Every WIDENINGS pair must be parquet-reader-promotable (that is
    the metadata-only-widen contract): int32 files read back as double."""
    import pytest

    from cdc_spark.schema import WIDENINGS

    t = TargetTable(str(tmp_path / "t"), compact_every=100)
    t.create_if_absent()
    t.apply_ddl(spark, "add_column", json.dumps({"name": "r", "type": "int"}), "0:1")
    _delta(spark, t, [{"doc_id": "a", "last_lsn": 2, "r_x1": 41}], epoch=0)
    t.apply_ddl(spark, "widen_column", json.dumps({"name": "r", "to": "double"}), "1:9")
    row = t.read_resolved(spark).first()
    assert row["r"] == 41.0 and dict(t.read_resolved(spark).dtypes)["r"] == "double"
    # long→double is NOT a legal widening (Iceberg forbids it; the
    # parquet reader cannot promote int64→double in place)
    assert ("long", "double") not in WIDENINGS
    t2 = TargetTable(str(tmp_path / "t2"))
    t2.create_if_absent()
    t2.apply_ddl(spark, "add_column", json.dumps({"name": "z", "type": "long"}), "0:1")
    with pytest.raises(ValueError, match="illegal widening"):
        t2.apply_ddl(spark, "widen_column", json.dumps({"name": "z", "to": "double"}), "0:2")


def test_drop_is_read_side_only_and_readd_starts_null(spark, tmp_path):
    t = TargetTable(str(tmp_path / "t"), compact_every=100)
    t.create_if_absent()
    t.apply_ddl(spark, "add_column", json.dumps({"name": "q", "type": "int"}), "0:1")
    _delta(spark, t, [{"doc_id": "a", "last_lsn": 2, "q_x1": 7}], epoch=0)
    t.apply_ddl(spark, "drop_column", json.dumps({"name": "q"}), "1:5")
    assert "q" not in t.read_resolved(spark).columns
    t.apply_ddl(spark, "add_column", json.dumps({"name": "q", "type": "int"}), "1:6")
    df = t.read_resolved(spark)
    assert df.filter(F.col("q").isNull()).count() == 1  # pre-drop value gone


def test_ddl_id_without_integer_lsn_refuses(spark, tmp_path):
    """An added column's phys id and add-lsn mask come from the lsn after
    the ddl_id's last ':'. Without one, a drop and re-add of a column
    would share one phys id, and the re-added column would read the
    pre-drop values back; such an id must refuse and commit nothing."""
    import pytest

    t = TargetTable(str(tmp_path / "t"), compact_every=100)
    t.create_if_absent()
    add = json.dumps({"name": "a", "type": "int"})
    for ddl_id in ("add-a", "0:", "0:x"):
        with pytest.raises(ValueError, match="no integer lsn"):
            t.apply_ddl(spark, "add_column", add, ddl_id)
    assert t.state()["version"] == 0 and t.state()["registry"] == []


def test_compaction_rewrites_only_dirty_buckets(spark, tmp_path):
    """File-level pin: after a compaction whose deltas touch a subset of
    buckets, clean buckets' data files are carried forward as hard links
    (same inode) and only dirty buckets get new files."""
    t = TargetTable(str(tmp_path / "t"), compact_every=100, buckets=8)
    t.create_if_absent()
    rows = [{"doc_id": f"d{i:03d}", "last_lsn": i + 1} for i in range(64)]
    _delta(spark, t, rows, epoch=0)
    t.compact(spark)  # base v*, bucket-partitioned
    st = t.state()
    base1 = t._base_dir(st)
    assert t._base_bucketed(st)
    inodes1 = {
        f"{d}/{f}": os.stat(os.path.join(base1, d, f)).st_ino
        for d in os.listdir(base1) if d.startswith("_bucket=")
        for f in os.listdir(os.path.join(base1, d))
        if os.path.isfile(os.path.join(base1, d, f))
    }
    # one delta touching exactly one doc → ≤1 dirty bucket
    _delta(spark, t, [{"doc_id": "d000", "last_lsn": 100}], epoch=1)
    dirty_bucket = spark.createDataFrame([("d000",)], "doc_id string").select(
        F.pmod(F.xxhash64("doc_id"), F.lit(8)).cast("int").alias("b")
    ).first()["b"]
    t.compact(spark)
    base2 = t._base_dir(t.state())
    assert base2 != base1
    for d in os.listdir(base2):
        if not d.startswith("_bucket="):
            continue
        b = int(d.split("=")[1])
        for f in os.listdir(os.path.join(base2, d)):
            p = os.path.join(base2, d, f)
            if not os.path.isfile(p):
                continue
            if b == dirty_bucket:
                assert os.stat(p).st_ino not in inodes1.values(), "dirty bucket must be rewritten"
            else:
                assert inodes1.get(f"{d}/{f}") == os.stat(p).st_ino, (
                    f"clean bucket {b} must be hard-linked, not rewritten"
                )
    # and the rewrite is visible
    assert t.read_resolved(spark).filter(
        (F.col("doc_id") == "d000") & (F.col("last_lsn") == 100)
    ).count() == 1


def test_resolve_fast_path_plan_and_equivalence(spark, tmp_path):
    """Steady state: resolve streams the base through a broadcast
    LeftAnti join (no exchange on the base side); only the delta set
    shuffles for its per-key max. Results pin equal to the full
    aggregate fallback."""
    t = TargetTable(str(tmp_path / "t"), compact_every=100, buckets=8)
    t.create_if_absent()
    _delta(spark, t, [{"doc_id": f"d{i}", "last_lsn": i + 1} for i in range(40)], epoch=0)
    t.compact(spark)
    _delta(spark, t, [
        {"doc_id": "d1", "last_lsn": 101, "tokens": [9]},
        {"doc_id": "d2", "last_lsn": 102, "deleted": True},
        {"doc_id": "NEW", "last_lsn": 103},
    ], epoch=1)
    fast = t.read_resolved(spark)
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    # the base streams straight into the anti-join: no Exchange between
    # the join and the base scan (the naive path hash-partitions
    # base ∪ deltas); the only shuffles are the delta-side per-key max
    lines = plan.splitlines()
    join_i = next(i for i, l in enumerate(lines) if "BroadcastHashJoin" in l)
    # the join's LEFT child subtree prints first: the first FileScan after
    # the join line is the base scan (path strings can be truncated, so
    # locate structurally)
    base_i = next(i for i, l in enumerate(lines) if i > join_i and "FileScan" in l)
    assert not any("Exchange" in l for l in lines[join_i + 1:base_i]), plan

    slow_t = TargetTable(str(tmp_path / "t"), resolve_join_max_bytes=0)
    slow = slow_t.read_resolved(spark)
    assert plan.count("BroadcastHashJoin") and "BroadcastHashJoin" not in \
        slow._jdf.queryExecution().executedPlan().toString()
    a = {r["doc_id"]: r.asDict() for r in fast.collect()}
    b = {r["doc_id"]: r.asDict() for r in slow.collect()}
    assert a == b
    assert "d2" not in a and a["d1"]["tokens"] == [9] and "NEW" in a


def test_resolve_falls_back_on_late_epoch_below_watermark(spark, tmp_path):
    """A late-delivered epoch whose lsns sit below base_max_lsn breaks
    the fast path's monotonicity proof — the journal detects it and the
    resolve falls back to the aggregate (correct LWW either way)."""
    t = TargetTable(str(tmp_path / "t"), compact_every=100)
    t.create_if_absent()
    _delta(spark, t, [{"doc_id": "a", "last_lsn": 50}], epoch=10)
    t.compact(spark)
    assert t.state()["base_max_lsn"] == 50
    # late epoch 9 with an OLDER image of "a"
    _delta(spark, t, [{"doc_id": "a", "last_lsn": 9, "tokens": [7]}], epoch=9)
    assert not t._fast_resolve_ok(t.state())
    rows = {r["doc_id"]: r.asDict() for r in t.read_resolved(spark).collect()}
    assert rows["a"]["last_lsn"] == 50 and rows["a"]["tokens"] == [1]


def test_incremental_compaction_tick_job_budget(spark, tmp_path):
    """One incremental tick on a bucketed base with pending deltas runs
    a fixed number of Spark jobs: the bucket aggregate and the dirty-bucket
    rewrite. A later change cannot add a job to the tick silently."""
    t = TargetTable(str(tmp_path / "t"), compact_every=100, buckets=8)
    t.create_if_absent()
    _delta(spark, t, [{"doc_id": f"d{i:02d}", "last_lsn": i + 1} for i in range(40)], epoch=0)
    t.compact(spark)
    assert t._base_bucketed(t.state())
    _delta(spark, t, [{"doc_id": f"d{i:02d}", "last_lsn": 100 + i} for i in range(0, 40, 3)],
           epoch=1)
    _delta(spark, t, [{"doc_id": f"d{i:02d}", "last_lsn": 200 + i} for i in range(1, 40, 5)],
           epoch=2)
    n = jobs_during(spark, lambda: t.compact(spark))
    assert t.state()["kind"] == "compact" and t.state()["delta_epochs"] == []
    assert n <= 5, f"incremental compaction tick ran {n} jobs (budget 5)"


def test_delta_bytes_recorded_at_commit_not_walked_at_read(spark, tmp_path, monkeypatch):
    """The fast-path volume check reads journal-recorded delta sizes;
    a per-read filesystem walk would be an object-store LIST per query
    at scale."""
    t = TargetTable(str(tmp_path / "t"), compact_every=100)
    t.create_if_absent()
    _delta(spark, t, [{"doc_id": "a", "last_lsn": 1}], epoch=0)
    st = t.state()
    walked = TargetTable._dir_bytes(os.path.join(t.path, "delta", "epoch=00000000"))
    assert st["delta_bytes"] == {"0": walked} and walked > 0

    def boom(path):
        raise AssertionError("filesystem walk on the read path")

    monkeypatch.setattr(TargetTable, "_dir_bytes", staticmethod(boom))
    rows = t.read_resolved(spark).collect()
    assert len(rows) == 1

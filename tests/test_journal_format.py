"""One journal format: `TargetTable` reads only the journal shape it
writes. Each shape an older engine wrote is refused with one ValueError
before any Spark job runs, and every journal version the engine writes —
carry, fetch and routed replays, DDL epochs, the bootstrap and compact
CLI commands, compaction over an empty base — passes the check."""

from __future__ import annotations

import glob
import json
import os
import pathlib
import shutil
import subprocess
import sys

import pytest

from cdc_spark.genlog import DDL_SCHEDULE_WITH_DROP, GenConfig, write_binlog, write_binlog_keys
from cdc_spark.sinks.target import TargetTable, journal_shape_error
from cdc_spark.streaming.pipeline import replay, replay_multi

from conftest import jobs_during

_REPO = str(pathlib.Path(__file__).resolve().parents[1])
REFUSED = "legacy journal format"


def _commit(spark, t, rows, epoch):
    """rows: (doc_id, lsn, deleted) apply-rows for every phys column."""
    sch = t.phys_schema()
    data = [(d, [1], 1, "s", *([None] * (len(sch) - 6)), lsn, dead) for d, lsn, dead in rows]
    lsns = [lsn for _, lsn, _ in rows] or [None]
    return t.commit_delta(spark.createDataFrame(data, schema=sch), epoch, stats={
        "n_events": len(rows), "min_lsn": min(lsns), "max_lsn": max(lsns)})


def _assert_current_format(path_glob: str) -> int:
    paths = glob.glob(path_glob)
    assert paths, path_glob
    for p in paths:
        with open(p) as f:
            assert journal_shape_error(json.load(f)) is None, p
    return len(paths)


# -- every shape an older engine wrote is refused -------------------------------

@pytest.fixture(scope="module")
def current_table(spark, tmp_path_factory):
    """A table in the current format: one DDL column, a compacted
    bucketed base and one pending delta epoch."""
    t = TargetTable(str(tmp_path_factory.mktemp("fmt") / "t"), compact_every=100, buckets=4)
    t.create_if_absent()
    t.apply_ddl(spark, "add_column", json.dumps({"name": "q", "type": "int"}), "0:1")
    _commit(spark, t, [(f"d{i}", 10 + i, False) for i in range(8)], epoch=0)
    t.compact(spark)
    _commit(spark, t, [("d0", 50, False), ("d1", 51, True)], epoch=1)
    return t.path


def _edit_head(t: TargetTable, fn) -> None:
    p = os.path.join(t.journal_dir, f"v{t._versions()[-1]:08d}.json")
    with open(p) as f:
        entry = json.load(f)
    fn(entry)
    with open(p, "w") as f:
        json.dump(entry, f)


def _unbucket_base(t: TargetTable) -> None:
    """Move every base file out of its `_bucket=` dir: the layout of a
    base written before bucketing."""
    base = t._base_dir(t.state())
    for b in [n for n in os.listdir(base) if n.startswith("_bucket=")]:
        for f in os.listdir(os.path.join(base, b)):
            os.rename(os.path.join(base, b, f), os.path.join(base, f"{b[1:]}-{f}"))
        os.rmdir(os.path.join(base, b))


SHAPES = {
    "no_epoch_floor": lambda t: _edit_head(t, lambda e: e.pop("epoch_floor")),
    "carry_deltas": lambda t: _edit_head(
        t, lambda e: e.update(carry_deltas=[os.path.join(t.path, "delta", "carry-v00000009")])),
    "column_without_phys": lambda t: _edit_head(t, lambda e: e["registry"][0].pop("phys")),
    "column_without_add_lsn": lambda t: _edit_head(t, lambda e: e["registry"][0].pop("add_lsn")),
    "delta_epoch_without_size": lambda t: _edit_head(t, lambda e: e["delta_bytes"].clear()),
    "base_outside_bucket_dirs": _unbucket_base,
    "bucketed_base_without_base_max_lsn": lambda t: _edit_head(
        t, lambda e: e.update(base_max_lsn=None)),
}


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_legacy_shape_refuses_before_any_spark_job(spark, current_table, tmp_path, shape):
    t = TargetTable(str(tmp_path / "t"))
    shutil.copytree(current_table, t.path)
    SHAPES[shape](t)

    def compact():
        with pytest.raises(ValueError, match=REFUSED) as err:
            t.compact(spark)
        assert t.path in str(err.value) and "replaying its feed" in str(err.value)

    assert jobs_during(spark, compact) == 0
    if not shape.startswith(("base_", "bucketed_")):
        with pytest.raises(ValueError, match=REFUSED):
            t.read_resolved(spark)


def test_every_journal_load_refuses_an_old_entry(spark, current_table, tmp_path):
    """state, state_at, history and registry_before_ddl all load through
    the one reader."""
    t = TargetTable(str(tmp_path / "t"))
    shutil.copytree(current_table, t.path)
    v0 = t._versions()[0]
    t.state_at(v0)
    p = os.path.join(t.journal_dir, f"v{v0:08d}.json")
    with open(p) as f:
        entry = json.load(f)
    entry.pop("epoch_floor")
    with open(p, "w") as f:
        json.dump(entry, f)
    t.state()  # the head is still current
    for load in (lambda: t.state_at(v0), t.history,
                 lambda: t.registry_before_ddl("0:1")):
        with pytest.raises(ValueError, match=REFUSED):
            load()


# -- every journal the engine writes passes the check ----------------------------

def test_replays_write_only_the_current_format(spark, workdir, small_binlog):
    """Carry (with DDL epochs), fetch and routed replays, with inline
    compaction ticks."""
    carry = f"{workdir}/fmt_carry"
    replay(spark, small_binlog, carry, lineage=False, compact_every=2)
    assert TargetTable(carry).state()["registry"], "the feed must carry DDL epochs"
    _assert_current_format(f"{carry}/_journal/v*.json")

    cfg = GenConfig(n_events=2000, n_docs=200, events_per_epoch=500, seed=5,
                    ddl_schedule=DDL_SCHEDULE_WITH_DROP)
    write_binlog_keys(cfg, f"{workdir}/fmt_keys_feed")
    fetch = f"{workdir}/fmt_fetch"
    replay(spark, f"{workdir}/fmt_keys_feed", fetch, lineage=False, compact_every=2,
           images="fetch")
    _assert_current_format(f"{fetch}/_journal/v*.json")

    mt = GenConfig(n_events=2000, n_docs=200, events_per_epoch=500, seed=5,
                   tables=("corpus.a", "corpus.b"))
    write_binlog(mt, f"{workdir}/fmt_mt_feed")
    root = f"{workdir}/fmt_mt"
    replay_multi(spark, f"{workdir}/fmt_mt_feed", root, lineage=False, compact_every=2)
    assert len(glob.glob(f"{root}/tables/*/_journal")) == 2
    _assert_current_format(f"{root}/tables/*/_journal/v*.json")


def test_compaction_over_an_empty_base(spark, tmp_path):
    """A base with no live rows has no `_bucket=` dirs (and a null
    base_max_lsn when no row ever reached it); it stays readable and
    compactable."""
    t = TargetTable(str(tmp_path / "t"), compact_every=100, buckets=4)
    t.create_if_absent()
    t.compact(spark)  # nothing to consume: an empty base, base_max_lsn null
    st = t.state()
    assert st["base_version"] and st["base_max_lsn"] is None
    assert t.read_resolved(spark).count() == 0
    _commit(spark, t, [("a", 5, False), ("b", 6, False)], epoch=0)
    t.compact(spark)
    assert {r["doc_id"] for r in t.read_resolved(spark).collect()} == {"a", "b"}
    _commit(spark, t, [("a", 7, True), ("b", 8, True)], epoch=1)
    t.compact(spark)  # every row deleted: empty again, base_max_lsn 8
    assert not [n for n in os.listdir(t._base_dir(t.state())) if n.startswith("_bucket=")]
    assert t.state()["base_max_lsn"] == 8
    _commit(spark, t, [("c", 9, False)], epoch=2)
    t.compact(spark)
    assert [r["doc_id"] for r in t.read_resolved(spark).collect()] == ["c"]
    assert t.state()["base_max_lsn"] == 9
    _assert_current_format(f"{t.path}/_journal/v*.json")


def test_bootstrap_and_compact_cli_write_only_the_current_format(spark, workdir, small_binlog):
    seed = f"{workdir}/fmt_seed"
    spark.createDataFrame(
        [(f"doc1000{i:04d}", [1, 2], 2, "seed") for i in range(20)],
        "doc_id string, tokens array<int>, n_tok int, source string",
    ).write.mode("overwrite").parquet(seed)
    d = f"{workdir}/fmt_cli"

    def job(*args):
        res = subprocess.run([sys.executable, "-m", "cdc_spark.job", *args, "--table", d,
                              "--master", "local[2]"],
                             capture_output=True, text=True, cwd=_REPO, timeout=600)
        assert res.returncode == 0, res.stderr[-2000:]
        return json.loads(res.stdout.strip().splitlines()[-1])

    assert job("bootstrap", "--from-parquet", seed)["bootstrapped"]
    replay(spark, small_binlog, d, lineage=False)
    assert job("compact")["kind"] == "compact"
    assert _assert_current_format(f"{d}/_journal/v*.json") >= 3

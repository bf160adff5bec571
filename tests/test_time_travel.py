"""Journal time travel (Iceberg `VERSION AS OF` analogue): a past
version's exact table state — rows AND schema — reproduces from the
retained journal entry, and expired history fails loudly instead of
answering wrong."""

from __future__ import annotations

import pathlib

import pytest

from cdc_spark.sinks.target import TargetTable
from cdc_spark.streaming.pipeline import replay

_REPO = str(pathlib.Path(__file__).resolve().parents[1])


def _rows(df):
    def _h(v):
        return tuple(v) if isinstance(v, list) else v

    return {
        tuple(sorted((k, _h(v)) for k, v in r.asDict().items()))
        for r in df.collect()
    }


def test_read_resolved_at_past_versions(spark, workdir, small_binlog):
    """Replay epoch by epoch, snapshotting (version, rows, columns)
    after each; after the full replay every recorded version must
    reproduce its snapshot exactly — including the pre-DDL schema."""
    d = f"{workdir}/tt_table"
    snaps = []
    for k in range(1, 6):
        table = replay(spark, small_binlog, d, stop_after=k, lineage=False)
        cur = table.read_resolved(spark)
        snaps.append((table.state()["version"], _rows(cur), set(cur.columns)))

    table = TargetTable(d)
    assert len({v for v, _, _ in snaps}) == len(snaps)
    for version, rows, cols in snaps:
        got = table.read_resolved(spark, version=version)
        assert set(got.columns) == cols
        assert _rows(got) == rows
    # the DDL schedule adds/renames columns mid-feed (quality ->
    # quality_score), so time travel must change the visible schema,
    # not just the rows
    assert snaps[0][2] != snaps[-1][2]


def test_unknown_version_raises(spark, workdir, small_binlog):
    d = f"{workdir}/tt_unknown"
    table = replay(spark, small_binlog, d, stop_after=1, lineage=False)
    with pytest.raises(ValueError, match="not in journal"):
        table.read_resolved(spark, version=99_999)
    with pytest.raises(ValueError, match="not both"):
        table.read_resolved(spark, state=table.state(), version=1)


def test_compaction_expires_history_loudly(spark, workdir, small_binlog):
    """After compaction garbage-collects a version's delta/base dirs the
    time-travel read must raise (journal references missing dirs), not
    silently resolve against the rewritten base."""
    d = f"{workdir}/tt_expired"
    table = replay(spark, small_binlog, d, stop_after=3, lineage=False)
    v_old = table.state()["version"]
    replay(spark, small_binlog, d, lineage=False)  # resume epochs 4-5
    table.compact(spark)
    latest = table.read_resolved(spark)
    assert latest.count() > 0  # current read unaffected
    with pytest.raises(FileNotFoundError, match="journal references"):
        table.read_resolved(spark, version=v_old).collect()


def test_time_travel_to_a_collected_base_raises(spark, workdir, small_binlog):
    """A compaction entry references no delta dirs, only its base; once a
    later compaction has collected that base, reading the entry must
    raise, not resolve to an empty table."""
    d = f"{workdir}/tt_base_gone"
    table = replay(spark, small_binlog, d, stop_after=2, lineage=False)
    v = table.compact(spark)["version"]
    assert table.state_at(v)["delta_epochs"] == []
    replay(spark, small_binlog, d, lineage=False)
    table.compact(spark)
    with pytest.raises(FileNotFoundError, match="journal references 1 base dir"):
        table.read_resolved(spark, version=v)


def test_changelog_applies_forward_to_latest_state(spark, workdir):
    """read_changes_between(v_a) must be a COMPLETE changelog: applying
    its upserts/deletes (LWW by last_lsn) on top of the v_a snapshot
    reproduces the latest resolved state exactly. DDL-free feed so both
    snapshots share one schema."""
    from cdc_spark.genlog import GenConfig, write_binlog

    d = f"{workdir}/cl_binlog"
    t = f"{workdir}/cl_table"
    write_binlog(
        GenConfig(n_events=4000, n_docs=300, events_per_epoch=1000,
                  seed=11, ddl_schedule=()),
        d,
    )
    table = replay(spark, d, t, stop_after=2, lineage=False)
    v_a = table.state()["version"]
    snap_a = {r["doc_id"]: r.asDict() for r in table.read_resolved(spark).collect()}
    replay(spark, d, t, lineage=False)  # epochs 3-4
    latest = {r["doc_id"]: r.asDict() for r in table.read_resolved(spark).collect()}

    ch = table.read_changes_between(spark, v_a)
    rows = sorted(
        (r.asDict() for r in ch.collect()), key=lambda r: r["last_lsn"]
    )
    assert rows, "changelog between v_a and latest must be non-empty"
    assert {r["_change_type"] for r in rows} <= {"upsert", "delete"}
    state = dict(snap_a)
    for r in rows:
        if r["_change_type"] == "delete":
            state.pop(r["doc_id"], None)
        else:
            state[r["doc_id"]] = {
                k: v for k, v in r.items() if k not in ("_change_type", "_epoch")
            }

    def _cmp(d_):
        return {
            k: {kk: (tuple(vv) if isinstance(vv, list) else vv)
                for kk, vv in v.items()}
            for k, v in d_.items()
        }

    assert _cmp(state) == _cmp(latest)


def test_changelog_empty_and_expired(spark, workdir, small_binlog):
    d = f"{workdir}/cl_table2"
    table = replay(spark, small_binlog, d, lineage=False)
    v = table.state()["version"]
    empty = table.read_changes_between(spark, v)
    assert empty.count() == 0
    assert {"_change_type", "_epoch", "doc_id", "last_lsn"} <= set(empty.columns)
    hist = table.history()
    assert [h["version"] for h in hist] == sorted(h["version"] for h in hist)
    assert any(h["kind"] == "delta" for h in hist)
    v_first = hist[0]["version"]
    table.compact(spark)
    with pytest.raises(FileNotFoundError, match="consumed"):
        table.read_changes_between(spark, v_first).collect()


def test_legacy_journal_changelog_refuses_without_walking_the_floor(
    spark, workdir, small_binlog
):
    """A journal from before `epoch_floor` existed (its folded floor read
    as -inf, which a changelog window once tried to walk) is refused by
    the journal format check before the changelog scan plans anything.
    The read runs in a child process under a 2 GiB address-space limit
    and a 60 s timeout: an implementation that lists the span would
    otherwise grow until the host runs out of memory."""
    import glob
    import json
    import subprocess
    import sys

    d = f"{workdir}/cl_legacy"
    replay(spark, small_binlog, d, lineage=False, compact_every=2)
    for p in glob.glob(f"{d}/_journal/v*.json"):
        with open(p) as f:
            entry = json.load(f)
        entry.pop("epoch_floor", None)
        with open(p, "w") as f:
            json.dump(entry, f)
    with pytest.raises(ValueError, match="legacy journal format"):
        TargetTable(d).state()
    # the refusal comes before any Spark work, so no session is needed
    code = (
        "import resource, sys\n"
        "resource.setrlimit(resource.RLIMIT_AS, (2 << 30, 2 << 30))\n"
        "from cdc_spark.sinks.target import TargetTable\n"
        "try:\n"
        "    TargetTable(sys.argv[1]).read_changes_between(None, 0)\n"
        "except ValueError as e:\n"
        "    print('refused:', e)\n"
    )
    out = subprocess.run([sys.executable, "-c", code, d], cwd=_REPO,
                         capture_output=True, text=True, timeout=60)
    assert out.returncode == 0, out.stderr[-2000:]
    assert "refused:" in out.stdout and "legacy journal format" in out.stdout
    assert "'epoch_floor'" in out.stdout


def test_history_reports_max_epoch_of_compactions(spark, workdir, small_binlog):
    """A compaction folds its epochs into the watermark, leaving the
    entry's sparse `epochs` list empty; `history()` and `job history`
    must still report the highest applied epoch, as `max_epoch()` does."""
    import json
    import subprocess
    import sys

    d = f"{workdir}/hist_compacted"
    table = replay(spark, small_binlog, d, lineage=False, stop_after=4, compact_every=2)
    hist = table.history()
    assert hist[-1]["kind"] == "compact" and table.state()["epochs"] == []
    assert hist[-1]["max_epoch"] == table.max_epoch() == 3
    for h in hist:
        assert h["max_epoch"] == table.max_epoch(table.state_at(h["version"]))
    res = subprocess.run([sys.executable, "-m", "cdc_spark.job", "history", "--table", d],
                         capture_output=True, text=True, cwd=_REPO, timeout=120)
    assert res.returncode == 0, res.stderr[-2000:]
    assert json.loads(res.stdout.strip().splitlines()[-1]) == hist


def test_changes_cli_reports_version_zero(spark, workdir, small_binlog):
    """`job changes --to-version 0` names version 0 as the window end,
    not the head version (0 is a version, not "unset")."""
    import json
    import subprocess
    import sys

    d = f"{workdir}/cl_table_v0"
    table = replay(spark, small_binlog, d, lineage=False)
    assert table.history()[0]["version"] == 0
    assert table.state()["version"] > 0
    res = subprocess.run(
        [sys.executable, "-m", "cdc_spark.job", "changes", "--table", d,
         "--from-version", "0", "--to-version", "0", "--master", "local[2]"],
        capture_output=True, text=True, cwd=_REPO, timeout=600,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    assert out["to_version"] == 0 and out["rows"] == 0


def test_changelog_chains_to_downstream_replica(spark, workdir):
    """CDC chaining: a downstream replica built ONLY from changelog
    windows (one commit_delta per window) must resolve to the same
    state as the primary — the engine's output is itself a complete
    change feed. DDL-free feed so phys == logical schema."""
    import pyspark.sql.functions as F

    from cdc_spark.genlog import GenConfig, write_binlog

    d = f"{workdir}/chain_binlog"
    write_binlog(
        GenConfig(n_events=4000, n_docs=300, events_per_epoch=1000,
                  seed=13, ddl_schedule=()),
        d,
    )
    primary_dir = f"{workdir}/chain_primary"
    replica = TargetTable(f"{workdir}/chain_replica")
    replica.create_if_absent()
    versions = []
    for k in range(1, 5):
        primary = replay(spark, d, primary_dir, stop_after=k, lineage=False)
        versions.append(primary.state()["version"])
        # first window starts at the create entry (journal version 0)
        v_prev = versions[-2] if len(versions) > 1 else 0
        window = primary.read_changes_between(spark, v_prev, versions[-1])
        delta = window.withColumn(
            "deleted", F.col("_change_type") == "delete"
        ).drop("_change_type", "_epoch")
        replica.commit_delta(delta, epoch=k, stats=None)

    def _rows2(t):
        def _h(v):
            return tuple(v) if isinstance(v, list) else v

        return {
            tuple(sorted((k, _h(v)) for k, v in r.asDict().items()))
            for r in t.read_resolved(spark).collect()
        }

    primary = TargetTable(primary_dir)
    assert _rows2(replica) == _rows2(primary)
    assert len(_rows2(replica)) > 0

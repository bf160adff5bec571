"""Key-only change feeds (`images="fetch"`) — the reference's primary
source shape (SQL Server CT: keys + op on the wire, row images fetched
by joining the base table, CTInputDStream.java:112-131).

Pins the triangle: engine-fetch(keys) == oracle-fetch(keys) ==
engine-carry(fill_images(keys)) — the third leg replays a state-honest
full-image twin of the keys feed through the UNCHANGED carry path, so
the fetch implementation can't drift from the established carry
semantics without one of the legs failing."""

from __future__ import annotations

import glob

import pytest

from cdc_spark import oracle
from cdc_spark.genlog import (
    DDL_SCHEDULE_WITH_DROP,
    GenConfig,
    write_binlog_keys,
)
from cdc_spark.streaming.pipeline import replay
from tests.conftest import rows_equal


def _assert_fetch_matches_oracle(spark, table, keys_dir):
    state, reg = oracle.replay(f"{keys_dir}/segment-*.parquet", images="fetch")
    expected = oracle.final_rows(state, reg)
    actual = [r.asDict() for r in table.read_resolved(spark).collect()]
    diffs = rows_equal(expected, actual)
    assert not diffs, f"{len(diffs)} diffs, first 10: {diffs[:10]}"


@pytest.fixture(scope="module")
def keys_cfg():
    return GenConfig(
        n_events=5000, n_docs=300, events_per_epoch=1000, seed=31,
        ddl_schedule=DDL_SCHEDULE_WITH_DROP, p_heartbeat=0.01,
    )


@pytest.fixture(scope="module")
def keys_binlog(workdir, keys_cfg):
    d = f"{workdir}/binlog_keys"
    write_binlog_keys(keys_cfg, d)
    return d


def test_fetch_replay_matches_fetch_oracle(spark, workdir, keys_binlog):
    table = replay(spark, keys_binlog, f"{workdir}/t_fetch", images="fetch",
                   lineage=False)
    _assert_fetch_matches_oracle(spark, table, keys_binlog)


def test_fetch_equals_carry_on_filled_feed(spark, workdir, keys_binlog):
    """fill_images derives the state-honest full-image twin; replaying
    it through the untouched carry path must land on the same final
    state as fetch-replaying the keys feed."""
    filled = f"{workdir}/binlog_filled"
    oracle.fill_images(f"{keys_binlog}/segment-*.parquet", filled)
    t_carry = replay(spark, filled, f"{workdir}/t_carry_filled")
    t_fetch = replay(spark, keys_binlog, f"{workdir}/t_fetch2", images="fetch")
    a = {r["doc_id"]: r.asDict() for r in t_carry.read_resolved(spark).collect()}
    b = {r["doc_id"]: r.asDict() for r in t_fetch.read_resolved(spark).collect()}
    assert set(a) == set(b)
    diffs = [(k, a[k], b[k]) for k in a
             if {**a[k], "tokens": list(a[k]["tokens"] or [])}
             != {**b[k], "tokens": list(b[k]["tokens"] or [])}]
    assert not diffs, diffs[:5]


def test_fetch_cross_key_chains(spark, workdir):
    """PK-change-heavy + heavily masked feed: the driver-side cross-key
    resolver must reproduce the oracle exactly (chained copies of fields
    across keys within one epoch)."""
    cfg = GenConfig(
        n_events=3000, n_docs=120, events_per_epoch=600, seed=77,
        p_pk_change=0.5, p_missing_tokens=0.8, p_missing_source=0.8,
        ddl_schedule=(),
    )
    d = f"{workdir}/binlog_keys_chains"
    write_binlog_keys(cfg, d)
    table = replay(spark, d, f"{workdir}/t_chains", images="fetch", lineage=False)
    _assert_fetch_matches_oracle(spark, table, d)


def test_fetch_resumes_and_streams(spark, workdir, keys_binlog):
    """Fetch mode composes with the exactly-once drivers: a stopped
    replay resumes; the streaming driver lands on the same state."""
    from cdc_spark.streaming.pipeline import stream

    root = f"{workdir}/t_fetch_resume"
    replay(spark, keys_binlog, root, images="fetch", stop_after=2, lineage=False)
    table = replay(spark, keys_binlog, root, images="fetch", lineage=False)
    _assert_fetch_matches_oracle(spark, table, keys_binlog)

    t2 = stream(spark, keys_binlog, f"{workdir}/t_fetch_stream",
                checkpoint_dir=f"{workdir}/ckpt_fetch", images="fetch")
    _assert_fetch_matches_oracle(spark, t2, keys_binlog)


def test_fetch_state_join_is_broadcast(spark, workdir, keys_binlog):
    """Scale pin: the per-epoch image fetch streams the resolved table
    through broadcast joins (semi + left) — the state side never pays a
    shuffle, mirroring the reference's per-batch base-table join."""
    from cdc_spark.operators.fetch import build_fetch_delta
    from cdc_spark.sinks.target import TargetTable
    from cdc_spark.sources.binlog import list_segments, read_changes

    root = f"{workdir}/t_fetch_plan"
    replay(spark, keys_binlog, root, images="fetch", stop_after=2, lineage=False)
    table = TargetTable(root)
    segs = list_segments(keys_binlog)
    batch = read_changes(spark, segs[2])
    delta = build_fetch_delta(spark, table, batch, drops=[])
    plan = delta._jdf.queryExecution().executedPlan().toString()
    from cdc_spark.caching import release_persisted

    release_persisted()
    assert plan.count("BroadcastHashJoin") >= 2, plan  # semi + left
    assert "SortMergeJoin" not in plan


@pytest.mark.parametrize(
    "cfg",
    [
        # every winners-fold transition: PK-change resets, heavy masks,
        # deletes, extra-map folds, and a drop DDL purging folded values
        GenConfig(
            n_events=4000, n_docs=250, events_per_epoch=4000, seed=91,
            p_pk_change=0.3, p_missing_tokens=0.6, p_missing_source=0.6,
            ddl_schedule=DDL_SCHEDULE_WITH_DROP,
        ),
        # cross-key chains: half the updates re-key, so fields copy
        # across keys through multi-hop chains inside the one epoch
        GenConfig(
            n_events=3000, n_docs=120, events_per_epoch=3000, seed=77,
            p_pk_change=0.5, p_missing_tokens=0.8, p_missing_source=0.8,
            ddl_schedule=DDL_SCHEDULE_WITH_DROP,
        ),
    ],
    ids=["winners_fold", "cross_key_chains"],
)
def test_single_epoch_fetch_matches_oracle(spark, workdir, cfg):
    """The whole feed in ONE epoch, so the winners fold and the
    cross-key resolver see every transition (and the drop DDL's purge)
    at once; the final table must equal the fetch-mode oracle."""
    d = f"{workdir}/binlog_one_epoch_{cfg.seed}"
    write_binlog_keys(cfg, d)
    table = replay(spark, d, f"{workdir}/t_one_epoch_{cfg.seed}",
                   images="fetch", lineage=False)
    _assert_fetch_matches_oracle(spark, table, d)


def _winner_rows(df):
    """Winner rows keyed by doc_id, with tokens and extra as plain list/dict."""
    out = {}
    for r in df.collect():
        x = r.asDict()
        x["tokens"] = list(x["tokens"]) if x["tokens"] is not None else None
        x["extra"] = dict(x["extra"] or {})
        out[x["doc_id"]] = x
    return out


@pytest.fixture(scope="module")
def tree_feed(spark, workdir):
    """Resolved fetch events of a Zipf-skewed feed with every transition
    kind (PK-changes, masked fields, a drop DDL), its drops and its keys."""
    from cdc_spark.operators.fetch import normalize_fetch, resolve_cross_key
    from cdc_spark.sources.binlog import read_changes

    cfg = GenConfig(
        n_events=4000, n_docs=250, events_per_epoch=4000, seed=91,
        p_pk_change=0.3, p_missing_tokens=0.6, p_missing_source=0.6,
        ddl_schedule=DDL_SCHEDULE_WITH_DROP,
    )
    d = f"{workdir}/binlog_winner_tree"
    write_binlog_keys(cfg, d)
    batch = read_changes(spark, sorted(glob.glob(f"{d}/segment-*.parquet")))
    drops = [(2400, "rating")]
    events = resolve_cross_key(spark, normalize_fetch(batch), drops)
    keys = [r["doc_id"] for r in events.select("doc_id").distinct().collect()]
    return events, drops, keys


def test_winners_tree_equals_pandas_kernel(spark, tree_feed, monkeypatch):
    """The parallel-prefix winner fold (fetch_winners_tree, VERDICT r4
    #6: hot timelines fold as composed segment transitions instead of
    one serial task) must emit row-for-row what the sequential kernel
    emits on a Zipf-skewed feed with every transition kind — forcing
    EVERY key through tiny chunks so composition (incl. restart
    discards, marker inheritance, fold-stamp merge, drop purges) is
    exercised on deep chains, and separately with the sampled hot-key
    split."""
    from cdc_spark.operators import fetch
    from cdc_spark.operators.fetch import (
        fetch_winners, fetch_winners_tree, sample_key_profile,
    )

    events, drops, all_keys = tree_feed
    a = _winner_rows(fetch_winners(events, drops, n_events=4000))
    # every key chunked at width 64 (n_events=256 on one fold partition
    # asks for 64) → deep composition chains everywhere
    with monkeypatch.context() as m:
        m.setattr(fetch, "_MIN_CHUNK", 64)
        b = _winner_rows(fetch_winners_tree(events, drops, 256, all_keys))
    assert set(a) == set(b)
    diffs = [(k, a[k], b[k]) for k in a if a[k] != b[k]]
    assert not diffs, f"{len(diffs)} diffs, first 3: {diffs[:3]}"
    # sampled hot-key split
    hot = sample_key_profile(events, 4000)[0]
    c = _winner_rows(fetch_winners_tree(events, drops, 4000, hot))
    assert a == c


def test_winners_tree_equals_pandas_kernel_past_2p53(spark, tree_feed, monkeypatch):
    """lsns past 2^53 (a WAL byte offset can reach them) lose bits in a
    double: the tree fold's lsn chunks must divide in integers. With
    every lsn shifted by 2^62 and every key split into 64-lsn chunks,
    the tree fold stays row-equal to the sequential one."""
    from pyspark.sql import functions as F

    from cdc_spark.operators import fetch
    from cdc_spark.operators.fetch import fetch_winners, fetch_winners_tree

    events, drops, all_keys = tree_feed
    shift = 2 ** 62
    events = events.withColumn("lsn", F.col("lsn") + F.lit(shift))
    drops = [(lsn + shift, key) for lsn, key in drops]
    monkeypatch.setattr(fetch, "_MIN_CHUNK", 64)
    a = _winner_rows(fetch_winners(events, drops, n_events=256))
    assert min(r["lsn"] for r in a.values()) >= shift
    b = _winner_rows(fetch_winners_tree(events, drops, 256, all_keys))
    assert a == b


def test_winners_auto_dispatch(spark, workdir, monkeypatch, caplog):
    """`_winners` routes on the sampled key profile (BENCH.md
    crossover): small epochs take the sequential kernel without paying
    the profile job; above the gates a dominant timeline takes the tree
    fold — and BOTH routes emit identical winner rows."""
    import logging

    from cdc_spark.operators import fetch
    from cdc_spark.operators.fetch import (
        _winners, fetch_winners, normalize_fetch, resolve_cross_key,
        sample_key_profile,
    )
    from cdc_spark.sources.binlog import read_changes

    cfg = GenConfig(
        n_events=6000, n_docs=300, events_per_epoch=6000, seed=17,
        p_pk_change=0.1, zipf_s=2.0,
    )
    d = f"{workdir}/binlog_winner_auto"
    write_binlog_keys(cfg, d)
    batch = read_changes(spark, sorted(glob.glob(f"{d}/segment-*.parquet")))
    raw = normalize_fetch(batch)
    events = resolve_cross_key(spark, raw, [])

    hot, top = sample_key_profile(events, 6000)
    assert top > 0.3 and hot, (hot, top)  # zipf-2.0: one dominant key

    def tree_logged():
        return any("dispatch: tree" in r.getMessage() for r in caplog.records)

    a = _winner_rows(fetch_winners(events, [], n_events=6000))
    # forced-tree route (gates floored) must equal the sequential fold
    with caplog.at_level(logging.INFO, logger="cdc_spark.operators.fetch"):
        with monkeypatch.context() as m:
            m.setattr(fetch, "_TREE_MIN_EVENTS", 0)
            m.setattr(fetch, "_TREE_TOP_SHARE", 0.0)
            b = _winner_rows(_winners(spark, raw, [], None, 6000))
        assert tree_logged()
        assert a == b
        # default gates on a small epoch: sequential route, same rows
        caplog.clear()
        c = _winner_rows(_winners(spark, raw, [], None, 6000))
        assert not tree_logged()
    assert a == c


def test_fetch_pending_base_key_with_no_inepoch_events(spark, workdir):
    """Regression (found by the contract digest): a masked PK-change
    whose OLD key has no events earlier in the epoch must fetch the
    field from pre-epoch STATE, not resolve to an explicit null."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cdc_spark.genlog import ARROW_CHANGE

    d = f"{workdir}/binlog_empty_chain"
    import os

    os.makedirs(d, exist_ok=True)

    def ev(lsn, epoch, op, before_key=None, after=None, mask=None):
        return {
            "lsn": lsn, "epoch": epoch, "table": "corpus.tokens", "op_type": op,
            "primary_keys": ["doc_id"],
            "doc_id": (after or {}).get("doc_id") or before_key,
            "before": {"doc_id": before_key, "tokens": None, "n_tok": None,
                       "source": None, "extra": {}} if before_key else None,
            "after": after, "missing_mask": mask,
            "ddl_kind": None, "ddl_payload": None,
        }

    full = {"doc_id": "A", "tokens": [1, 2, 3], "n_tok": 3, "source": "wiki",
            "extra": {}}
    e0 = [ev(1, 0, "I", after=full)]
    # epoch 1: A's ONLY event is the masked PK-change into B
    e1 = [ev(2, 1, "U", before_key="A",
             after={"doc_id": "B", "tokens": None, "n_tok": None,
                    "source": "web", "extra": {}},
             mask=["tokens"])]
    pq.write_table(pa.Table.from_pylist(e0, schema=ARROW_CHANGE), f"{d}/segment-00000.parquet")
    pq.write_table(pa.Table.from_pylist(e1, schema=ARROW_CHANGE), f"{d}/segment-00001.parquet")
    table = replay(spark, d, f"{workdir}/t_empty_chain", images="fetch", lineage=False)
    rows = {r["doc_id"]: r.asDict() for r in table.read_resolved(spark).collect()}
    assert set(rows) == {"B"}  # A deleted by the PK change
    assert list(rows["B"]["tokens"]) == [1, 2, 3]  # fetched from A's state
    assert rows["B"]["source"] == "web"
    _assert_fetch_matches_oracle(spark, table, d)


def test_fetch_redelivery_after_ddl_commit_still_purges_drops(spark, workdir):
    """Crash-recovery pin: a crash between a drop_column's journal
    commit and the epoch's delta commit redelivers the epoch with the
    DDL already folded into the live registry. The drop-purge capture
    must read the registry as of BEFORE the drop (registry_before_ddl's
    journal walk), not the live one: when a same-epoch rename takes the
    freed name, the live registry maps the dropped name to the RENAMED
    column's source_key, and the purge then kills that surviving
    column's pre-drop values instead of the dropped one's."""
    import pyspark.sql.functions as F

    from cdc_spark.sinks.target import TargetTable
    from cdc_spark.sources.binlog import list_segments, read_changes

    cfg = GenConfig(
        n_events=4000, n_docs=200, events_per_epoch=2000, seed=13,
        p_extra_value=0.7,
        ddl_schedule=(
            (0.10, "add_column", {"name": "keepme", "type": "int"}),
            (0.12, "add_column", {"name": "tmp", "type": "int"}),
            (0.60, "drop_column", {"name": "tmp"}),
            (0.62, "rename_column", {"from": "keepme", "to": "tmp"}),
        ),
    )
    d = f"{workdir}/binlog_keys_crash"
    write_binlog_keys(cfg, d)
    root = f"{workdir}/t_fetch_crash"
    # epoch 0 applies normally; then the simulated crash: epoch 1's DDLs
    # journal-commit but its delta never does
    replay(spark, d, root, images="fetch", stop_after=1, lineage=False)
    table = TargetTable(root)
    segs = list_segments(d)
    batch = read_changes(spark, segs[1])
    ddls = sorted(
        batch.filter(F.col("op_type") == "DDL")
        .select("lsn", "epoch", "ddl_kind", "ddl_payload").collect(),
        key=lambda r: r["lsn"],
    )
    assert [r["ddl_kind"] for r in ddls] == ["drop_column", "rename_column"]
    for r in ddls:
        table.apply_ddl(spark, r["ddl_kind"], r["ddl_payload"],
                        ddl_id=f"{r['epoch']}:{r['lsn']}")
    assert not table.has_epoch(1)  # delta uncommitted: epoch redelivers
    replay(spark, d, root, images="fetch", lineage=False)
    _assert_fetch_matches_oracle(spark, table, d)


def test_fetch_pending_soft_cap_degrades_not_refuses(
    spark, workdir, monkeypatch, caplog
):
    """VERDICT r4 #4: an epoch with more cross-key (PK-change) edges
    than the SOFT cap must resolve correctly with a logged degradation
    note — a mass re-key migration at 0.05% of a 100M-event epoch is a
    legitimate feed, not a reason to kill the stream. Only the HARD cap
    (driver-memory bound on the edge set itself) still refuses."""
    import logging

    import cdc_spark.operators.fetch as fo

    cfg = GenConfig(
        n_events=2000, n_docs=100, events_per_epoch=2000, seed=99,
        p_pk_change=0.4, p_missing_tokens=0.6, p_missing_source=0.6,
        ddl_schedule=(),
    )
    d = f"{workdir}/binlog_softcap"
    write_binlog_keys(cfg, d)
    monkeypatch.setattr(fo, "_PENDING_MAX", 8)
    with caplog.at_level(logging.WARNING, logger="cdc_spark.operators.fetch"):
        table = replay(spark, d, f"{workdir}/t_softcap", images="fetch",
                       lineage=False)
    assert any("degrading" in r.message for r in caplog.records), (
        "expected a degradation warning above the soft cap"
    )
    _assert_fetch_matches_oracle(spark, table, d)  # oracle-exact anyway
    monkeypatch.setattr(fo, "_PENDING_HARD_MAX", 8)
    with pytest.raises(ValueError, match="cross-key"):
        replay(spark, d, f"{workdir}/t_hardcap", images="fetch",
               lineage=False)


def test_fetch_state_join_fallback_above_caps(spark, workdir, keys_binlog, monkeypatch):
    """Epochs whose needy-key set exceeds the broadcast caps must take
    the shuffled state-join fallback and still land on the oracle
    state (forced here by setting both caps below any count)."""
    import cdc_spark.operators.fetch as fo

    monkeypatch.setattr(fo, "_IMAGE_BROADCAST_CAP", -1)
    monkeypatch.setattr(fo, "_SEMI_BROADCAST_CAP", -1)
    table = replay(spark, keys_binlog, f"{workdir}/t_fetch_nobc",
                   images="fetch", lineage=False)
    _assert_fetch_matches_oracle(spark, table, keys_binlog)



def test_replay_failure_drains_prefetch(spark, workdir):
    """A mid-run failure (epoch 1 carries unknown ops) must leave no
    pinned caches behind: the pipelined replay's in-flight prefetch for
    epoch 2 is drained (its persisted frames released) before the
    ValueError propagates — otherwise every caught-and-continued feed
    error would leak an epoch's normalized-events cache for the
    session's lifetime."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cdc_spark.streaming.pipeline import replay

    cfg = GenConfig(n_events=3000, n_docs=200, events_per_epoch=1000, seed=5)
    d = f"{workdir}/binlog_drain"
    write_binlog_keys(cfg, d)
    for p in glob.glob(f"{d}/segment-00001*.parquet"):
        t = pq.read_table(p)
        i = t.schema.get_field_index("op_type")
        t = t.set_column(i, "op_type", pa.array(["X"] * t.num_rows))
        pq.write_table(t, p)
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    with pytest.raises(ValueError, match="unknown op_type"):
        replay(spark, d, f"{workdir}/table_drain", images="fetch")
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert after <= before, (before, after)


def test_lookahead_failure_warns_and_applies_synchronously(
    spark, workdir, monkeypatch, caplog
):
    """A failed look-ahead prepare of epoch N+1 is advisory: it logs one
    WARNING with its traceback, that epoch's apply then prepares it
    synchronously, and the table still equals the fetch oracle."""
    import logging
    import threading

    from cdc_spark.operators import fetch

    cfg = GenConfig(n_events=3000, n_docs=200, events_per_epoch=1000,
                    seed=17, ddl_schedule=())
    d = f"{workdir}/binlog_lookahead_fail"
    write_binlog_keys(cfg, d)
    real = fetch.prepare_fetch_epoch
    failed = []

    def fail_first_lookahead(*args, **kwargs):
        if threading.current_thread() is not threading.main_thread() and not failed:
            failed.append(True)
            raise RuntimeError("injected look-ahead failure")
        return real(*args, **kwargs)

    monkeypatch.setattr(fetch, "prepare_fetch_epoch", fail_first_lookahead)
    with caplog.at_level(logging.WARNING, logger="cdc_spark"):
        table = replay(spark, d, f"{workdir}/t_lookahead_fail", images="fetch",
                       lineage=False)
    assert failed == [True]
    warned = [r for r in caplog.records
              if r.name.startswith("cdc_spark") and r.levelno >= logging.WARNING]
    assert len(warned) == 1, [r.getMessage() for r in warned]
    assert "injected look-ahead failure" in str(warned[0].exc_info[1])
    _assert_fetch_matches_oracle(spark, table, d)

"""Pin the physical-plan properties the engine's scale story depends on
(SURVEY.md §4): pushdown, pruning, map-side partial aggregation, and
shuffle counts. A regression here silently becomes a full-table scan or
an extra 100-TB shuffle in production — so it fails loudly in CI."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from cdc_spark.operators.dedupe import lww_dedupe
from cdc_spark.operators.normalize import normalize
from cdc_spark.plans.inspect import (
    count_exchanges,
    has_partial_aggregate,
    pushed_filters,
    scan_columns,
)
from cdc_spark.sources.binlog import read_changes


def test_ddl_scan_prunes_and_pushes(spark, small_binlog):
    """The per-batch DDL probe must read 4 narrow columns with the
    op_type filter pushed to parquet — never the nested payload."""
    q = (
        read_changes(spark, small_binlog)
        .filter(F.col("op_type") == "DDL")
        .select("lsn", "ddl_kind", "ddl_payload")
    )
    assert any("EqualTo(op_type,DDL)" in f for f in pushed_filters(q))
    cols = scan_columns(q)
    assert "before" not in cols and "after" not in cols and "tokens" not in cols


def test_lsn_range_scan_pushdown(spark, small_binlog):
    q = read_changes(spark, small_binlog).filter(
        (F.col("lsn") > 100) & (F.col("lsn") <= 2000)
    )
    fs = pushed_filters(q)
    assert any("GreaterThan(lsn" in f for f in fs)
    assert any("LessThanOrEqual(lsn" in f for f in fs)


def test_lww_agg_partial_aggregates_one_shuffle(spark, small_binlog):
    """The 100-TB dedupe path: map-side partial max_by, exactly one
    shuffle — hot keys reduce locally before hitting the wire."""
    ev = normalize(read_changes(spark, small_binlog))
    dd = lww_dedupe(ev)
    assert has_partial_aggregate(dd)
    assert count_exchanges(dd) == 1


def test_minhash_partial_aggregates(spark):
    from cdc_spark.functions.dedup import minhash_signatures

    df = spark.createDataFrame(
        [(i, f"w{i} common tokens here for shingles {i}") for i in range(20)],
        ["doc_id", "text"],
    )
    sigs = minhash_signatures(df)
    assert has_partial_aggregate(sigs)
    assert count_exchanges(sigs) == 1


def test_enrich_join_broadcasts_dims(spark):
    """Dimension enrichment must plan as BroadcastHashJoin — the fact
    side must not shuffle for the join."""
    import __spark_entry__ as em
    from cdc_spark.plans.inspect import formatted_plan

    import re

    q = em.queries()["enrich_broadcast_join"](spark, "/root/testdata/sf0.001")
    plan = formatted_plan(q)
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 2
    assert "SortMergeJoin" not in plan


def test_image_fetch_join_streams_base(spark):
    """The CT image-fetch shape must keep the base side cheap: the
    change-key set broadcast-SEMI-filters the base scan before any
    aggregate (a full-base aggregate would shuffle 100 TB), and the
    outer image join is itself a broadcast — no SortMergeJoin
    anywhere."""
    import __spark_entry__ as em
    from cdc_spark.caching import release_persisted
    from cdc_spark.plans.inspect import formatted_plan

    q = em.queries()["cdc_image_fetch_join"](spark, "/root/testdata/sf0.001")
    plan = formatted_plan(q)
    release_persisted()
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan and ("LeftOuter" in plan or "BuildRight" in plan)


def test_no_cartesian_in_any_contract_query(spark):
    """No queries() plan may contain a CartesianProduct or
    BroadcastNestedLoopJoin — the one cartesian of round 1
    (emb_near_dup_exact) is now grid-blocked into equi-joins.

    The engine-drive entries (replay / streaming / multi-table / fetch
    variants) are excluded: building their DataFrame RUNS the whole
    engine, whose plans are pinned by their own tests; the returned
    frame is a small localCheckpoint'd post-hoc result with a trivial
    plan — scanning it here costs 1-2 min of replay per entry for zero
    coverage."""
    import __spark_entry__ as em
    from cdc_spark.caching import release_persisted
    from cdc_spark.plans.inspect import formatted_plan

    skip = {
        "cdc_replay_final_state", "cdc_replay_final_state_honest",
        "cdc_streaming_source_stats",
        "cdc_fetch_replay_final_state", "cdc_multi_table_replay",
        "cdc_multi_table_fetch_replay",
    }
    for name, fn in em.queries().items():
        if name in skip:
            continue
        plan = formatted_plan(fn(spark, "/root/testdata/sf0.001"))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
    release_persisted()


def test_exact_pairs_grid_join_shape(spark):
    """exact_pairs_blocked must plan as broadcast block-pair replication
    + one shuffled HASH join on the composite key — no cartesian, no
    wasted sort (pair enumeration needs no ordering)."""
    from cdc_spark.functions.similarity import exact_pairs_blocked
    from cdc_spark.plans.inspect import formatted_plan

    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(40)], ["vec_id", "embedding"]
    )
    plan = formatted_plan(exact_pairs_blocked(df, 0.5, n_blocks=4))
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def _mk_fetch_events(spark, n_docs: int, n_pkc: int):
    """Synthetic FETCH_EVENT rows: n_docs plain inserts + n_pkc cross-key
    PK-change I-halves (reset with base_key → resolve pendings)."""
    from cdc_spark.operators.fetch import FETCH_EVENT_SCHEMA

    rows = []
    lsn = 0
    for i in range(n_docs):
        lsn += 1
        rows.append((lsn, 0, f"d{i}", False, [1, 2], 2, "s", {}, True, True,
                     True, None))
    for j in range(n_pkc):
        lsn += 1
        rows.append((lsn, 0, f"n{j}", False, None, None, None, {}, False,
                     False, True, f"d{j}"))
    return spark.createDataFrame(rows, FETCH_EVENT_SCHEMA)


def test_fetch_exchange_widths_are_data_sized(spark):
    """VERDICT r4 #2: the winners-fold and chain-resolve exchanges must
    be sized by their WORKLOAD (ceil(n_events/_EVENTS_PER_FOLD_PART),
    ceil(queried/_QUERIED_PER_PART)), NOT by spark.sql.shuffle.partitions
    — the round-4 local[32] regression (63–77 s fetch replay) was these
    two mapInPandas exchanges fanning tiny Python tasks across a
    session-default-wide shuffle. Runs the same plans under two shuffle
    settings; fails if either repartition is removed (no data-sized
    hashpartitioning exchange would remain) or starts tracking the
    session default."""
    import math

    from cdc_spark.operators.fetch import (
        _EVENTS_PER_FOLD_PART, _QUERIED_PER_PART, fetch_winners,
        resolve_cross_key,
    )
    from cdc_spark.plans.inspect import hash_exchange_widths

    n_events = 200_000  # sizing hint (not actual rows): → 4 fold parts
    want_fold = math.ceil(n_events / _EVENTS_PER_FOLD_PART)
    n_pkc = 300  # 300 queried keys → 3 resolve-kernel parts
    want_resolve = math.ceil(n_pkc / _QUERIED_PER_PART)
    events = _mk_fetch_events(spark, n_docs=400, n_pkc=n_pkc)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for sp in ("7", "29"):
            spark.conf.set("spark.sql.shuffle.partitions", sp)
            w = hash_exchange_widths(fetch_winners(events, [], n_events=n_events))
            assert w.get("doc_id") == [want_fold], (sp, w)
            r = hash_exchange_widths(
                resolve_cross_key(spark, events, [], n_pk_change=n_pkc)
            )
            assert r.get("_comp") == [want_resolve], (sp, r)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_topk_plan_has_no_shuffle(spark):
    """brute_force_topk must plan as TakeOrderedAndProject (per-partition
    heaps + driver merge) — no global sort, no exchange."""
    from cdc_spark.functions.similarity import brute_force_topk
    from cdc_spark.plans.inspect import formatted_plan

    df = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5]) for i in range(50)], ["vec_id", "embedding"]
    )
    q = brute_force_topk(df, [1.0, 0.0, 0.0], k=5)
    plan = formatted_plan(q)
    assert "TakeOrderedAndProject" in plan
    assert count_exchanges(q) == 0

"""Micro-batch apply lifecycle (SURVEY.md §3.4) — the engine's core loop.

Per micro-batch (epoch), mirroring the reference's per-batch flow
(CTSQLServer.java:70-122 source graph; sink apply CDCKudu.java:352-384)
but set-based instead of row-at-a-time:

1. split DDL events (rare/tiny) → apply to table metadata FIRST — the
   two-phase replacement for the reference's DDL-before-DML sort barrier
   (CTSQLServer.java:108-114). Each DDL commit is idempotent by
   (epoch, lsn) id, so a crash mid-batch resumes safely.
2. normalize DML → canonical apply-events (operators.normalize).
3. LWW-dedupe per doc_id (operators.dedupe) — restores per-key order so
   the feed can be read from N partitions (fixes the reference's
   single-partition TODO, CTInputDStream.java:127).
4. project to the table's physical schema under the current registry and
   commit as a delta — idempotent per epoch (exactly-once; the reference
   keeps offsets in driver memory only, CTInputDStream.java:60-62,96-97).
5. emit per-partition lineage (offset range, op counts, snapshot id,
   events/sec) — FIXTURES.md F3, required by the north rule.

Both drivers below (batch `replay`, Structured Streaming `stream`) call
the same `apply_batch`, so resume/replay semantics are identical.
"""

from __future__ import annotations

import json
import logging
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_spark.operators.dedupe import lww_dedupe
from cdc_spark.operators.normalize import normalize
from cdc_spark.sinks.target import TableRouter, TargetTable, project_to_table
from cdc_spark.sources.binlog import list_segments, read_changes, stream_reader

__all__ = [
    "apply_batch", "apply_batch_multi", "replay", "replay_multi", "stream",
    "read_changes",
]

_LOG = logging.getLogger(__name__)

#: driver-side collect cap for the per-epoch DDL/unknown-op probe — DDL
#: volume is tiny by design; a feed above this is hostile or corrupt
_DDL_PROBE_MAX = 10_000


# NB: project_to_table moved to sinks/target.py (ref-deltas project at
# read time); imported above and re-exported for former callers.


def lineage_stats(raw: DataFrame, pk_change: bool = False) -> DataFrame:
    """Per-partition offset range + op counts (F3) AND the partition's
    DDL events, in ONE narrow aggregation over a pruned 4-column scan.

    Folding the DDL probe into the lineage pass (collect_list skips the
    nulls non-DDL rows produce) drops the per-micro-batch Spark job
    count from 3 to 2 — at 10^10 events the per-epoch barrier count is
    a throughput term of its own. DDL volume is tiny by design, so
    carrying the events through the aggregate is free.

    `pk_change=True` adds an `n_pk_change` counter (updates whose
    before/after doc_id differ) — fetch mode uses it to skip the
    cross-key resolve pass (and its probe job) outright on the common
    no-PK-change epoch. Opt-in because it widens the pruned scan by the
    two nested doc_id leaves; carry mode never needs it."""
    ddl_evt = F.when(
        F.col("op_type") == "DDL",
        F.struct(F.col("lsn"), F.col("table"), F.col("ddl_kind"), F.col("ddl_payload")),
    )
    pkc = (
        [
            F.sum(
                F.when(
                    (F.col("op_type") == "U")
                    & F.col("before.doc_id").isNotNull()
                    & (F.col("before.doc_id") != F.col("after.doc_id")),
                    1,
                ).otherwise(0)
            ).alias("n_pk_change")
        ]
        if pk_change
        else []
    )
    return (
        raw.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(
            *pkc,
            F.min("lsn").alias("min_lsn"),
            F.max("lsn").alias("max_lsn"),
            F.sum(F.when(F.col("op_type") == "I", 1).otherwise(0)).alias("n_insert"),
            F.sum(F.when(F.col("op_type") == "U", 1).otherwise(0)).alias("n_update"),
            F.sum(F.when(F.col("op_type") == "D", 1).otherwise(0)).alias("n_delete"),
            F.sum(F.when(F.col("op_type") == "DDL", 1).otherwise(0)).alias("n_ddl"),
            F.sum(F.when(F.col("op_type") == "H", 1).otherwise(0)).alias("n_heartbeat"),
            F.sum(
                # NULL op_type (e.g. a malformed Kafka message decoded by
                # from_json to an all-NULL row) must count as unknown:
                # under three-valued logic ~isin(NULL) is NULL, which
                # F.when treats as false — so test NULL explicitly
                F.when(
                    F.col("op_type").isNull()
                    | ~F.col("op_type").isin("I", "U", "D", "DDL", "H"),
                    1,
                ).otherwise(0)
            ).alias("n_unknown"),
            F.collect_list(ddl_evt).alias("ddl_events"),
        )
    )


def apply_batch(
    spark: SparkSession,
    table: TargetTable,
    batch: DataFrame,
    epoch: int,
    lineage_dir: str | None = None,
    verify_redelivery: bool = False,
    images: str = "carry",
    prepared: dict | None = None,
) -> dict:
    """Apply one epoch's change events; returns {applied, n_events, ...}.

    Idempotent: re-delivery of an applied epoch is a no-op (exactly-once).
    `verify_redelivery=True` additionally cross-checks a redelivered
    epoch's count/lsn-range against the journal (costs one pruned scan of
    the redelivered batch) — the streaming driver enables it because a
    file-source trigger limit can split an epoch across micro-batches;
    batch `replay` always delivers whole epochs, so it skips the scan and
    resume stays O(1) per committed epoch.

    `images="carry"` (default): events carry full before/after images
    (the GoldenGate shape). `images="fetch"`: the feed is key-only (the
    reference's SQL Server CT shape, CTInputDStream.java:112-131) and
    unsupplied fields are fetched from earlier same-epoch events or the
    table's own resolved state (operators/fetch.py).

    `prepared` (fetch mode only): this epoch's prefetch result — the
    lineage rows plus (unless `fallback` is set because the epoch has
    DDL/unknown ops) the already-materialized winners and their exact
    needy-key count, computed ahead of time by `replay`'s pipeline
    thread while the PREVIOUS epoch was still committing
    (operators/fetch.py `prepare_fetch_epoch`). The caller owns (and
    releases) `prepared["persisted"]` after this returns."""
    if images not in ("carry", "fetch"):
        raise ValueError(f"unknown images mode {images!r}")
    t0 = time.monotonic()
    if table.has_epoch(epoch):
        # Exactly-once no-op on true redelivery — but a COUNT/LSN-range
        # mismatch means this delivery carries rows the committed epoch
        # never saw (an epoch split across micro-batches). Silently
        # no-op'ing would lose those rows; fail loudly instead.
        recorded = table.epoch_stats(epoch) if verify_redelivery else None
        if recorded is not None:
            seen = batch.agg(
                F.count(F.lit(1)).alias("n"),
                F.min("lsn").alias("lo"), F.max("lsn").alias("hi"),
            ).first()
            got = {"n_events": seen["n"], "min_lsn": seen["lo"], "max_lsn": seen["hi"]}
            if got != recorded:
                raise RuntimeError(
                    f"epoch {epoch} redelivered with different contents "
                    f"(committed {recorded}, got {got}); an epoch was "
                    "split across micro-batches — deliver binlog epochs "
                    "atomically (maxFilesPerTrigger >= parts per segment)"
                )
        return {"applied": False, "epoch": epoch, "reason": "epoch already committed"}

    # NB: deliberately NOT persist()ed. The two jobs below read disjoint
    # column subsets (lineage+DDL: 4 tiny cols; main pass: payload) —
    # parquet column pruning makes each scan cheaper than materializing
    # the nested before/after structs + maps into the columnar cache
    # (measured 5.8s persist vs <1s pruned scans per 250k-event epoch).

    if lineage_dir is None and images == "carry":
        # -- fast path (no per-partition lineage requested): the epoch's
        # guard + journal stats fold into the WRITE job as Observation
        # metrics (CollectMetrics blocks filter pushdown through it, so
        # every raw row is counted), and the pre-pass shrinks to the
        # pushdown-pruned DDL probe. Cuts one full-scan job per epoch —
        # per-epoch fixed cost is the dominant throughput term for small
        # micro-batches (BENCH.md epoch-size sensitivity table). Fetch
        # mode always takes the full pre-pass (it needs the stats and
        # the drop-DDL list before touching state anyway).
        return _apply_batch_observed(spark, table, batch, epoch, t0)

    # -- phase 1: one pruned pass → per-partition lineage + DDL barrier
    # (the prefetch thread already paid this scan when `prepared`) -------
    if prepared is not None:
        lineage = prepared["lineage"]
    else:
        lineage = lineage_stats(batch, pk_change=(images == "fetch")).collect()
    n_unknown = int(sum(r["n_unknown"] for r in lineage))
    if n_unknown:
        # strict like the reference's Kudu sink (CDCKudu.java:171-173);
        # heartbeats ('H') are the only tolerated non-change op (T10,
        # Normalizer.java:68-72) — anything else silently dropped would
        # be data loss
        raise ValueError(
            f"epoch {epoch}: {n_unknown} events with unknown op_type "
            "(not I/U/D/DDL/H); refusing to apply the batch"
        )
    ddl_rows = sorted(
        (e for r in lineage for e in r["ddl_events"]), key=lambda e: e["lsn"]
    )
    drops: list[tuple[int, str]] = []
    for r in ddl_rows:
        if images == "fetch" and r["ddl_kind"] == "drop_column":
            # fetch folds accumulate extra values across the epoch; a
            # drop must purge values set before it from the fold (the
            # oracle purges its state the same way) — capture the
            # column's source_key from the registry BEFORE the drop.
            # registry_before_ddl (not the live registry): on a crash-
            # recovery redelivery the drop's journal commit already
            # removed the mapping, and a same-epoch re-add would then
            # leak pre-drop values without the purge
            from cdc_spark.sinks.target import norm_registry

            name = json.loads(r["ddl_payload"])["name"]
            reg_b = norm_registry(
                table.registry_before_ddl(f"{epoch}:{r['lsn']}")
            )
            hit = [c for c in reg_b if c["target"] == name]
            if hit:
                drops.append((r["lsn"], hit[0]["source_key"]))
        table.apply_ddl(spark, r["ddl_kind"], r["ddl_payload"], ddl_id=f"{epoch}:{r['lsn']}")

    registry = table.state()["registry"]

    # -- phase 2: normalize → dedupe → project → delta commit --
    if images == "fetch":
        if prepared is not None and not prepared.get("fallback"):
            # pipelined epoch: winners already resolved, folded,
            # persisted AND counted by the prefetch thread — only the
            # state join + write (the genuinely commit-ordered tail)
            # remains. An epoch with DDL/unknown ops never lands here
            # (the prefetch marks it fallback: its drops capture needs
            # the DDL barrier applied first).
            from cdc_spark.operators.fetch import fetch_delta

            delta = fetch_delta(
                spark, prepared["winners"], table.read_resolved(spark),
                registry, n_needy=prepared["n_needy"],
            )
        else:
            from cdc_spark.operators.fetch import build_fetch_delta

            n_pkc = int(sum(r["n_pk_change"] for r in lineage))
            n_dml = int(sum(r["n_insert"] + r["n_update"] + r["n_delete"] for r in lineage))
            delta = build_fetch_delta(spark, table, batch, drops,
                                      n_pk_change=n_pkc, n_events=n_dml)
    else:
        events = normalize(batch)
        deduped = lww_dedupe(events, key="doc_id", order="lsn")
        delta = project_to_table(deduped, registry)
    n_events = int(sum(r["n_insert"] + r["n_update"] + r["n_delete"] + r["n_ddl"] for r in lineage))
    stats = {
        "n_events": n_events + int(sum(r["n_heartbeat"] for r in lineage)),
        "min_lsn": min((r["min_lsn"] for r in lineage), default=None),
        "max_lsn": max((r["max_lsn"] for r in lineage), default=None),
    }
    # the LWW dedupe aggregate already hash-partitions by doc_id (fetch
    # mode's per-key replay exchange likewise), so the bucketed delta
    # write needs no second exchange
    entry = table.commit_delta(delta, epoch, stats=stats, pre_partitioned=True)
    if images == "fetch":
        from cdc_spark.caching import release_persisted

        release_persisted()  # the fetch winners cache is epoch-scoped

    dt = time.monotonic() - t0
    if lineage_dir is not None and entry is not None:
        os.makedirs(lineage_dir, exist_ok=True)
        rows = [
            {
                "epoch": epoch,
                "partition_id": r["partition_id"],
                "min_lsn": r["min_lsn"],
                "max_lsn": r["max_lsn"],
                "n_insert": r["n_insert"],
                "n_update": r["n_update"],
                "n_delete": r["n_delete"],
                "n_ddl": r["n_ddl"],
                "n_heartbeat": r["n_heartbeat"],
                "snapshot_id": entry["snapshot_id"],
                "events_per_sec": n_events / dt if dt > 0 else None,
            }
            for r in lineage
        ]
        with open(os.path.join(lineage_dir, f"epoch-{epoch:08d}.json"), "w") as f:
            json.dump(rows, f)
    return {
        "applied": entry is not None,
        "epoch": epoch,
        "n_events": n_events,
        "n_ddl": len(ddl_rows),
        "seconds": dt,
        "snapshot_id": entry["snapshot_id"] if entry else None,
    }


def _apply_batch_observed(
    spark: SparkSession,
    table: TargetTable,
    batch: DataFrame,
    epoch: int,
    t0: float,
) -> dict:
    """apply_batch's single-job fast path: DDL via pruned probe, guard +
    stats via Observation on the delta-write job (see apply_batch)."""
    from pyspark.sql import Observation

    # one pruned probe returns BOTH the DDL rows and any unknown-op rows,
    # so the strict guard fires BEFORE any DDL mutates the table — on the
    # lineage path a refused batch leaves the table untouched, and the
    # fast path must match (a drop_column would otherwise have already
    # compacted the column away for a batch the engine claims it refused).
    # The collect is bounded: DDL volume is tiny by design, so a feed
    # exceeding the cap is hostile/corrupt and must not OOM the driver.
    probe = (
        batch.filter(
            F.col("op_type").isNull()
            | ~F.col("op_type").isin("I", "U", "D", "H")
        )
        .select("lsn", "op_type", "ddl_kind", "ddl_payload")
        .limit(_DDL_PROBE_MAX + 1)
        .collect()
    )
    if len(probe) > _DDL_PROBE_MAX:
        raise ValueError(
            f"epoch {epoch}: more than {_DDL_PROBE_MAX} DDL/unknown-op "
            "events in one epoch; refusing to collect a pathological feed "
            "driver-side"
        )
    n_unknown_probe = sum(1 for r in probe if r["op_type"] != "DDL")
    if n_unknown_probe:
        raise ValueError(
            f"epoch {epoch}: {n_unknown_probe} events with unknown op_type "
            "(not I/U/D/DDL/H); refusing to apply the batch"
        )
    ddl_rows = sorted((r for r in probe if r["op_type"] == "DDL"), key=lambda r: r["lsn"])
    for r in ddl_rows:
        table.apply_ddl(spark, r["ddl_kind"], r["ddl_payload"], ddl_id=f"{epoch}:{r['lsn']}")
    registry = table.state()["registry"]

    obs = Observation(f"epoch-{epoch}")
    observed = batch.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.min("lsn").alias("min_lsn"),
        F.max("lsn").alias("max_lsn"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("op_type").isNull()
                    | ~F.col("op_type").isin("I", "U", "D", "DDL", "H"),
                    1,
                ).otherwise(0)
            ),
            F.lit(0).cast("long"),
        ).alias("n_unknown"),
        F.coalesce(
            F.sum(F.when(F.col("op_type") == "H", 1).otherwise(0)),
            F.lit(0).cast("long"),
        ).alias("n_heartbeat"),
    )
    events = normalize(observed)
    deduped = lww_dedupe(events, key="doc_id", order="lsn")
    delta = project_to_table(deduped, registry)

    metrics: dict = {}

    def stats_fn() -> dict:
        m = obs.get  # available once the write action finished
        metrics.update(m)
        if m["n_unknown"]:
            # NOT redundant with the pre-write probe: the probe and the
            # write job are two separate scans of the batch. For
            # immutable file segments they agree by construction, but a
            # source without snapshot-stable rescans (e.g. a JDBC outbox
            # polled without an upper-bound predicate) can present rows
            # to the write job the probe never saw — this is the last
            # guard before the journal commit makes them permanent.
            raise ValueError(
                f"epoch {epoch}: {m['n_unknown']} events with unknown op_type "
                "(not I/U/D/DDL/H); refusing to commit the batch"
            )
        return {"n_events": m["n_rows"], "min_lsn": m["min_lsn"], "max_lsn": m["max_lsn"]}

    entry = table.commit_delta(delta, epoch, stats=stats_fn, pre_partitioned=True)
    dt = time.monotonic() - t0
    return {
        "applied": entry is not None,
        "epoch": epoch,
        # metrics stay empty if commit_delta no-op'ed on a redelivery
        # race (stats_fn never ran)
        "n_events": int(metrics.get("n_rows", 0) - metrics.get("n_heartbeat", 0)),
        "n_ddl": len(ddl_rows),
        "seconds": dt,
        "snapshot_id": entry["snapshot_id"] if entry else None,
    }


def apply_batch_multi(
    spark: SparkSession,
    router: TableRouter,
    batch: DataFrame,
    epoch: int,
    lineage: bool = True,
    images: str = "carry",
) -> dict:
    """Apply one epoch's change events, routed per `table` column into
    the router's per-table TargetTables (reference: per-table RDD loop,
    CTInputDStream.java:65-99).

    Two-phase like apply_batch: ALL DDL (any table) applies before any
    DML commit, each idempotent by (epoch, lsn). Per-table epoch commits
    are independently idempotent — a crash between two tables' commits
    resumes with the committed table no-op'ing.

    SINGLE-PASS routing (round 3): the feed is scanned a CONSTANT number
    of times regardless of table count. One job normalizes + LWW-dedupes
    the whole epoch keyed by (table, doc_id) and stages the winners
    partitioned by table; each table then commits a journal-only
    REFERENCE to its partition slice (TargetTable.commit_delta_ref —
    zero Spark jobs). The old shape filtered and re-scanned the feed
    once per table: fine at 2 tables, linear-cost at 100. Returns
    {applied_tables, skipped_tables, n_events, n_ddl, seconds}.

    `images="fetch"` (key-only CT-shaped feed): the same single staging
    job normalizes the epoch into setter-flagged fetch events
    partitioned by table; each table's slice then runs the fetch tail
    (cross-key resolve → per-key replay → typed join against THAT
    table's resolved state, operators/fetch.py) and commits a real
    delta. Per-table state joins are inherent to fetch — only work
    proportional to a table's own slice is per-table; the feed itself
    is still scanned a constant number of times."""
    if images not in ("carry", "fetch"):
        raise ValueError(f"unknown images mode {images!r}")
    t0 = time.monotonic()

    # -- phase 0: one pruned pass → per-table stats (which tables, how
    # many events, lsn range — the per-table redelivery fingerprint) +
    # the unknown-op guard, folded so no extra full scan is needed ------
    # n_pk_change feeds the fetch tail's resolve-skip; it is NOT part of
    # per_table (the journal's redelivery fingerprint — widening that
    # dict would break equality against epochs committed by older code)
    pkc = (
        [
            F.sum(
                F.when(
                    (F.col("op_type") == "U")
                    & F.col("before.doc_id").isNotNull()
                    & (F.col("before.doc_id") != F.col("after.doc_id")),
                    1,
                ).otherwise(0)
            ).alias("n_pkc")
        ]
        if images == "fetch"
        else []
    )
    stats_rows = batch.groupBy("table").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("lsn").alias("lo"), F.max("lsn").alias("hi"),
        F.sum(
            F.when(
                F.col("op_type").isNull()
                | ~F.col("op_type").isin("I", "U", "D", "DDL", "H"),
                1,
            ).otherwise(0)
        ).alias("n_unknown"),
        *pkc,
    ).collect()
    per_table = {
        r["table"]: {"n_events": r["n"], "min_lsn": r["lo"], "max_lsn": r["hi"]}
        for r in stats_rows
    }
    pkc_by_table = (
        {r["table"]: int(r["n_pkc"]) for r in stats_rows}
        if images == "fetch"
        else {}
    )
    n_unknown = int(sum(r["n_unknown"] for r in stats_rows))
    if n_unknown:
        raise ValueError(
            f"epoch {epoch}: {n_unknown} events with unknown op_type "
            "(not I/U/D/DDL/H); refusing to apply the batch"
        )

    # -- phase 1: DDL barrier (all tables, before any DML). With lineage
    # off this is the pushdown-pruned probe; with lineage on the full
    # per-partition pass supplies the DDL events for free -----------------
    if lineage:
        lineage_rows = lineage_stats(batch).collect()
        ddl_rows = sorted(
            (e for r in lineage_rows for e in r["ddl_events"]), key=lambda e: e["lsn"]
        )
    else:
        lineage_rows = []
        ddl_rows = sorted(
            batch.filter(F.col("op_type") == "DDL")
            .select("lsn", "table", "ddl_kind", "ddl_payload")
            .collect(),
            key=lambda r: r["lsn"],
        )
    drops_by_table: dict[str, list[tuple[int, str]]] = {}
    for r in ddl_rows:
        t = router.get(r["table"])
        if images == "fetch" and r["ddl_kind"] == "drop_column":
            # capture the dropped column's source_key BEFORE the drop
            # mutates the registry — fetch folds must purge values set
            # before the drop (same as apply_batch's single-table path,
            # incl. its redelivery-safe journal walk)
            from cdc_spark.sinks.target import norm_registry

            name = json.loads(r["ddl_payload"])["name"]
            reg_b = norm_registry(
                t.registry_before_ddl(f"{epoch}:{r['lsn']}")
            )
            hit = [c for c in reg_b if c["target"] == name]
            if hit:
                drops_by_table.setdefault(r["table"], []).append(
                    (r["lsn"], hit[0]["source_key"])
                )
        t.apply_ddl(
            spark, r["ddl_kind"], r["ddl_payload"], ddl_id=f"{epoch}:{r['lsn']}"
        )

    # -- phase 2: ONE pass stages the whole epoch's LWW winners
    # partitioned by table; per-table commits are then journal-only
    # references to their slice (no Spark jobs, no per-table feed scan) --
    applied, skipped = [], []
    names = sorted(per_table)
    need_stage = [n for n in names if not router.get(n).has_epoch(epoch)]
    # fetch stages a different shape (setter-flagged events, not LWW
    # winners) — a distinct dir name so a mode-switched redelivery can
    # never consume the wrong-shaped stage
    stage_dir = os.path.join(
        router.root, "_mt_stage",
        f"epoch={epoch:08d}" + (".fetch" if images == "fetch" else ""),
    )
    slices: dict[str, str] = {}
    if need_stage:
        if images == "fetch":
            _stage_epoch_fetch_events(spark, batch, stage_dir)
        else:
            _stage_epoch_winners(spark, batch, stage_dir)
        slices = _stage_slices(stage_dir)
    fetch_tails: list[str] = []
    for name in names:
        table = router.get(name)
        if table.has_epoch(epoch):
            recorded = table.epoch_stats(epoch)
            if recorded is not None and recorded != per_table[name]:
                raise RuntimeError(
                    f"epoch {epoch} redelivered to table {name} with "
                    f"different contents (committed {recorded}, got "
                    f"{per_table[name]})"
                )
            skipped.append(name)
            continue
        # a table with DML may still have an empty winner slice only if
        # every event was a heartbeat; commit with no ref then
        ref = slices.get(name)
        if ref is None:
            table.commit_delta(
                spark.createDataFrame([], table.phys_schema()), epoch,
                stats=per_table[name],
            )
        elif images == "fetch":
            fetch_tails.append(name)
        else:
            table.commit_delta_ref(spark, epoch, ref, stats=per_table[name])
        applied.append(name)
    if fetch_tails:
        # fetch tails (resolve → replay → state join → delta write) run
        # several jobs per TABLE; serializing them makes multi-table
        # epochs O(tables) in job-barrier latency. Driver threads submit
        # the tables' jobs concurrently so their stages interleave on
        # the executors — the carry path's journal-only ref-commits need
        # none of this, but a fetch tail is real per-table work. Journal
        # commits stay per-table (independent dirs), so thread isolation
        # is by construction.
        from concurrent.futures import ThreadPoolExecutor

        from cdc_spark.caching import release_persisted
        from cdc_spark.operators.fetch import (
            FETCH_EVENT_SCHEMA, fetch_delta_from_events,
        )

        def _run_tail(name: str) -> None:
            table = router.get(name)
            events = spark.read.schema(FETCH_EVENT_SCHEMA).parquet(slices[name])
            delta = fetch_delta_from_events(
                spark, table, events, drops_by_table.get(name, []),
                n_pk_change=pkc_by_table.get(name),
                n_events=per_table[name].get("n_events"),
            )
            table.commit_delta(
                delta, epoch, stats=per_table[name], pre_partitioned=True
            )

        if len(fetch_tails) == 1:
            _run_tail(fetch_tails[0])
        else:
            with ThreadPoolExecutor(max_workers=min(8, len(fetch_tails))) as ex:
                # list() re-raises the first tail failure
                list(ex.map(_run_tail, fetch_tails))
        release_persisted()  # the winners caches are epoch-scoped
    _sweep_stage(router, os.path.join(router.root, "_mt_stage"),
                 keep_above=epoch)

    dt = time.monotonic() - t0
    if lineage:
        lin_dir = os.path.join(router.root, "_lineage")
        os.makedirs(lin_dir, exist_ok=True)
        with open(os.path.join(lin_dir, f"epoch-{epoch:08d}.json"), "w") as f:
            json.dump({
                "epoch": epoch,
                "partitions": [
                    {k: r[k] for k in ("partition_id", "min_lsn", "max_lsn",
                                       "n_insert", "n_update", "n_delete",
                                       "n_ddl", "n_heartbeat")}
                    for r in lineage_rows
                ],
                "tables": {
                    n: {**per_table[n],
                        "snapshot_id": router.get(n).state()["snapshot_id"]}
                    for n in per_table
                },
                "seconds": dt,
            }, f)
    n_events = int(sum(v["n_events"] for v in per_table.values()))
    return {
        "applied_tables": applied, "skipped_tables": skipped,
        "n_events": n_events, "n_ddl": len(ddl_rows), "epoch": epoch,
        "seconds": dt,
    }


def _stage_epoch_winners(
    spark: SparkSession,
    batch: DataFrame,
    stage_dir: str,
) -> None:
    """ONE job: normalize the whole epoch, LWW-dedupe keyed by
    (table, doc_id), write the winners partitioned by table.

    Written to a temp sibling + atomic rename: tables that already
    committed a reference to this epoch's slices must never observe a
    partial rewrite, so an existing stage dir is REUSED (its content is
    a deterministic function of the feed, and a redelivery with
    different contents is caught by the per-table epoch-stats check)."""
    if os.path.isdir(stage_dir):
        return
    import shutil as _shutil

    tmp = stage_dir + ".inprogress"
    _shutil.rmtree(tmp, ignore_errors=True)
    events = normalize(batch, keep=("table",))
    winners = lww_dedupe(events, key=["table", "doc_id"], order="lsn")
    winners.write.mode("overwrite").partitionBy("table").parquet(tmp)
    os.makedirs(os.path.dirname(stage_dir), exist_ok=True)
    os.rename(tmp, stage_dir)


def _stage_epoch_fetch_events(
    spark: SparkSession, batch: DataFrame, stage_dir: str
) -> None:
    """Fetch-mode staging twin of _stage_epoch_winners: ONE job
    normalizes the whole key-only epoch into setter-flagged fetch
    events written partitioned by table (same atomic-rename + reuse
    semantics — the content is a deterministic function of the feed).
    LWW cannot collapse fetch events before the per-key replay (each
    event's unsupplied fields depend on its predecessors), so the stage
    holds events; each table's tail replays only its own slice."""
    if os.path.isdir(stage_dir):
        return
    import shutil as _shutil

    from cdc_spark.operators.fetch import normalize_fetch

    tmp = stage_dir + ".inprogress"
    _shutil.rmtree(tmp, ignore_errors=True)
    events = normalize_fetch(batch, keep=("table",))
    events.write.mode("overwrite").partitionBy("table").parquet(tmp)
    os.makedirs(os.path.dirname(stage_dir), exist_ok=True)
    os.rename(tmp, stage_dir)


def _stage_slices(stage_dir: str) -> dict[str, str]:
    """Raw table name → its `table=` partition dir (Spark escapes
    partition values Hive-style %xx; unquote restores the raw name)."""
    from urllib.parse import unquote

    out = {}
    for child in os.listdir(stage_dir):
        if child.startswith("table="):
            out[unquote(child[len("table="):])] = os.path.join(stage_dir, child)
    return out


def _sweep_stage(
    router: TableRouter, stage_root: str, keep_above: int | None = None,
) -> None:
    """Delete staged epochs no table references anymore (every table
    either compacted them away or never claimed a slice). `keep_above`
    protects epochs AFTER the one just applied: the replay driver
    pre-stages epoch N+1 (and its `.inprogress` temp) while N commits,
    and epoch N's sweep must not eat the prefetch."""
    if not os.path.isdir(stage_root):
        return
    import re
    import shutil as _shutil

    live = set()
    for name in router.names():
        st = router.get(name).state()
        for p in st.get("delta_refs", {}).values():
            live.add(os.path.abspath(os.path.dirname(p)))
    for child in os.listdir(stage_root):
        p = os.path.abspath(os.path.join(stage_root, child))
        if not child.startswith("epoch="):
            continue
        if keep_above is not None:
            m = re.match(r"epoch=(\d+)", child)
            if m and int(m.group(1)) > keep_above:
                continue
        if p not in live:
            _shutil.rmtree(p, ignore_errors=True)


def replay_multi(
    spark: SparkSession,
    binlog_dir: str,
    root_path: str,
    lineage: bool = True,
    stop_after: int | None = None,
    compact_every: int = 16,
    wire: str = "parquet",
    images: str = "carry",
) -> TableRouter:
    """Batch replay of a multi-table feed: one apply_batch_multi per
    segment in epoch order; resumable exactly like `replay`.

    Pipelined like single-table `replay`: the whole-epoch staging pass
    (normalize + LWW winners in carry mode; normalized setter-flagged
    events in fetch mode — `_stage_epoch_*`) is a deterministic
    function of the feed alone, independent of table state and DDL
    order, so a driver thread pre-stages epoch N+1 while epoch N's
    per-table commits/tails run. apply_batch_multi finds the stage dir
    already present and reuses it (its existing idempotency), and its
    end-of-epoch sweep keeps epochs above the one just applied."""
    router = TableRouter(root_path, compact_every=compact_every)
    by_epoch = list_segments(binlog_dir)
    eps = sorted(by_epoch)
    pool = None
    if len(eps) > 1:
        from concurrent.futures import ThreadPoolExecutor

        pool = ThreadPoolExecutor(max_workers=1)

    def _prestage(e: int) -> None:
        # advisory: on any failure the apply stages synchronously (the
        # stage dir simply won't exist); real feed errors re-raise there
        try:
            names = router.names()
            if names and all(router.get(n).has_epoch(e) for n in names):
                return  # full redelivery — nothing will consume the stage
            b = read_changes(spark, by_epoch[e], wire=wire)
            stage_dir = os.path.join(
                router.root, "_mt_stage",
                f"epoch={e:08d}" + (".fetch" if images == "fetch" else ""),
            )
            if images == "fetch":
                _stage_epoch_fetch_events(spark, b, stage_dir)
            else:
                _stage_epoch_winners(spark, b, stage_dir)
        except Exception:
            _LOG.warning(
                "pre-staging epoch %d failed; its apply stages it "
                "synchronously", e, exc_info=True,
            )

    done = 0
    fut = None
    try:
        for i, epoch in enumerate(eps):
            if fut is not None:
                fut.result()
                fut = None
            batch = read_changes(spark, by_epoch[epoch], wire=wire)
            if (
                pool is not None
                and i + 1 < len(eps)
                and (stop_after is None or done + 2 <= stop_after)
            ):
                fut = pool.submit(_prestage, eps[i + 1])
            apply_batch_multi(
                spark, router, batch, epoch, lineage=lineage, images=images,
            )
            done += 1
            if stop_after is not None and done >= stop_after:
                break
    finally:
        if fut is not None:
            try:
                fut.result()
            except Exception:
                _LOG.warning("orphaned pre-stage failed", exc_info=True)
        if pool is not None:
            pool.shutdown(wait=False)
    return router


def replay(
    spark: SparkSession,
    binlog_dir: str,
    table_path: str,
    lineage: bool = True,
    stop_after: int | None = None,
    compact_every: int = 16,
    stats_out: list | None = None,
    wire: str = "parquet",
    images: str = "carry",
    compact_budget: int | None = None,
) -> TargetTable:
    """Batch replay driver: one apply_batch per segment, in epoch order.

    `stop_after` aborts after N epochs (for kill/resume tests); calling
    replay again resumes — already-committed epochs no-op. `stats_out`
    (a caller-supplied list) collects each apply_batch result dict —
    per-epoch seconds let benchmarks separate JIT-cold first epochs
    from steady-state throughput. `compact_budget` bounds each inline
    compaction tick to that many dirty buckets (carry the rest; see
    TargetTable.inline_compact_budget).

    FETCH PIPELINING (VERDICT r4 #1): in fetch mode a single driver
    thread prepares epoch N+1 (stats scan → normalize → cross-key
    resolve → winners fold, materialized) while epoch N's state join,
    delta write, journal commit, and compaction tick run — winners
    never read table state, so the prepare is commit-independent, and
    epochs with DDL/unknown ops fall back to the strictly-ordered path.
    The per-epoch blocking jobs this hides are the measured limiter of
    fetch-path N→4N scaling (BENCH_scaling_fetch_uniform_r4.md). The
    final table is byte-identical to the sequential path (same epoch
    order, same commits — only plan construction overlaps)."""
    table = TargetTable(table_path, compact_every=compact_every,
                        inline_compact_budget=compact_budget)
    table.create_if_absent()
    by_epoch = list_segments(binlog_dir)
    lineage_dir = os.path.join(table_path, "_lineage") if lineage else None
    eps = sorted(by_epoch)
    pool = None
    if images == "fetch" and len(eps) > 1:
        from concurrent.futures import ThreadPoolExecutor

        pool = ThreadPoolExecutor(max_workers=1)

    def _prefetch(e: int) -> dict:
        from cdc_spark.operators.fetch import prepare_fetch_epoch

        b = read_changes(spark, by_epoch[e], wire=wire)
        rows = lineage_stats(b, pk_change=True).collect()
        n_bad = int(sum(r["n_unknown"] for r in rows))
        n_ddl = int(sum(r["n_ddl"] for r in rows))
        if n_bad or n_ddl:
            # unknown ops must refuse IN ORDER on the main path; DDL
            # needs the barrier applied before the drops capture
            return {"lineage": rows, "fallback": True, "persisted": []}
        n_pkc = int(sum(r["n_pk_change"] for r in rows))
        n_dml = int(sum(r["n_insert"] + r["n_update"] + r["n_delete"] for r in rows))
        return {
            "lineage": rows, "fallback": False,
            **prepare_fetch_epoch(spark, b, [], n_pk_change=n_pkc,
                                  n_events=n_dml),
        }

    def _release(p: dict | None) -> None:
        for df in (p or {}).get("persisted", []):
            try:
                df.unpersist()
            except Exception:
                pass

    done = 0
    fut = None
    try:
        for i, epoch in enumerate(eps):
            prepared = fut.result() if fut is not None else None
            fut = None
            batch = read_changes(spark, by_epoch[epoch], wire=wire)
            if (
                pool is not None
                and i + 1 < len(eps)
                and (stop_after is None or done + 2 <= stop_after)
                and not table.has_epoch(eps[i + 1])
            ):
                fut = pool.submit(_prefetch, eps[i + 1])
            try:
                res = apply_batch(
                    spark, table, batch, epoch,
                    lineage_dir=lineage_dir, images=images, prepared=prepared,
                )
            finally:
                _release(prepared)
            if stats_out is not None:
                stats_out.append(res)
            done += 1
            if stop_after is not None and done >= stop_after:
                break
    finally:
        if fut is not None:  # drain an orphaned prefetch (raise/stop)
            try:
                _release(fut.result())
            except Exception:
                pass
        if pool is not None:
            pool.shutdown(wait=False)
    return table


def _epoch_gate(spark, bdf, binlog_dir, staging_root, is_applied):
    """Yield (epoch, batch_df, had_staged) for every epoch whose segment
    is FULLY delivered, merging previously-staged parts; park incomplete
    segments under `staging_root` instead of yielding them.

    One tiny job discovers the epochs present in the micro-batch and
    which distinct segment files fed each (input_file_name provenance).
    An epoch whose segment the trigger limit split across micro-batches
    is STAGED, not committed — the file source delivers each file
    exactly once, so dropping the partial rows would be permanent — and
    every later epoch in the same batch parks too (applying e+1 before e
    would break cross-epoch DDL-before-DML order). The merged segment =
    staged parts ∪ this delivery, deduped by lsn (unique per event)
    because a checkpoint replay can overlap the staging area. Staged
    dirs are removed only after the caller consumed the yielded epoch
    (an abandoned generator — apply raised — keeps them for retry).
    Empty provenance (non-file source, or lost behind a mapInPandas
    decode) disables the completeness check: such epochs yield directly."""
    import shutil as _shutil

    def _stage_dir(e: int) -> str:
        return os.path.join(staging_root, f"epoch={e:08d}")

    def _staged_files(e: int) -> set[str]:
        d = _stage_dir(e)
        # a crash mid-append can leave only _temporary behind; reading
        # a partless dir would fail schema inference
        if not os.path.isdir(d) or not any(
            f.startswith("part-") for f in os.listdir(d)
        ):
            return set()
        return {
            r["_src_file"]
            for r in spark.read.parquet(d).select("_src_file").distinct().collect()
        }

    per_epoch = {
        r["epoch"]: set(r["files"])
        for r in bdf.select(
            "epoch", F.nullif(F.input_file_name(), F.lit("")).alias("_file")
        )
        .groupBy("epoch")
        .agg(F.collect_set("_file").alias("files"))
        .collect()
    }
    # files-per-segment ground truth: the feed's epoch manifest when
    # present (lets a partially-synced feed copy stage correctly — the
    # bare listing can't tell "not yet arrived" from "fewer parts"),
    # else the directory listing
    expected_n = {e: len(ps) for e, ps in list_segments(binlog_dir).items()}
    manifest_path = os.path.join(binlog_dir, "_manifest.json")
    if os.path.isfile(manifest_path):
        with open(manifest_path) as f:
            # manifest wins where it speaks; epochs it doesn't know
            # (appended after the manifest was written) keep the listing
            # count rather than silently skipping the completeness check
            expected_n.update(
                {int(k): int(v) for k, v in json.load(f)["epochs"].items()}
            )
    # previously-staged epochs participate even when THIS batch carries
    # no rows for them: a fully-staged epoch (parked by the `blocked`
    # flag while an earlier one was incomplete) would otherwise never be
    # yielded again — the file source won't redeliver its files — and a
    # staged-incomplete epoch must keep blocking later epochs across
    # batches (cross-epoch DDL-before-DML order)
    staged_epochs: set[int] = set()
    if os.path.isdir(staging_root):
        for d in os.listdir(staging_root):
            if d.startswith("epoch="):
                staged_epochs.add(int(d.split("=", 1)[1]))
    blocked = False
    for e in sorted(set(per_epoch) | staged_epochs):
        applied = is_applied(e)
        new_files = per_epoch.get(e, set())
        cur = bdf.filter(F.col("epoch") == e)
        staged = _staged_files(e)
        have = new_files | staged
        n_expected = expected_n.get(e, 0)
        incomplete = bool(have) and len(have) < n_expected
        if not applied and (blocked or incomplete):
            if not new_files and e in per_epoch:
                # rows WITHOUT file provenance (non-file source, or lost
                # behind a mapInPandas decode) cannot be parked: the
                # source won't redeliver them, so staging-skipping this
                # epoch would drop its rows permanently. Unreachable
                # with homogeneous wires (provenance-free feeds never
                # set `blocked`), but a mixed feed must fail loudly
                # rather than lose data.
                raise RuntimeError(
                    f"epoch {e}: rows carry no file provenance but an "
                    "earlier epoch is staged-incomplete; provenance-free "
                    "epochs cannot be parked safely"
                )
            if new_files:  # nothing new to park for staged-only epochs
                cur.withColumn("_src_file", F.input_file_name()).write.mode(
                    "append"
                ).parquet(_stage_dir(e))
            blocked = True
            continue
        if staged:
            cur = (
                spark.read.parquet(_stage_dir(e)).drop("_src_file")
                .unionByName(cur)
                .dropDuplicates(["lsn"])
            )
        yield e, cur, bool(staged)
        if staged:
            _shutil.rmtree(_stage_dir(e), ignore_errors=True)


def stream(
    spark: SparkSession,
    binlog_dir: str,
    table_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    wire: str = "parquet",
    multi: bool = False,
    images: str = "carry",
    compact_budget: int | None = None,
):
    """Structured Streaming driver: readStream over the segment directory,
    foreachBatch → the same apply_batch (reference: DStream pipeline,
    CTSQLServer.java:70-122, with offsets now in the checkpoint — S6 fixed).

    The epoch id comes from the data (epoch column), not the streaming
    batch id, so exactly-once holds even if the checkpoint and journal
    disagree. Epochs inside a micro-batch are applied in sorted order;
    a micro-batch whose lowest unapplied epoch is NOT the next expected
    one fails loudly — the file source orders files by modification
    time, which for a real binlog equals epoch order, but silently
    applying a later epoch first would let its DML commit under a
    pre-DDL registry (found by an out-of-order-delivery probe; the
    reference dodges this only by forcing a single totally-ordered
    partition, GoldenGateKafka.java:242-259)."""
    if multi:
        router = TableRouter(table_path)
        staging_root_m = os.path.join(table_path, "_staging")

        def handle_multi(bdf: DataFrame, _bid: int) -> None:
            # apply_batch_multi is per-(table, epoch) idempotent, so
            # redelivered epochs no-op per table with content
            # verification; the gate stages trigger-split segments until
            # complete, exactly like the single-table driver
            for e, cur, _ in _epoch_gate(
                spark, bdf, binlog_dir, staging_root_m, lambda _e: False
            ):
                apply_batch_multi(spark, router, cur, e, images=images)

        writer = (
            stream_reader(spark, binlog_dir, max_files_per_trigger, wire=wire)
            .writeStream.foreachBatch(handle_multi)
            .option("checkpointLocation", checkpoint_dir)
        )
        if available_now:
            q = writer.trigger(availableNow=True).start()
            q.awaitTermination()
            return router
        return writer.start()

    table = TargetTable(table_path, inline_compact_budget=compact_budget)
    table.create_if_absent()
    lineage_dir = os.path.join(table_path, "_lineage")
    staging_root = os.path.join(table_path, "_staging")

    def handle(bdf: DataFrame, _bid: int) -> None:
        floor, watermark, sparse = table.applied_epochs()
        latest = table.max_epoch()

        def is_applied(e: int) -> bool:
            return e in sparse or (floor is not None and floor <= e <= watermark)

        for e, cur, _ in _epoch_gate(spark, bdf, binlog_dir, staging_root, is_applied):
            if not is_applied(e) and latest is not None and e != latest + 1:
                raise RuntimeError(
                    f"out-of-order segment delivery: epoch {e} arrived but "
                    f"the latest applied epoch is {latest}; binlog "
                    "segments must be delivered in epoch order"
                )
            # applied epochs still go through apply_batch: it no-ops on a
            # true redelivery but fails loudly if this delivery's contents
            # differ from what committed
            apply_batch(
                spark, table, cur, e, lineage_dir=lineage_dir,
                verify_redelivery=True, images=images,
            )
            sparse.add(e)
            latest = e if latest is None else max(latest, e)

    reader = stream_reader(spark, binlog_dir, max_files_per_trigger, wire=wire)
    writer = (
        reader.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return table
    return writer.start()

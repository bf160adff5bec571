"""Micro-batch apply lifecycle (SURVEY.md §3.4) — the engine's core loop.

ONE function, `apply_batch`, applies an epoch to a `TargetTable` or to a
`TableRouter` routing the feed by its `table` column (per-table loop,
CTInputDStream.java:65-99; a single table is the one-route case),
mirroring the reference's per-batch flow (CTSQLServer.java:70-122; sink
apply CDCKudu.java:352-384) but set-based instead of row-at-a-time:

1. a single table that already committed the epoch returns before any
   Spark job (exactly-once; the reference keeps offsets in driver memory
   only, CTInputDStream.java:60-62,96-97).
2. ONE pruned probe aggregate per epoch → each route's redelivery
   fingerprint, op counts and DDL events (a single-table carry epoch:
   a pushdown-pruned DDL probe, with the counts folded into its write
   as Observation metrics). `replay` runs a single table's probe on its
   look-ahead thread while the previous epoch commits.
3. checks: unknown ops, redelivered contents, then DDL applied to table
   metadata FIRST — the two-phase replacement for the reference's
   DDL-before-DML sort barrier (CTSQLServer.java:108-114), idempotent by
   (epoch, lsn) id so a crash mid-batch resumes safely.
4. DML tail: carry normalizes, LWW-dedupes per doc_id (restoring per-key
   order, so the feed reads from N partitions — CTInputDStream.java:127's
   TODO) and commits a delta, or, routed, a journal-only reference into
   one staged write; fetch resolves key-only events (operators/fetch.py).
5. lineage: one record per epoch (per route: offset range, op counts,
   snapshot id — F3), built from counts steps 2 and 4 already took.

Every driver (`replay` / `replay_multi` on one look-ahead loop, `stream`,
`sources.jdbc.jdbc_replay`) calls the same `apply_batch`, so
resume/replay semantics are identical.
"""

from __future__ import annotations

import json
import logging
import os
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from cdc_spark.caching import release_persisted
from cdc_spark.operators import fetch
from cdc_spark.operators.dedupe import lww_dedupe
from cdc_spark.operators.normalize import normalize
from cdc_spark.plans.template import template
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

_OPS = (("I", "n_insert"), ("U", "n_update"), ("D", "n_delete"),
        ("DDL", "n_ddl"), ("H", "n_heartbeat"))
_COUNTS = ("n", *(c for _, c in _OPS), "n_unknown", "n_pk_change")


def _unknown_op() -> Column:
    # NULL op_type (e.g. a malformed Kafka message decoded by from_json
    # to an all-NULL row) must count as unknown: under three-valued
    # logic ~isin(NULL) is NULL, which F.when treats as false
    return F.col("op_type").isNull() | ~F.col("op_type").isin(*(o for o, _ in _OPS))


def _counts() -> list[Column]:
    """Event count, lsn range, per-op and unknown-op counts: the
    aggregates `_probe` groups and the Observation folds into a write."""
    op = F.col("op_type")
    return [
        F.count(F.lit(1)).alias("n"),
        F.min("lsn").alias("min_lsn"),
        F.max("lsn").alias("max_lsn"),
        *(F.count(F.when(op == o, 1)).alias(c) for o, c in _OPS),
        F.count(F.when(_unknown_op(), 1)).alias("n_unknown"),
    ]


def _probe(batch: DataFrame, routed: bool, pk_change: bool) -> list[dict]:
    """The epoch's ONE narrow aggregation over a pruned scan: per route
    the event count, lsn range, op counts and the DDL events themselves
    (collect_list skips the nulls non-DDL rows produce; DDL volume is
    tiny by design).
    `pk_change=True` adds `n_pk_change` (updates whose before/after
    doc_id differ), which lets the fetch tail skip the cross-key resolve
    on the common no-PK-change epoch; opt-in because it widens the scan
    by the two nested doc_id leaves."""

    def build():
        op = F.col("op_type")
        pkc = [
            F.count(F.when(
                (op == "U") & F.col("before.doc_id").isNotNull()
                & (F.col("before.doc_id") != F.col("after.doc_id")), 1,
            )).alias("n_pk_change")
        ] if pk_change else []
        return [F.col("table")] if routed else [], [
            *_counts(),
            *pkc,
            F.collect_list(
                F.when(op == "DDL", F.struct("lsn", "ddl_kind", "ddl_payload"))
            ).alias("ddl_events"),
        ]

    keys, aggs = template(("_probe", routed, pk_change), build)
    return [r.asDict() for r in batch.groupBy(*keys).agg(*aggs).collect()]


def _ddl_probe(batch: DataFrame, epoch: int) -> list[dict]:
    """The single-table carry probe: only DDL and unknown-op rows leave
    the pushdown-pruned scan, so the strict guard fires BEFORE any DDL
    mutates the table (a drop_column would otherwise already have
    compacted the column away for a batch the engine claims it refused).
    The collect is bounded: DDL volume is tiny by design, so a feed
    exceeding the cap is hostile/corrupt and must not OOM the driver.
    Returns one probe-shaped row."""
    cond, cols = template("_ddl_probe", lambda: (
        F.col("op_type").isNull() | ~F.col("op_type").isin("I", "U", "D", "H"),
        [F.col(c) for c in ("lsn", "op_type", "ddl_kind", "ddl_payload")],
    ))
    rows = batch.filter(cond).select(*cols).limit(_DDL_PROBE_MAX + 1).collect()
    if len(rows) > _DDL_PROBE_MAX:
        raise ValueError(
            f"epoch {epoch}: more than {_DDL_PROBE_MAX} DDL/unknown-op "
            "events in one epoch; refusing to collect a pathological feed "
            "driver-side"
        )
    ddl = [r for r in rows if r["op_type"] == "DDL"]
    return [{"n_unknown": len(rows) - len(ddl), "ddl_events": ddl}]


def _observed_metrics() -> list[Column]:
    """The Observation metrics folded into the single-table carry write."""
    return template("_observed_metrics", _counts)


def _fold(rows: list[dict]) -> dict:
    """Sum probe rows' counts and widen their lsn range."""
    out = {c: sum(r.get(c, 0) for r in rows) for c in _COUNTS}
    lsns = [r[c] for r in rows for c in ("min_lsn", "max_lsn")
            if r.get(c) is not None]
    out["min_lsn"] = min(lsns, default=None)
    out["max_lsn"] = max(lsns, default=None)
    return out


def apply_batch(
    spark: SparkSession,
    target: TargetTable | TableRouter,
    batch: DataFrame,
    epoch: int,
    lineage_dir: str | None = None,
    verify_redelivery: bool = False,
    images: str = "carry",
    prepared: dict | None = None,
) -> dict:
    """Apply one epoch's change events to `target` (one TargetTable, or
    a TableRouter routing them by their `table` column). Returns
    {epoch, n_events, n_ddl, seconds} plus {applied, snapshot_id} for a
    single table or {applied_tables, skipped_tables} for a router.

    Idempotent per (table, epoch): re-delivery is a no-op, and a crash
    between two routed tables' commits resumes with the committed table
    no-op'ing. `verify_redelivery=True` makes a single table cross-check
    a redelivered epoch's count/lsn range against the journal (one
    pruned scan) — the streaming driver's file-source trigger limit can
    split an epoch across micro-batches; batch `replay` delivers whole
    epochs, so resume stays O(1) per committed epoch. Routed tables
    always cross-check (their probe runs anyway).

    `images="carry"` (default): events carry full before/after images
    (the GoldenGate shape). `images="fetch"`: the feed is key-only (the
    reference's SQL Server CT shape, CTInputDStream.java:112-131) and
    unsupplied fields are fetched from earlier same-epoch events or the
    table's own resolved state (operators/fetch.py).

    `lineage_dir`: where the epoch's lineage record goes (F3; None
    writes none). It never changes which jobs the epoch runs.

    `prepared` (single table only): this epoch's look-ahead result from
    `replay`, computed while the PREVIOUS epoch was still committing —
    the probe rows (the feed alone decides them, so the DDL barrier
    still runs here, after that commit) plus, in fetch mode and unless
    `fallback` is set because the epoch has DDL/unknown ops, the
    already-materialized winners and their exact needy-key count
    (fetch.prepare_fetch_epoch). The caller owns (and releases)
    `prepared["persisted"]`."""
    if images not in ("carry", "fetch"):
        raise ValueError(f"unknown images mode {images!r}")
    t0 = time.monotonic()
    single = isinstance(target, TargetTable)
    fetching = images == "fetch"
    done = single and target.has_epoch(epoch)
    if done and (not verify_redelivery or target.epoch_stats(epoch) is None):
        return {"applied": False, "epoch": epoch, "reason": "epoch already committed"}

    # -- probe. NB: the batch is deliberately NOT persist()ed — the probe
    # and the DML tail read disjoint column subsets, and parquet column
    # pruning makes each scan cheaper than materializing the nested
    # images into the columnar cache (measured 5.8s persist vs <1s
    # pruned scans per 250k-event epoch) ------------------------------
    observed = single and not fetching and not done
    if prepared is not None:
        rows = prepared["probe"]  # the look-ahead already paid this scan
    elif observed:
        rows = _ddl_probe(batch, epoch)
    else:
        rows = _probe(batch, routed=not single, pk_change=fetching)
    by_route: dict = {None: []} if single else {}
    for r in rows:
        by_route.setdefault(None if single else r["table"], []).append(r)
    folded = {k: _fold(rs) for k, rs in by_route.items()}
    # the journal's epoch_stats format: widening it would break equality
    # against epochs committed by older code
    fps = {k: {"n_events": f["n"], "min_lsn": f["min_lsn"], "max_lsn": f["max_lsn"]}
           for k, f in folded.items()}
    tables = {None: target} if single else {k: target.get(k) for k in sorted(by_route)}

    # -- checks: unknown ops, redelivered contents, then the DDL barrier
    n_unknown = sum(f["n_unknown"] for f in folded.values())
    if n_unknown:
        # strict like the reference's Kudu sink (CDCKudu.java:171-173);
        # heartbeats ('H') are the only tolerated non-change op (T10,
        # Normalizer.java:68-72) — anything else silently dropped would
        # be data loss
        raise ValueError(
            f"epoch {epoch}: {n_unknown} events with unknown op_type "
            "(not I/U/D/DDL/H); refusing to apply the batch"
        )
    pending = []
    for k, t in tables.items():
        if not (done if single else t.has_epoch(epoch)):
            pending.append(k)
            continue
        # exactly-once no-op on true redelivery — but a COUNT/LSN-range
        # mismatch means this delivery carries rows the committed epoch
        # never saw; silently no-op'ing would lose them
        recorded = t.epoch_stats(epoch)
        if recorded is not None and recorded != fps[k]:
            raise RuntimeError(
                f"epoch {epoch} redelivered with different contents "
                f"(committed {recorded}, got {fps[k]}); an epoch was "
                "split across micro-batches — deliver binlog epochs "
                "atomically (maxFilesPerTrigger >= parts per segment)"
                if single else
                f"epoch {epoch} redelivered to table {k} with "
                f"different contents (committed {recorded}, got {fps[k]})"
            )
    ddl_rows = sorted(
        ((k, e) for k, rs in by_route.items() for r in rs for e in r["ddl_events"]),
        key=lambda ke: ke[1]["lsn"],
    )
    drops: dict = {}
    for k, r in ddl_rows:
        ddl_id = f"{epoch}:{r['lsn']}"
        if fetching and r["ddl_kind"] == "drop_column":
            # fetch folds accumulate extra values across the epoch; a
            # drop must purge values set before it from the fold (the
            # oracle purges its state the same way) — capture the
            # column's source_key from the registry BEFORE the drop.
            # registry_before_ddl (not the live registry): on a crash-
            # recovery redelivery the drop's journal commit already
            # removed the mapping, and a same-epoch re-add would then
            # leak pre-drop values without the purge
            name = json.loads(r["ddl_payload"])["name"]
            hit = [c for c in tables[k].registry_before_ddl(ddl_id)
                   if c["target"] == name]
            if hit:
                drops.setdefault(k, []).append((r["lsn"], hit[0]["source_key"]))
        tables[k].apply_ddl(spark, r["ddl_kind"], r["ddl_payload"], ddl_id=ddl_id)

    # -- DML tail ----------------------------------------------------------
    entry, metrics = None, {}
    if pending and single:
        stats = fps[None]
        if fetching and prepared is not None and not prepared["fallback"]:
            # pipelined epoch: winners already resolved, folded,
            # persisted AND counted by the look-ahead — only the
            # commit-ordered state join + write remain. A DDL epoch is
            # always a fallback: its drops capture needs the barrier.
            delta = fetch.fetch_delta(
                spark, prepared["winners"], target.read_resolved(spark),
                target.state()["registry"], n_needy=prepared["n_needy"],
            )
        elif fetching:
            f = folded[None]
            delta = fetch.build_fetch_delta(
                spark, target, batch, drops.get(None, []),
                n_pk_change=f["n_pk_change"],
                n_events=f["n_insert"] + f["n_update"] + f["n_delete"],
            )
        else:
            src = batch
            if observed:
                # the journal stats and a last unknown-op guard fold into
                # the WRITE job as Observation metrics (CollectMetrics
                # blocks filter pushdown through it, so every raw row is
                # counted) — per-epoch fixed cost is the dominant
                # throughput term for small micro-batches (BENCH.md
                # epoch-size sensitivity table)
                obs = Observation(f"epoch-{epoch}")
                src = batch.observe(obs, *_observed_metrics())

                def observed_stats() -> dict:
                    metrics.update(obs.get)  # set once the write finished
                    if metrics["n_unknown"]:
                        # NOT redundant with the pre-write probe: the two
                        # are separate scans. Immutable file segments
                        # agree by construction, but a source without
                        # snapshot-stable rescans (e.g. a JDBC outbox
                        # polled without an upper-bound predicate) can
                        # show the write job rows the probe never saw —
                        # the last guard before the journal commit
                        raise ValueError(
                            f"epoch {epoch}: {metrics['n_unknown']} events with "
                            "unknown op_type (not I/U/D/DDL/H); refusing to "
                            "commit the batch"
                        )
                    return {"n_events": metrics["n"], "min_lsn": metrics["min_lsn"],
                            "max_lsn": metrics["max_lsn"]}

                stats = observed_stats
            deduped = lww_dedupe(normalize(src), key="doc_id", order="lsn")
            delta = project_to_table(deduped, target.state()["registry"])
        # the LWW dedupe aggregate already hash-partitions by doc_id (the
        # fetch chain's per-key replay exchange likewise), so the bucketed
        # delta write needs no second exchange
        entry = target.commit_delta(delta, epoch, stats=stats, pre_partitioned=True)
    elif pending:
        # ONE pass stages the whole epoch partitioned by table (LWW
        # winners in carry mode; setter-flagged fetch events, which LWW
        # cannot collapse before the per-key replay, in fetch mode); the
        # feed is scanned a constant number of times regardless of table
        # count. A dir the look-ahead already staged is reused.
        slices = _stage_slices(_stage(spark, batch, target.root, epoch, images))
        tails = []
        for k in pending:
            t, ref = tables[k], slices.get(k)
            if ref is None:
                # a routed table with events but no winner slice saw
                # only heartbeats/DDL; commit with no ref then
                t.commit_delta(spark.createDataFrame([], t.phys_schema()),
                               epoch, stats=fps[k])
            elif fetching:
                tails.append(k)
            else:
                # journal-only reference to the table's slice: zero jobs
                t.commit_delta_ref(spark, epoch, ref, stats=fps[k])

        def run_tail(k: str) -> None:
            events = spark.read.schema(fetch.FETCH_EVENT_SCHEMA).parquet(slices[k])
            delta = fetch.fetch_delta_from_events(
                spark, tables[k], events, drops.get(k, []),
                n_pk_change=folded[k]["n_pk_change"], n_events=fps[k]["n_events"],
            )
            tables[k].commit_delta(delta, epoch, stats=fps[k], pre_partitioned=True)

        # a fetch tail (resolve → replay → state join → delta write) is
        # several jobs of real per-table work: driver threads submit the
        # tables' jobs concurrently so their stages interleave on the
        # executors. Journal commits stay per-table (independent dirs).
        if len(tails) == 1:
            run_tail(tails[0])
        elif tails:
            with ThreadPoolExecutor(max_workers=min(8, len(tails))) as ex:
                list(ex.map(run_tail, tails))  # re-raises the first failure
    if fetching and pending:
        release_persisted()  # the fetch winners caches are epoch-scoped
    if not single:
        _sweep_stage(target, os.path.join(target.root, "_mt_stage"), keep_above=epoch)

    # -- lineage: the Observation's counts (carry) or the probe's --------
    dt = time.monotonic() - t0
    counts = {None: metrics} if observed else folded
    n_events = int(sum(c.get("n", 0) - c.get("n_heartbeat", 0) for c in counts.values()))
    if lineage_dir is not None and (entry is not None or not single):
        record = {"epoch": epoch, "seconds": dt, "tables": [{
            "table": k, "n_events": counts[k]["n"],
            **{c: counts[k][c] for c in ("min_lsn", "max_lsn", *(n for _, n in _OPS))},
            "snapshot_id": entry["snapshot_id"] if single else t.state()["snapshot_id"],
        } for k, t in tables.items()]}
        os.makedirs(lineage_dir, exist_ok=True)
        with open(os.path.join(lineage_dir, f"epoch-{epoch:08d}.json"), "w") as f:
            json.dump(record, f)
    out = {"epoch": epoch, "n_events": n_events, "n_ddl": len(ddl_rows), "seconds": dt}
    if single:
        return {"applied": entry is not None, **out,
                "snapshot_id": entry["snapshot_id"] if entry else None}
    return {"applied_tables": pending,
            "skipped_tables": [k for k in tables if k not in pending], **out}


#: perfbench's traced run (perfbench/workloads.py `install_trace`) wraps
#: this name as well as `apply_batch`; a router is just another target
apply_batch_multi = apply_batch


def _stage(spark: SparkSession, batch: DataFrame, root: str, epoch: int,
           images: str) -> str:
    """Stage (or reuse) the epoch under `root/_mt_stage`; returns its dir.
    Fetch stages a different shape (setter-flagged events, not LWW
    winners) — a distinct dir name so a mode-switched redelivery can
    never consume the wrong-shaped stage."""
    fetching = images == "fetch"
    stage_dir = os.path.join(root, "_mt_stage",
                             f"epoch={epoch:08d}" + (".fetch" if fetching else ""))
    (_stage_epoch_fetch_events if fetching else _stage_epoch_winners)(
        spark, batch, stage_dir)
    return stage_dir


def _write_stage(frame: DataFrame, stage_dir: str) -> None:
    """Write a staged epoch partitioned by table to a temp sibling, then
    rename it into place atomically: tables that already committed a
    reference to this epoch's slices must never observe a partial
    rewrite."""
    import shutil as _shutil

    tmp = stage_dir + ".inprogress"
    _shutil.rmtree(tmp, ignore_errors=True)
    frame.write.mode("overwrite").partitionBy("table").parquet(tmp)
    os.makedirs(os.path.dirname(stage_dir), exist_ok=True)
    os.rename(tmp, stage_dir)


def _stage_epoch_winners(spark: SparkSession, batch: DataFrame, stage_dir: str) -> None:
    """ONE job: normalize the whole epoch, LWW-dedupe keyed by
    (table, doc_id), write the winners partitioned by table. An
    existing stage dir is REUSED (its content is a deterministic
    function of the feed, and a redelivery with different contents is
    caught by the per-table epoch-stats check)."""
    if not os.path.isdir(stage_dir):
        events = normalize(batch, keep=("table",))
        _write_stage(lww_dedupe(events, key=["table", "doc_id"], order="lsn"), stage_dir)


def _stage_epoch_fetch_events(spark: SparkSession, batch: DataFrame,
                              stage_dir: str) -> None:
    """Fetch-mode staging twin of _stage_epoch_winners: ONE job
    normalizes the whole key-only epoch into setter-flagged fetch
    events written partitioned by table (same reuse semantics). LWW
    cannot collapse fetch events before the per-key replay (each
    event's unsupplied fields depend on its predecessors), so the stage
    holds events; each table's tail replays only its own slice."""
    if not os.path.isdir(stage_dir):
        _write_stage(fetch.normalize_fetch(batch, keep=("table",)), stage_dir)


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
        for p in st["delta_refs"].values():
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


def _release(prepared: dict | None) -> None:
    for df in (prepared or {}).get("persisted", []):
        try:
            df.unpersist()
        except Exception:
            _LOG.warning("releasing a look-ahead cache failed", exc_info=True)


def _committed(target: TargetTable | TableRouter, epoch: int) -> bool:
    tables = ([target] if isinstance(target, TargetTable)
              else [target.get(n) for n in target.names()])
    return bool(tables) and all(t.has_epoch(epoch) for t in tables)


def _replay_epochs(spark: SparkSession, target: TargetTable | TableRouter,
                   binlog_dir: str, wire: str, stop_after: int | None, look,
                   stats_out: list | None = None, **apply_kw):
    """Apply every segment in epoch order with ONE look-ahead worker:
    while epoch N applies, `look(epoch, batch)` prepares N+1 — submitted
    only when some route has not committed N+1 — and its result is
    N+1's `prepared`. The look-ahead is advisory: a failure logs at
    WARNING and that epoch's apply does the work synchronously, where a
    real feed error re-raises in epoch order. On exit the loop drains
    an in-flight look-ahead and releases its caches."""
    by_epoch = list_segments(binlog_dir)
    eps = sorted(by_epoch)
    pool = ThreadPoolExecutor(max_workers=1) if look and len(eps) > 1 else None

    def ahead(e: int):
        try:
            batch = read_changes(spark, by_epoch[e], wire=wire)
            return batch, look(e, batch)
        except Exception:
            _LOG.warning("look-ahead of epoch %d failed; its apply does the "
                         "work synchronously", e, exc_info=True)
            return None, None

    done = 0
    fut = None
    try:
        for i, epoch in enumerate(eps):
            batch, prepared = fut.result() if fut is not None else (None, None)
            fut = None
            if batch is None:
                batch = read_changes(spark, by_epoch[epoch], wire=wire)
            if (
                pool is not None
                and i + 1 < len(eps)
                and (stop_after is None or done + 2 <= stop_after)
                and not _committed(target, eps[i + 1])
            ):
                fut = pool.submit(ahead, eps[i + 1])
            try:
                res = apply_batch(spark, target, batch, epoch, prepared=prepared,
                                  **apply_kw)
            finally:
                _release(prepared)
            if stats_out is not None:
                stats_out.append(res)
            done += 1
            if stop_after is not None and done >= stop_after:
                break
    finally:
        if fut is not None:  # drain an orphaned look-ahead (raise/stop)
            _release(fut.result()[1])
        if pool is not None:
            pool.shutdown(wait=False)
    return target


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
    """Batch replay of a multi-table feed: one apply_batch per segment
    into a TableRouter, in epoch order; resumable exactly like `replay`.

    The look-ahead pre-stages epoch N+1 while epoch N's per-table
    commits/tails run: the staging pass (`_stage_epoch_*`) is a function
    of the feed alone, independent of table state and DDL order. The
    apply reuses the staged dir, and its end-of-epoch sweep keeps epochs
    above the one just applied."""
    router = TableRouter(root_path, compact_every=compact_every)

    def look(e: int, batch: DataFrame) -> None:
        _stage(spark, batch, router.root, e, images)

    return _replay_epochs(
        spark, router, binlog_dir, wire, stop_after, look,
        lineage_dir=os.path.join(root_path, "_lineage") if lineage else None,
        images=images,
    )


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
) -> TargetTable:
    """Batch replay driver: one apply_batch per segment, in epoch order.

    `stop_after` aborts after N epochs (for kill/resume tests); calling
    replay again resumes — already-committed epochs no-op. `stats_out`
    (a caller-supplied list) collects each apply_batch result dict —
    per-epoch seconds let benchmarks separate JIT-cold first epochs
    from steady-state throughput.

    FETCH PIPELINING (VERDICT r4 #1): in fetch mode the look-ahead
    prepares epoch N+1 (probe → normalize → cross-key resolve → winners
    fold, materialized) while epoch N's state join, delta write, journal
    commit, and compaction tick run — winners never read table state, so
    the prepare is commit-independent, and epochs with DDL/unknown ops
    fall back to the strictly-ordered path. The per-epoch blocking jobs
    this hides are the measured limiter of fetch-path N→4N scaling
    (BENCH_scaling_fetch_uniform_r4.md). The final table is
    byte-identical to the sequential path (same epoch order, same
    commits — only plan construction overlaps).

    CARRY LOOK-AHEAD: a carry epoch's look-ahead runs only its
    `_ddl_probe` job, hiding it under the previous epoch's write and
    commit; the apply still runs the DDL barrier, the unknown-op refusal
    and the DML tail in epoch order.

    `lineage` decides only whether `_lineage/epoch-N.json` records are
    written; the apply path is the same either way."""
    table = TargetTable(table_path, compact_every=compact_every)
    table.create_if_absent()

    def look(e: int, batch: DataFrame) -> dict:
        if images == "carry":
            return {"probe": _ddl_probe(batch, e), "persisted": []}
        rows = _probe(batch, routed=False, pk_change=True)
        f = _fold(rows)
        if f["n_unknown"] or f["n_ddl"]:
            # unknown ops must refuse IN ORDER on the apply; DDL needs the
            # barrier applied before the drops capture
            return {"probe": rows, "fallback": True, "persisted": []}
        return {"probe": rows, "fallback": False, **fetch.prepare_fetch_epoch(
            spark, batch, [], n_pk_change=f["n_pk_change"],
            n_events=f["n_insert"] + f["n_update"] + f["n_delete"],
        )}

    return _replay_epochs(
        spark, table, binlog_dir, wire, stop_after, look, stats_out,
        lineage_dir=os.path.join(table_path, "_lineage") if lineage else None,
        images=images,
    )


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
    compact_every: int = 16,
    stats_out: list | None = None,
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
    partition, GoldenGateKafka.java:242-259). `multi=True` routes into a
    TableRouter, whose apply verifies redelivered contents per table, so
    its gate treats every epoch as unapplied. `stats_out` collects each
    apply_batch result dict, as for `replay`."""
    if multi:
        target = TableRouter(table_path, compact_every=compact_every)
    else:
        target = TargetTable(table_path, compact_every=compact_every)
        target.create_if_absent()
    lineage_dir = os.path.join(table_path, "_lineage")
    staging_root = os.path.join(table_path, "_staging")

    def handle(bdf: DataFrame, _bid: int) -> None:
        floor, watermark, sparse, latest = None, None, set(), None
        if not multi:
            floor, watermark, sparse = target.applied_epochs()
            latest = target.max_epoch()

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
            res = apply_batch(
                spark, target, cur, e, lineage_dir=lineage_dir,
                verify_redelivery=True, images=images,
            )
            if stats_out is not None:
                stats_out.append(res)
            if not multi:
                sparse.add(e)
                latest = e if latest is None else max(latest, e)

    writer = (
        stream_reader(spark, binlog_dir, max_files_per_trigger, wire=wire)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return target
    return writer.start()

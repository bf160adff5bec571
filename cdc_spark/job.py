"""CLI job entrypoint — the spark-submit surface of the engine.

Usage (sandbox local mode; on a cluster drop the --master):

    # generate a synthetic binlog (FIXTURES.md F1)
    python -m cdc_spark.job gen --out /tmp/binlog --events 100000 --epoch-size 10000

    # replay it into the target table (batch driver)
    spark-submit --py-files cdc_spark.zip -m ... cdc_spark/job.py replay \
        --binlog /tmp/binlog --table /tmp/tokens_table

    # or the Structured Streaming driver with checkpoint resume
    ... stream --binlog /tmp/binlog --table /tmp/tokens_table --checkpoint /tmp/ckpt

    # verify final state against the single-threaded oracle
    python -m cdc_spark.job verify --binlog /tmp/binlog --table /tmp/tokens_table
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _add_common(p: argparse.ArgumentParser) -> None:
    p.add_argument("--master", default=None, help="spark master (default local[$SPARK_GRAFT_CPUS])")
    p.add_argument("--shuffle-partitions", type=int, default=None)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="cdc_spark.job")
    sub = ap.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("gen", help="generate synthetic binlog segments")
    g.add_argument("--out", required=True)
    g.add_argument("--events", type=int, default=100_000)
    g.add_argument("--docs", type=int, default=10_000)
    g.add_argument("--epoch-size", type=int, default=10_000)
    g.add_argument("--seed", type=int, default=42)
    g.add_argument("--zipf", type=float, default=1.2)
    g.add_argument("--parts", type=int, default=1,
                   help="part files per epoch segment (input-scan parallelism)")
    g.add_argument("--tables", default=None,
                   help="comma-separated table names for a multi-table feed "
                        "(default: the single corpus.tokens table)")
    g.add_argument("--schedule", default="default", choices=["default", "drop"],
                   help="DDL schedule: default (add/add/rename/widen) or drop "
                        "(adds a drop_column + re-add)")
    g.add_argument("--images", default="full", choices=["full", "keys"],
                   help="full: events carry before/after images (GoldenGate "
                        "shape); keys: key-only CT shape (reference "
                        "CTInputDStream.java:112-131) — replay/stream it "
                        "with --images fetch")

    for name in ("replay", "stream"):
        r = sub.add_parser(name, help=f"{name} driver: binlog → target table")
        r.add_argument("--binlog", required=True)
        r.add_argument("--table", required=True)
        r.add_argument("--compact-every", type=int, default=16)
        r.add_argument("--wire", default="parquet", choices=["parquet", "avro"],
                       help="segment payload: typed parquet rows, or Avro "
                            "single-object frames (T6; see avro-encode)")
        r.add_argument("--images", default="carry", choices=["carry", "fetch"],
                       help="carry: events bring full images; fetch: key-only "
                            "feed, images fetched from earlier events + the "
                            "table's own resolved state (reference CT shape)")
        if name == "replay":
            r.add_argument("--no-lineage", action="store_true",
                           help="skip per-partition lineage emission; routes "
                                "apply_batch through the Observation-folded "
                                "single-job fast path (one less job/epoch)")
        r.add_argument("--multi-table", action="store_true",
                       help="route events by the `table` column into "
                            "per-table targets under --table (reference: "
                            "per-CT-table processing, CTInputDStream.java:65-99)")
        if name == "stream":
            r.add_argument("--checkpoint", required=True)
            r.add_argument("--max-files-per-trigger", type=int, default=None,
                           help="rate limit (reference: maxRatePerPartition, "
                                "GoldenGateKafkaConfig.java:54-62)")
        _add_common(r)

    v = sub.add_parser("verify", help="compare final table state vs oracle applier")
    v.add_argument("--binlog", required=True)
    v.add_argument("--table", required=True)
    v.add_argument("--multi-table", action="store_true")
    v.add_argument("--images", default="carry", choices=["carry", "fetch"],
                   help="oracle replay mode — use fetch for key-only feeds")
    _add_common(v)

    cp = sub.add_parser("compact", help="rewrite base, consume deltas (Iceberg rewrite_data_files analogue)")
    cp.add_argument("--table", required=True)
    _add_common(cp)

    jr = sub.add_parser(
        "jdbc-replay",
        help="poll a JDBC change-tracking outbox table and apply per epoch "
             "(reference S1 transport, CTInputDStream.java:112-131)",
    )
    jr.add_argument("--url", required=True, help="JDBC URL (e.g. jdbc:derby:/path)")
    jr.add_argument("--table", required=True, help="target table path")
    jr.add_argument("--outbox", default="changes", help="outbox table name")
    jr.add_argument("--driver", default=None, help="JDBC driver class")
    jr.add_argument("--num-partitions", type=int, default=4)
    _add_common(jr)

    ae = sub.add_parser(
        "avro-encode",
        help="re-encode a parquet binlog as Avro single-object wire segments "
             "(harness utility: produces the feed shape a GoldenGate-style "
             "Avro topic would carry; replay/stream consume it via --wire avro)",
    )
    ae.add_argument("--binlog", required=True)
    ae.add_argument("--out", required=True)
    _add_common(ae)

    bs = sub.add_parser("bootstrap", help="seed the target table from an existing tokens parquet")
    bs.add_argument("--from-parquet", required=True, dest="from_parquet",
                    help="parquet with (doc_id, tokens, n_tok, source) columns")
    bs.add_argument("--table", required=True)
    _add_common(bs)

    pk = sub.add_parser(
        "pack",
        help="pack the resolved tokens table into fixed-length training "
             "sequences (P17 concat-and-chunk; the step after CDC ingest "
             "that feeds the trainer)",
    )
    pk.add_argument("--table", required=True)
    pk.add_argument("--out", required=True, help="output parquet dir "
                    "(seq_id, tokens, n_tok)")
    pk.add_argument("--seq-len", type=int, default=2048)
    pk.add_argument("--n-buckets", type=int, default=64,
                    help="prefix-sum parallelism (never changes the result)")
    pk.add_argument("--as-of-version", type=int, default=None,
                    help="time-travel: pack the table state at this "
                         "journal version (reproduce the exact training "
                         "set a past epoch produced; readable back to "
                         "the last compaction)")
    _add_common(pk)

    hy = sub.add_parser(
        "history",
        help="list retained journal versions (Iceberg snapshots metadata "
             "analogue); no Spark session needed",
    )
    hy.add_argument("--table", required=True)

    ch = sub.add_parser(
        "changes",
        help="incremental changelog scan: apply-rows (upserts + deletes) "
             "committed between two journal versions — the engine as a "
             "CDC source for downstream consumers",
    )
    ch.add_argument("--table", required=True)
    ch.add_argument("--from-version", type=int, required=True, dest="from_version")
    ch.add_argument("--to-version", type=int, default=None, dest="to_version")
    ch.add_argument("--out", default=None,
                    help="write the changelog parquet here (default: "
                         "summarize counts only)")
    _add_common(ch)

    args = ap.parse_args(argv)

    if args.cmd == "gen":
        from cdc_spark.genlog import (
            DDL_SCHEDULE_WITH_DROP,
            DEFAULT_DDL_SCHEDULE,
            TABLE_NAME,
            GenConfig,
            write_binlog,
        )

        cfg = GenConfig(
            n_events=args.events, n_docs=args.docs, events_per_epoch=args.epoch_size,
            seed=args.seed, zipf_s=args.zipf,
            tables=tuple(args.tables.split(",")) if args.tables else (TABLE_NAME,),
            ddl_schedule=DDL_SCHEDULE_WITH_DROP if args.schedule == "drop"
            else DEFAULT_DDL_SCHEDULE,
        )
        t0 = time.monotonic()
        if args.images == "keys":
            from cdc_spark.genlog import write_binlog_keys

            paths = write_binlog_keys(cfg, args.out, parts=args.parts)
        else:
            paths = write_binlog(cfg, args.out, parts=args.parts)
        print(json.dumps({"segments": len(paths), "events": args.events,
                          "seconds": round(time.monotonic() - t0, 2)}))
        return 0

    if args.cmd == "history":
        from cdc_spark.sinks.target import TargetTable

        print(json.dumps(TargetTable(args.table).history()))
        return 0

    from cdc_spark.session import get_spark

    spark = get_spark(master=args.master, shuffle_partitions=args.shuffle_partitions)
    try:
        if args.cmd in ("replay", "stream"):
            from cdc_spark.streaming.pipeline import replay, replay_multi, stream

            t0 = time.monotonic()
            epoch_stats: list = []
            if args.cmd == "stream":
                target = stream(spark, args.binlog, args.table, checkpoint_dir=args.checkpoint,
                                max_files_per_trigger=args.max_files_per_trigger,
                                wire=args.wire, multi=args.multi_table, images=args.images,
                                compact_every=args.compact_every)
            elif args.multi_table:
                target = replay_multi(
                    spark, args.binlog, args.table,
                    compact_every=args.compact_every, wire=args.wire,
                    images=args.images,
                )
            else:
                target = replay(
                    spark, args.binlog, args.table,
                    compact_every=args.compact_every, stats_out=epoch_stats,
                    wire=args.wire, lineage=not args.no_lineage,
                    images=args.images,
                )
            dt = round(time.monotonic() - t0, 2)
            if args.multi_table:
                out = {}
                for name in target.names():
                    t = target.get(name)
                    out[name] = {
                        "final_rows": t.read_resolved(spark).count(),
                        "version": t.state()["version"],
                        "registry": t.state()["registry"],
                    }
                print(json.dumps({"seconds": dt, "tables": out}))
                return 0
            st = target.state()
            n_rows = target.read_resolved(spark).count()
            print(json.dumps({
                "epochs_applied": st.get("epochs_applied", len(st["epochs"])),
                "version": st["version"],
                "final_rows": n_rows, "seconds": dt,
                # filtered identically so the two lists stay positionally
                # aligned when some epochs no-op on a resumed replay
                "epoch_seconds": [round(r["seconds"], 2) for r in epoch_stats if "seconds" in r],
                "epoch_events": [r["n_events"] for r in epoch_stats if "seconds" in r],
                "registry": st["registry"],
            }))
            return 0

        if args.cmd == "verify":
            from cdc_spark import oracle
            from cdc_spark.sinks.target import TableRouter, TargetTable

            def _diff(expected: dict, actual: dict, prefix: str = "") -> list[str]:
                diffs = []
                for k in set(expected) | set(actual):
                    if k not in expected or k not in actual:
                        diffs.append(f"{prefix}{k}")
                        continue
                    o, e = expected[k], actual[k]
                    for col, ov in o.items():
                        ev = e.get(col)
                        if col == "tokens":
                            ov = list(ov) if ov is not None else None
                            ev = list(ev) if ev is not None else None
                        if ov != ev:
                            diffs.append(f"{prefix}{k}.{col}")
                return diffs

            if args.multi_table:
                by_table = oracle.replay_tables(
                    f"{args.binlog}/segment-*.parquet", images=args.images
                )
                router = TableRouter(args.table)
                diffs, n_oracle, n_engine = [], 0, 0
                missing_tables = []
                for name, (state, reg) in sorted(by_table.items()):
                    expected = {r["doc_id"]: r for r in oracle.final_rows(state, reg)}
                    n_oracle += len(expected)
                    if not router.exists(name):
                        # a table the oracle expects but the engine never
                        # routed is a DIFF — touching router.get() here
                        # would create its journal inside the very tree
                        # being verified. missing_tables makes the diff
                        # count attributable without reading sample keys
                        # (its rows count into rows_oracle, never
                        # rows_engine, so the totals don't reconcile with
                        # diffs by themselves).
                        missing_tables.append(name)
                        diffs += [f"{name}/{k}" for k in expected]
                        continue
                    actual = {r["doc_id"]: r.asDict()
                              for r in router.get(name).read_resolved(spark).collect()}
                    n_engine += len(actual)
                    diffs += _diff(expected, actual, prefix=f"{name}/")
                print(json.dumps({"tables": sorted(by_table),
                                  "missing_tables": missing_tables,
                                  "rows_oracle": n_oracle, "rows_engine": n_engine,
                                  "diffs": len(diffs), "ok": not diffs,
                                  "sample": diffs[:5]}))
                return 0 if not diffs else 1

            state, reg = oracle.replay(
                f"{args.binlog}/segment-*.parquet", images=args.images
            )
            expected = {r["doc_id"]: r for r in oracle.final_rows(state, reg)}
            table = TargetTable(args.table)
            actual = {r["doc_id"]: r.asDict() for r in table.read_resolved(spark).collect()}
            diffs = _diff(expected, actual)
            print(json.dumps({"rows_oracle": len(expected), "rows_engine": len(actual),
                              "diffs": len(diffs), "ok": not diffs,
                              "sample": diffs[:5]}))
            return 0 if not diffs else 1

        if args.cmd == "jdbc-replay":
            from cdc_spark.sources.jdbc import jdbc_replay

            t0 = time.monotonic()
            table = jdbc_replay(
                spark, args.url, args.table, outbox_table=args.outbox,
                driver=args.driver, num_partitions=args.num_partitions,
            )
            st = table.state()
            print(json.dumps({
                "epochs_applied": st.get("epochs_applied", 0),
                "version": st["version"],
                "final_rows": table.read_resolved(spark).count(),
                "seconds": round(time.monotonic() - t0, 2),
            }))
            return 0

        if args.cmd == "avro-encode":
            import glob as _glob
            import os
            import shutil

            from cdc_spark.sources.avro import encode_avro_changes
            from cdc_spark.sources.binlog import list_segments, read_changes

            os.makedirs(args.out, exist_ok=True)
            tmp = os.path.join(args.out, "_tmp_encode")
            n_files = 0
            for epoch, paths in sorted(list_segments(args.binlog).items()):
                for p in paths:
                    wiredf = encode_avro_changes(read_changes(spark, p))
                    # one wire file per source part, same name → the epoch
                    # structure (list_segments) is preserved byte-for-byte
                    wiredf.coalesce(1).write.mode("overwrite").parquet(tmp)
                    part = _glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
                    os.replace(part, os.path.join(args.out, os.path.basename(p)))
                    n_files += 1
            shutil.rmtree(tmp, ignore_errors=True)
            print(json.dumps({"segments": n_files, "out": args.out}))
            return 0

        if args.cmd == "compact":
            from cdc_spark.sinks.target import TargetTable

            table = TargetTable(args.table)
            entry = table.compact(spark)
            print(json.dumps({"version": entry["version"], "kind": entry["kind"],
                              "snapshot_id": entry["snapshot_id"]}))
            return 0

        if args.cmd == "bootstrap":
            from pyspark.sql import functions as F

            from cdc_spark.sinks.target import TargetTable

            table = TargetTable(args.table)
            table.create_if_absent()
            src = spark.read.parquet(args.from_parquet)
            # bootstrap rows carry lsn 0: any change event (lsn >= 1)
            # wins LWW over the seeded image
            seed = src.select(
                F.col("doc_id").cast("string"),
                F.col("tokens").cast("array<int>"),
                F.col("n_tok").cast("int"),
                F.col("source").cast("string"),
                F.lit(0).cast("long").alias("last_lsn"),
                F.lit(False).alias("deleted"),
            )
            entry = table.commit_delta(seed, epoch=-1, stats=None)
            n = table.read_resolved(spark).count()
            print(json.dumps({"bootstrapped": entry is not None, "rows": n,
                              "version": table.state()["version"]}))
            return 0
        if args.cmd == "changes":
            from pyspark.sql import functions as F

            from cdc_spark.sinks.target import TargetTable

            t0 = time.monotonic()
            table = TargetTable(args.table)
            ch_df = table.read_changes_between(
                spark, args.from_version, args.to_version
            )
            if args.out:
                ch_df.write.mode("overwrite").parquet(args.out)
                ch_df = spark.read.parquet(args.out)
            st = ch_df.groupBy("_change_type").count().collect()
            counts = {r["_change_type"]: r["count"] for r in st}
            print(json.dumps({
                "from_version": args.from_version,
                "to_version": (args.to_version if args.to_version is not None
                               else table.state()["version"]),
                "rows": int(sum(counts.values())),
                "upserts": int(counts.get("upsert", 0)),
                "deletes": int(counts.get("delete", 0)),
                "out": args.out,
                "seconds": round(time.monotonic() - t0, 2),
            }))
            return 0
        if args.cmd == "pack":
            from pyspark.sql import functions as F

            from cdc_spark.functions.packing import emit_sequences
            from cdc_spark.sinks.target import TargetTable

            t0 = time.monotonic()
            table = TargetTable(args.table)
            # the engine's doc ids are 'doc%08d' (fixed width): the
            # numeric tail is the deterministic concat order
            src = table.read_resolved(spark, version=args.as_of_version).select(
                F.regexp_extract("doc_id", r"(\d+)$", 1).cast("long").alias("_ord"),
                F.coalesce(F.col("tokens"), F.array().cast("array<int>")).alias("tokens"),
            )
            chk = src.agg(
                F.count(F.lit(1)).alias("n"),
                F.count("_ord").alias("n_ord"),
                F.countDistinct("_ord").alias("n_distinct"),
            ).first()
            n_bad = chk["n"] - chk["n_ord"]
            if n_bad:
                print(json.dumps({"error": "doc_id without numeric tail",
                                  "rows": n_bad}))
                return 1
            # two docs sharing a tail (doc7, doc07) have no defined
            # concat order between them
            n_dup = chk["n_ord"] - chk["n_distinct"]
            if n_dup:
                print(json.dumps({"error": "duplicate numeric doc_id tail",
                                  "rows": n_dup}))
                return 1
            out = emit_sequences(
                src.withColumnRenamed("_ord", "doc_id"),
                args.seq_len, n_buckets=args.n_buckets,
            )
            out.write.mode("overwrite").parquet(args.out)
            st = spark.read.parquet(args.out).agg(
                F.count("*").alias("n"), F.sum("n_tok").alias("tok")
            ).first()
            print(json.dumps({
                "sequences": int(st["n"]), "tokens": int(st["tok"] or 0),
                "seq_len": args.seq_len,
                "seconds": round(time.monotonic() - t0, 2),
            }))
            return 0
        return 2
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())

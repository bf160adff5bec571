"""Binlog/WAL-shaped change-feed source.

The sandbox feed is a directory of ordered parquet segments (one epoch
per segment, optionally split into contiguous-lsn part files for scan
parallelism). This module owns segment discovery and the two read
surfaces; the reference's equivalents are the SQL Server CT polling
source (source/sqlserver/CTInputDStream.java:34,65-99, S1/S2) and the
GoldenGate Kafka tail (source/oracle/GoldenGateKafka.java:112-240, S7).

Unlike the reference — which REQUIRES a single totally-ordered partition
(single Kafka partition, GoldenGateKafka.java:242-259; JdbcRDD
numPartitions=1, CTInputDStream.java:128-130) — this source reads N
part files in parallel; per-key order is restored downstream by the
LWW dedupe (operators/dedupe.py, O3).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from cdc_spark.schema import CHANGE_SCHEMA


def list_segments(binlog_dir: str) -> dict[int, list[str]]:
    """Map epoch → its part files (sorted). Accepts both single-file
    segments (`segment-EEEEE.parquet`) and multi-part ones
    (`segment-EEEEE-pPPP.parquet`)."""
    by_epoch: dict[int, list[str]] = {}
    for f in sorted(os.listdir(binlog_dir)):
        if not (f.startswith("segment-") and f.endswith(".parquet")):
            continue
        epoch = int(f[len("segment-"):].split("-")[0].split(".")[0])
        by_epoch.setdefault(epoch, []).append(os.path.join(binlog_dir, f))
    return by_epoch


def read_changes(
    spark: SparkSession, path: str | list[str], wire: str = "parquet"
) -> DataFrame:
    """Batch-read change events with the canonical schema (no inference
    scan — the wire schema is fixed, FIXTURES.md F1).

    wire="avro": segments hold (value: binary) single-object Avro frames
    (sources.avro wire format, T6); decoded via the Arrow kernel."""
    paths = [path] if isinstance(path, str) else path
    if wire == "avro":
        from cdc_spark.sources.avro import decode_avro_changes

        raw = spark.read.schema("value binary").parquet(*paths)
        return decode_avro_changes(raw)
    return spark.read.schema(CHANGE_SCHEMA).parquet(*paths)


def stream_reader(
    spark: SparkSession,
    binlog_dir: str,
    max_files_per_trigger: int | None = None,
    wire: str = "parquet",
) -> DataFrame:
    """Structured Streaming reader over the segment directory; offsets
    live in the query checkpoint (fixes the reference's driver-memory
    offsets, CTInputDStream.java:60-62,96-97 — S6). The trigger limit is
    the rate-limiting knob (reference: maxRatePerPartition,
    GoldenGateKafkaConfig.java:54-62 — S9)."""
    if wire == "avro":
        from cdc_spark.sources.avro import decode_avro_changes

        reader = spark.readStream.schema("value binary")
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        return decode_avro_changes(reader.parquet(binlog_dir))
    reader = spark.readStream.schema(CHANGE_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(binlog_dir)

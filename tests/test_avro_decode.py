"""Avro value decoding (T6): single-object-encoded change events
round-trip through the Arrow-batched decoder into CHANGE_SCHEMA, with a
fingerprint64 writer-schema cache handling mid-stream schema versions."""

from __future__ import annotations

import glob

import pytest

from cdc_spark.sources.avro import (
    CHANGE_AVRO_SCHEMA,
    AvroSchemaCache,
    canonical_form,
    decode_avro_changes,
    decode_single_object,
    encode_single_object,
    schema_fingerprint,
)
from cdc_spark.sources.binlog import read_changes

#: an OLDER writer version: missing_mask doesn't exist yet
_V1_SCHEMA = {
    "type": "record",
    "name": "ChangeEvent",
    "fields": [f for f in CHANGE_AVRO_SCHEMA["fields"] if f["name"] != "missing_mask"],
}


def _wire_df(spark, rows, schema):
    data = [(bytearray(encode_single_object(schema, r)),) for r in rows]
    return spark.createDataFrame(data, "value binary")


def test_fingerprint_is_schema_identity():
    fp1 = schema_fingerprint(CHANGE_AVRO_SCHEMA)
    fp2 = schema_fingerprint(_V1_SCHEMA)
    assert fp1 != fp2
    # canonical form is whitespace/attribute-order independent
    import json

    reordered = json.loads(json.dumps(CHANGE_AVRO_SCHEMA))
    reordered["doc"] = "ignored attribute"
    assert canonical_form(reordered) == canonical_form(CHANGE_AVRO_SCHEMA)
    assert schema_fingerprint(reordered) == fp1


def test_single_object_roundtrip_matches_parquet_feed(spark, small_binlog):
    seg = sorted(glob.glob(f"{small_binlog}/segment-*.parquet"))[0]
    original = read_changes(spark, seg)
    rows = [r.asDict(recursive=True) for r in original.collect()]
    wire = _wire_df(spark, rows, CHANGE_AVRO_SCHEMA)
    decoded = decode_avro_changes(wire)
    # same fields/types (parquet reads as all-nullable, so compare shape)
    assert [(f.name, f.dataType) for f in decoded.schema.fields] == [
        (f.name, f.dataType) for f in original.schema.fields
    ]
    dec = sorted(
        (r.asDict(recursive=True) for r in decoded.collect()), key=lambda r: r["lsn"]
    )
    rows.sort(key=lambda r: r["lsn"])
    assert len(dec) == len(rows)
    for o, d in zip(rows, dec):
        assert o == d


def test_mixed_writer_schemas_resolve_via_fingerprint_cache(spark, small_binlog):
    """Half the messages use an older writer schema (no missing_mask);
    the cache routes each frame to its writer schema by fingerprint and
    absent fields resolve to null (reference Normalizer.java:97-117)."""
    seg = sorted(glob.glob(f"{small_binlog}/segment-*.parquet"))[0]
    rows = [r.asDict(recursive=True) for r in read_changes(spark, seg).limit(20).collect()]
    v1_rows = [{k: v for k, v in r.items() if k != "missing_mask"} for r in rows[::2]]
    wire = spark.createDataFrame(
        [(bytearray(encode_single_object(CHANGE_AVRO_SCHEMA, r)),) for r in rows[1::2]]
        + [(bytearray(encode_single_object(_V1_SCHEMA, r)),) for r in v1_rows],
        "value binary",
    )
    decoded = decode_avro_changes(wire, [CHANGE_AVRO_SCHEMA, _V1_SCHEMA])
    got = {r["lsn"]: r.asDict(recursive=True) for r in decoded.collect()}
    for r in rows[1::2]:
        assert got[r["lsn"]] == r
    for r in v1_rows:
        assert got[r["lsn"]]["missing_mask"] is None
        assert got[r["lsn"]]["doc_id"] == r["doc_id"]


def test_unknown_fingerprint_fails_loudly():
    frame = encode_single_object(_V1_SCHEMA, {"lsn": 1, "epoch": 0})
    cache = AvroSchemaCache([CHANGE_AVRO_SCHEMA])  # v1 NOT registered
    with pytest.raises(ValueError, match="unknown Avro writer-schema fingerprint"):
        decode_single_object(frame, cache)


def test_avro_wire_replay_matches_parquet_replay(spark, small_binlog, workdir):
    """Full engine replay over the Avro wire (encode → decode inside the
    source) produces the identical final table as the parquet feed."""
    import glob as _glob
    import os
    import shutil

    from cdc_spark.sources.avro import encode_avro_changes
    from cdc_spark.sources.binlog import list_segments
    from cdc_spark.streaming.pipeline import replay

    # same loop the `avro-encode` CLI runs (job.py), minus its own session
    wire_dir = f"{workdir}/binlog_avro_wire"
    os.makedirs(wire_dir, exist_ok=True)
    tmp = os.path.join(wire_dir, "_tmp_encode")
    for _epoch, paths in sorted(list_segments(small_binlog).items()):
        for p in paths:
            encode_avro_changes(read_changes(spark, p)).coalesce(1) \
                .write.mode("overwrite").parquet(tmp)
            part = _glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
            os.replace(part, os.path.join(wire_dir, os.path.basename(p)))
    shutil.rmtree(tmp, ignore_errors=True)
    assert sorted(os.listdir(wire_dir)) == sorted(
        f for f in os.listdir(small_binlog) if f.endswith(".parquet")
    )
    t_avro = replay(spark, wire_dir, f"{workdir}/table_avro", wire="avro", stop_after=2)
    t_parq = replay(spark, small_binlog, f"{workdir}/table_parq_ref", stop_after=2)
    a = {r["doc_id"]: r.asDict() for r in t_avro.read_resolved(spark).collect()}
    b = {r["doc_id"]: r.asDict() for r in t_parq.read_resolved(spark).collect()}
    assert a == b and len(a) > 0


def test_non_single_object_bytes_rejected():
    cache = AvroSchemaCache([CHANGE_AVRO_SCHEMA])
    with pytest.raises(ValueError, match="C3 01"):
        decode_single_object(b"garbage", cache)

"""Canonical schemas for the change feed and target table.

Re-expresses the reference's two-record wire protocol (DDLRecord:
reference source/sqlserver/ResultSetToDDLRecord.java:19-22 and
source/oracle/Normalizer.java:48-50; DMLRecord:
source/sqlserver/ResultSetToDMLRecord.java:22-28, Normalizer.java:247-250)
as ONE flat Spark schema with an op_type discriminator — instead of
discriminating by Avro record name (reference CTSQLServer.java:106,150)
we discriminate by column, which keeps the whole feed in a single typed
DataFrame that Catalyst can prune/push down.

Payload specialisation: the target is a table of pre-tokenized training
sequences (doc_id, tokens:array<int>, n_tok, source) per BASELINE.json
input_hint, plus an `extra: map<string,string>` carrying values for
DDL-added columns (the reference's dynamic per-table `change` sub-record,
ResultSetToDMLRecord.java:77-82, collapses to this fixed base + map).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# F1 — change event (binlog) schema
# ---------------------------------------------------------------------------

#: Row image carried in before/after. `extra` holds values for columns that
#: were added via DDL after job start (stringified; cast on apply).
PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
        T.StructField("n_tok", T.IntegerType()),
        T.StructField("source", T.StringType()),
        T.StructField("extra", T.MapType(T.StringType(), T.StringType())),
    ]
)

#: One row per change event, totally ordered by lsn (the reference's
#: SYS_CHANGE_VERSION, CTInputDStream.java:114-119).
CHANGE_SCHEMA = T.StructType(
    [
        T.StructField("lsn", T.LongType(), nullable=False),
        T.StructField("epoch", T.IntegerType(), nullable=False),
        T.StructField("table", T.StringType()),
        T.StructField("op_type", T.StringType()),  # 'I' | 'U' | 'D' | 'DDL'
        T.StructField("primary_keys", T.ArrayType(T.StringType())),
        T.StructField("doc_id", T.StringType()),
        T.StructField("before", PAYLOAD_SCHEMA),
        T.StructField("after", PAYLOAD_SCHEMA),
        # names of `after` fields NOT supplied by this update — unchanged
        # fields take the before value (the reference's *_isMissing flags,
        # Normalizer.java:190-202).
        T.StructField("missing_mask", T.ArrayType(T.StringType())),
        T.StructField("ddl_kind", T.StringType()),  # add|rename|widen _column
        T.StructField("ddl_payload", T.StringType()),  # JSON
    ]
)

# ---------------------------------------------------------------------------
# Normalized apply-event schema (output of operators.normalize)
# ---------------------------------------------------------------------------

#: Base (non-evolvable) target columns, in canonical order.
BASE_COLUMNS = ["doc_id", "tokens", "n_tok", "source"]

APPLY_SCHEMA = T.StructType(
    [
        T.StructField("lsn", T.LongType(), nullable=False),
        T.StructField("epoch", T.IntegerType(), nullable=False),
        T.StructField("doc_id", T.StringType(), nullable=False),
        T.StructField("deleted", T.BooleanType(), nullable=False),
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
        T.StructField("n_tok", T.IntegerType()),
        T.StructField("source", T.StringType()),
        T.StructField("extra", T.MapType(T.StringType(), T.StringType())),
    ]
)

# ---------------------------------------------------------------------------
# F2 — target tokens table (engine output)
# ---------------------------------------------------------------------------

TOKENS_BASE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), nullable=False),
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
        T.StructField("n_tok", T.IntegerType()),
        T.StructField("source", T.StringType()),
        T.StructField("last_lsn", T.LongType(), nullable=False),
    ]
)

#: Spark type names accepted for DDL-added columns, and legal widenings
#: (reference schema evolution is add/drop nullable only, CDCKudu.java:68-126;
#: we additionally support rename + widen per the north rule).
EXTRA_TYPES = {"int", "long", "float", "double", "string", "boolean"}
#: Exactly the promotions both Iceberg's ALTER COLUMN TYPE and Spark 4's
#: parquet readers support in place — which is what makes widen_column a
#: metadata-only operation (sinks/target.py): old files keep the narrow
#: physical type and the reader upcasts. long→double is deliberately NOT
#: here (Iceberg forbids it too: doubles carry 53 mantissa bits, the
#: promotion would silently lose precision, and the parquet reader
#: rejects it).
WIDENINGS = {("int", "long"), ("int", "double"), ("float", "double")}

SPARK_TYPE = {
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "boolean": T.BooleanType(),
}

"""Normalize raw change events into canonical apply-events.

Re-expresses the reference's Normalizer (source/oracle/Normalizer.java):

- T7 before/after image merge (Normalizer.java:160-217): for updates,
  fields named in missing_mask take the before-image value — here a
  per-column ``when(array_contains(...), before.x).otherwise(after.x)``,
  pure Catalyst expressions inside whole-stage codegen (the reference
  does this row-at-a-time in Java).
- T8 PK-change split (Normalizer.java:180-207,219-237): an update whose
  before/after doc_id differ expands to D(old)+I(new) — here
  ``inline(array(...))`` guarded by ``when(pk_changed, ...)``; no
  per-row Python (reference uses flatMap, GoldenGateKafka.java:233-239).
- T10 heartbeat/DDL drop (Normalizer.java:68-72): a non-DML row maps to
  a null event array, which ``inline`` drops.

Every step is a column expression, so the whole pass stays in
whole-stage codegen with no Python worker in the loop. The whole pass is
ONE ``select(*keep, inline(events))`` whose Column tree is a plan
template (cdc_spark/plans/template.py): built once per session and
`keep`, not once per epoch.

Output schema: cdc_spark.schema.APPLY_SCHEMA
(lsn, epoch, doc_id, deleted, tokens, n_tok, source, extra).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cdc_spark.plans.template import template

_EMPTY_MAP = "cast(map() as map<string,string>)"


def _masked(field: str, mask_name: str | None = None) -> Column:
    """after.field unless this update's missing_mask names it (→ before).

    ``n_tok`` is derived from ``tokens`` so it follows the tokens mask."""
    is_missing = (F.col("op_type") == "U") & F.array_contains(
        F.coalesce(F.col("missing_mask"), F.array().cast("array<string>")),
        mask_name or field,
    )
    return F.when(is_missing, F.col(f"before.{field}")).otherwise(F.col(f"after.{field}"))


def _merged_extra() -> Column:
    """after.extra over before.extra (after wins per key).

    Policy-independent: the maps handed to map_concat are always
    key-disjoint, so the result is the same under any
    spark.sql.mapKeyDedupPolicy — including the default EXCEPTION of a
    vanilla deployment session. Reference semantics (after-image wins):
    source/oracle/Normalizer.java:190-202.

    Perf note: map_filter is an interpreted higher-order function (no
    codegen), but measured warm it is within noise of plain map_concat
    on the full normalize pass (~0.2 s / 500k events) — not worth a
    branchier formulation."""
    b = F.coalesce(F.col("before.extra"), F.expr(_EMPTY_MAP))
    a = F.coalesce(F.col("after.extra"), F.expr(_EMPTY_MAP))
    before_only = F.map_filter(b, lambda k, _: ~F.array_contains(F.map_keys(a), k))
    return F.map_concat(before_only, a)


def _upsert_struct(tokens: Column, n_tok: Column, source: Column, extra: Column) -> Column:
    return F.struct(
        F.col("lsn").alias("lsn"),
        F.col("epoch").alias("epoch"),
        F.col("after.doc_id").alias("doc_id"),
        F.lit(False).alias("deleted"),
        tokens.alias("tokens"),
        n_tok.alias("n_tok"),
        source.alias("source"),
        extra.alias("extra"),
    )


def _delete_struct(doc_id: Column) -> Column:
    return F.struct(
        F.col("lsn").alias("lsn"),
        F.col("epoch").alias("epoch"),
        doc_id.alias("doc_id"),
        F.lit(True).alias("deleted"),
        F.lit(None).cast("array<int>").alias("tokens"),
        F.lit(None).cast("int").alias("n_tok"),
        F.lit(None).cast("string").alias("source"),
        F.lit(None).cast("map<string,string>").alias("extra"),
    )


def _events() -> Column:
    """One row's apply-events: a tombstone for D, tombstone + upsert for
    a PK-changing U, an upsert for I/U, null (no rows) for anything
    else."""
    tokens, n_tok = _masked("tokens"), _masked("n_tok", mask_name="tokens")
    upsert = _upsert_struct(tokens, n_tok, _masked("source"), _merged_extra())
    op = F.col("op_type")
    pk_changed = (
        (op == "U")
        & F.col("before.doc_id").isNotNull()
        & (F.col("before.doc_id") != F.col("after.doc_id"))
    )
    return (
        F.when(op == "D", F.array(_delete_struct(F.col("before.doc_id"))))
        .when(pk_changed, F.array(_delete_struct(F.col("before.doc_id")), upsert))
        .when(op.isin("I", "U"), F.array(upsert))
    )


def normalize(changes: DataFrame, keep: tuple = ()) -> DataFrame:
    """Raw change feed (CHANGE_SCHEMA) → apply-events (APPLY_SCHEMA).

    DDL rows are dropped (the pipeline collects them separately on the
    driver — they are rare and tiny; reference forces DDL-before-DML by
    sorting, CTSQLServer.java:108-114, we do a two-phase apply instead).
    `keep` names top-level input columns to carry through unchanged
    (the multi-table router keeps `table` for routing).
    """
    keep = tuple(keep)
    cols = template(("normalize", keep),
                    lambda: [*map(F.col, keep), F.inline(_events())])
    return changes.select(*cols)

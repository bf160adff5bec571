"""Last-writer-wins dedupe per key (SURVEY.md §2 O3 — the core redesign).

The reference guarantees apply order by funnelling the whole feed through
ONE partition (single Kafka partition, GoldenGate Kafka.java:242-259;
JdbcRDD numPartitions=1 with the TODO "We should partition it for
scalability", CTInputDStream.java:127-130). We keep N input partitions
and restore *per-key* order instead: only the max-lsn event per doc_id
survives a micro-batch; cross-batch order comes from the monotone lsn
kept in the target table (last_lsn).

One formulation: ``groupBy(key).agg(max_by(struct(*), lsn))``. It is a
hash aggregate with map-side partial aggregation (pinned by
tests/test_plans.py), so a hot key reduces locally before the shuffle
and ships at most one pre-reduced row per map task: Zipf skew never
concentrates on one reducer, with no hot-key detection pass. The
textbook ``row_number()`` window lives on only in the contract's DuckDB
twins (``cdc_lww_dedupe_*`` in __spark_entry__.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cdc_spark.plans.template import template


def lww_dedupe(
    df: DataFrame,
    key: str | list[str] = "doc_id",
    order: str = "lsn",
) -> DataFrame:
    """Keep only the max-`order` row per `key` (a column name or a
    composite list — the multi-table router keys by (table, doc_id)).
    Ties broken by `deleted` (delete wins — only possible for the D half
    of a PK-change split, which shares the source event's lsn with its I
    half but always targets a *different* key, so ties cannot occur in
    valid feeds; the tiebreak just makes the operator total).

    One aggregate and one output select in `df`'s column order, both a
    plan template keyed on (keys, columns, order)."""
    keys = (key,) if isinstance(key, str) else tuple(key)
    cols = tuple(df.columns)

    def build():
        ordering = (F.struct(F.col(order), F.col("deleted")) if "deleted" in cols
                    else F.col(order))
        won = F.max_by(F.struct(*[F.col(c) for c in cols if c not in keys]), ordering)
        out = [F.col(c) if c in keys else F.col("_r").getField(c).alias(c) for c in cols]
        return [F.col(k) for k in keys], won.alias("_r"), out

    group, agg, out = template(("lww_dedupe", keys, cols, order), build)
    return df.groupBy(*group).agg(agg).select(*out)

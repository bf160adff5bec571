"""LWW dedupe (O3): the max-lsn row per key survives, delete winning a tie."""

import pytest
from pyspark.sql import Row

from cdc_spark.operators.dedupe import lww_dedupe


@pytest.fixture(scope="module")
def events(spark):
    rows = [
        Row(lsn=i, epoch=0, doc_id=f"d{i % 7}", deleted=(i % 11 == 0), payload=i * 10)
        for i in range(1, 200)
    ]
    return spark.createDataFrame(rows)


def _py_lww(rows):
    """Max-(lsn, deleted) row per doc_id, in plain Python."""
    best = {}
    for r in rows:
        cur = best.get(r["doc_id"])
        if cur is None or (r["lsn"], r["deleted"]) > (cur["lsn"], cur["deleted"]):
            best[r["doc_id"]] = r
    return best


def test_max_lsn_survives(spark, events):
    out = lww_dedupe(events).collect()
    assert len(out) == 7
    by_doc = {r["doc_id"]: r for r in out}
    for d, r in by_doc.items():
        expect = max(i for i in range(1, 200) if f"d{i % 7}" == d)
        assert r["lsn"] == expect and r["payload"] == expect * 10


def test_real_feed_matches_python_lww(spark, small_binlog):
    """Normalized events of a real feed (PK-change D+I halves included)
    dedupe to exactly the max-lsn row per key computed in Python."""
    from cdc_spark.operators.normalize import normalize
    from cdc_spark.streaming.pipeline import read_changes

    ev = normalize(read_changes(spark, small_binlog))

    def key(r):
        return (r["lsn"], r["deleted"], tuple(r["tokens"] or ()))

    got = {r["doc_id"]: key(r) for r in lww_dedupe(ev).collect()}
    expect = {k: key(r) for k, r in _py_lww(ev.collect()).items()}
    assert got == expect


def test_columns_preserved(spark, events):
    out = lww_dedupe(events)
    assert out.columns == events.columns


def test_mega_hot_key_matches_python_lww(spark):
    """One key holding ~40% of the batch (the skew the map-side partial
    aggregate absorbs) still resolves to the max-lsn row per key."""
    from pyspark.sql import functions as F

    n = 20_000
    df = spark.range(n).select(
        (F.col("id") + 1).alias("lsn"),
        F.lit(0).alias("epoch"),
        F.when(F.col("id") % 5 <= 1, F.lit("HOT"))
        .otherwise(F.concat(F.lit("d"), (F.col("id") % 997).cast("string")))
        .alias("doc_id"),
        (F.col("id") % 13 == 0).alias("deleted"),
        (F.col("id") * 10).alias("payload"),
    )
    got = {r["doc_id"]: (r["lsn"], r["payload"]) for r in lww_dedupe(df).collect()}
    expect = {k: (r["lsn"], r["payload"]) for k, r in _py_lww(df.collect()).items()}
    assert got == expect and got["HOT"][0] == n - 3  # last HOT lsn: id%5<=1

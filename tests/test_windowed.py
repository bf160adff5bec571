"""Event-time windowed aggregation with watermarked late-data handling
(streaming/windowed.py): append mode emits each window exactly once when
the watermark passes its end, and a row arriving after the watermark
closed its window is DROPPED (the late-data contract)."""

from __future__ import annotations

import datetime as dt
import time

from pyspark.sql import types as T

from cdc_spark.streaming.windowed import stream_windowed_stats, windowed_event_stats

SCHEMA = T.StructType([
    T.StructField("ts", T.TimestampNTZType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
])


def _rows(*specs):
    return [(dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m), k, float(v))
            for m, k, v in specs]


def test_batch_windowing_is_timezone_independent(spark):
    df = spark.createDataFrame(_rows((5, "a", 1), (59, "a", 2), (65, "a", 4)), SCHEMA)
    out = {(r["window_start_s"], r["event_type"]): (r["n_events"], r["sum_value"])
           for r in windowed_event_stats(df).collect()}
    h0 = int(dt.datetime(2024, 1, 1).replace(tzinfo=dt.timezone.utc).timestamp())
    assert out == {(h0, "a"): (2, 3.0), (h0 + 3600, "a"): (1, 4.0)}


def test_watermark_drops_late_row_and_emits_windows_once(spark, tmp_path):
    """Batch 1: hour-0 rows. Batch 2: an hour-2 row — processing it
    advances the watermark (max event time − 30 min = 01:35) past hour
    0's end, finalizing and emitting that window. Batch 3: a LATE hour-0
    row — now behind the watermark, it must be dropped, not re-counted
    (watermarks advance between micro-batches, so the violating row has
    to arrive in a batch after the one that moved the watermark)."""
    import glob
    import shutil

    feed = tmp_path / "feed"
    feed.mkdir()
    # NB the late row needs TWO batches after the watermark-advancing
    # row: Spark filters late input with the PREVIOUS batch's watermark
    # while evicting state with the current one, so a row arriving in
    # the same batch that closes its window still merges. One spacer
    # batch later, the filter watermark has caught up and the row drops.
    batches = [
        _rows((5, "a", 1), (20, "a", 2)),  # hour 0, on time
        _rows((125, "a", 8)),              # hour 2 → watermark will pass hour 0
        _rows((130, "a", 16)),             # spacer: filter watermark catches up
        _rows((10, "a", 100)),             # LATE hour-0 row → dropped
    ]
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, SCHEMA)
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / f"w{i}"))
        shutil.copy(glob.glob(str(tmp_path / f"w{i}" / "part-*.parquet"))[0],
                    str(feed / f"f-{i:03d}.parquet"))
        time.sleep(1.1)  # file-source orders by mtime

    changes = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed))
    )
    out = stream_windowed_stats(changes, late_threshold="30 minutes")
    emitted: list = []
    q = (
        out.writeStream.outputMode("append")
        .foreachBatch(lambda bdf, _b: emitted.extend(bdf.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r["window_start_s"], r["event_type"]): (r["n_events"], r["sum_value"])
           for r in emitted}
    h0 = int(dt.datetime(2024, 1, 1).replace(tzinfo=dt.timezone.utc).timestamp())
    # hour-0 window finalized with ONLY the two on-time rows; the late
    # value-100 row was dropped. (hour-2's window is still open when the
    # availableNow stream drains, so it is not emitted in append mode.)
    assert got == {(h0, "a"): (2, 3.0)}


def test_windowed_ltz_start_is_instant(spark):
    """window_start_s must be the epoch instant for TIMESTAMP (LTZ)
    input regardless of the session timezone."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("2024-03-01 10:15:00",), ("2024-03-01 10:45:00",)], "s string"
    ).select(F.to_timestamp("s").alias("ts"), F.lit("x").alias("event_type"))
    assert df.schema["ts"].dataType.typeName() == "timestamp"
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        utc = windowed_event_stats(df, value_col=None).first()["window_start_s"]
        spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
        tokyo = windowed_event_stats(df, value_col=None).first()["window_start_s"]
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
    assert utc == tokyo

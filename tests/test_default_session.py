"""The engine must be correct on a bare SparkSession — no hidden
dependency on session.py's configs (round-1 regression: the extra-map
merge required spark.sql.mapKeyDedupPolicy=LAST_WIN, so every repo-side
gate passed while the driver's default session crashed the flagship
replay with DUPLICATED_MAP_KEY)."""

import contextlib

from cdc_spark.operators.normalize import normalize
from cdc_spark.schema import CHANGE_SCHEMA


@contextlib.contextmanager
def default_conf(spark, key: str, default_value: str):
    """Force a SQL conf to its Spark default for the duration."""
    try:
        old = spark.conf.get(key)
    except Exception:
        old = None
    spark.conf.set(key, default_value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_get_spark_sets_no_semantic_sql_confs(spark):
    # EXCEPTION is the Spark default; session.py must not override it
    assert spark.conf.get("spark.sql.mapKeyDedupPolicy") == "EXCEPTION"


def test_extra_merge_under_default_dedup_policy(spark):
    """Overlapping before/after extra keys merge (after wins) under the
    default EXCEPTION policy — key-disjoint map_concat, normalize.py."""
    ev = {
        "lsn": 1,
        "epoch": 0,
        "table": "corpus.tokens",
        "op_type": "U",
        "primary_keys": ["doc_id"],
        "doc_id": "a",
        "before": {"doc_id": "a", "tokens": [1], "n_tok": 1, "source": "s",
                   "extra": {"quality": "0.1", "keep": "yes"}},
        "after": {"doc_id": "a", "tokens": [1], "n_tok": 1, "source": "s",
                  "extra": {"quality": "0.9"}},
        "missing_mask": [],
        "ddl_kind": None,
        "ddl_payload": None,
    }
    with default_conf(spark, "spark.sql.mapKeyDedupPolicy", "EXCEPTION"):
        rows = normalize(spark.createDataFrame([ev], CHANGE_SCHEMA)).collect()
    assert rows[0]["extra"] == {"quality": "0.9", "keep": "yes"}


def test_full_replay_under_default_dedup_policy(spark, small_binlog, workdir, small_cfg):
    """One apply_batch-driven replay epoch end-to-end under the default
    policy — the exact path that crashed the driver in round 1."""
    from cdc_spark.streaming.pipeline import replay

    with default_conf(spark, "spark.sql.mapKeyDedupPolicy", "EXCEPTION"):
        table = replay(
            spark, small_binlog, f"{workdir}/table_default_conf", stop_after=2,
        )
        assert table.read_resolved(spark).count() > 0


def test_default_driver_heap_is_a_quarter_of_the_host():
    """Unset CDC_SPARK_DRIVER_MEM sizes the pinned heap from the host:
    a quarter of physical memory in whole GiB, clamped to 1..8g."""
    from cdc_spark.session import driver_mem_for

    gib = 2**30
    assert driver_mem_for(int(15.7 * gib)) == "3g"
    assert driver_mem_for(16 * gib) == "4g"
    assert driver_mem_for(2 * gib) == "1g"
    assert driver_mem_for(512 * 2**20) == "1g"
    assert driver_mem_for(64 * gib) == "8g"
    assert driver_mem_for(1024 * gib) == "8g"

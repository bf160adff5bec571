"""SparkSession factory with the engine's required configs."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_mem_for(phys_bytes: int) -> str:
    """Default driver heap: a quarter of the host's `phys_bytes` in whole
    GiB, clamped to 1..8g — the pinned, pre-touched heap is resident from
    the start and must leave room for a second JVM (CLI subprocesses)."""
    return f"{min(8, max(1, phys_bytes // 2**30 // 4))}g"


def get_spark(
    app: str = "cdc_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Local-mode session tuned for the sandbox; on a real cluster the
    same engine code runs under spark-submit with cluster conf.

    - AQE on: runtime coalescing + skew-join mitigation (SURVEY.md §4.3).
    - Arrow enabled for the pandas-UDF kernels.

    No semantic configs: the engine must produce identical results on a
    bare ``SparkSession.builder.getOrCreate()`` (the driver's session) —
    pinned by tests/test_default_session.py.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    mem = os.environ.get("CDC_SPARK_DRIVER_MEM") or driver_mem_for(
        os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(int(master[master.find("[") + 1 : -1]) if "[" in master and "*" not in master else cpus, 4)
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", mem)
        # pinned heap: an elastic JVM heap on this class of microVM spends
        # 50-96% CPU in kernel page-fault handling; -Xms=-Xmx + pre-touch
        # removes it. Only effective when THIS builder launches the JVM
        # (python -m / tests / bench); under spark-submit the driver JVM
        # already exists and these are ignored — pass submit flags there
        # (tools/bench_scaling.py does).
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{mem} -XX:+AlwaysPreTouch",
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    return b.getOrCreate()

"""SparkSession factory tuned for this engine.

Local runs use ``local[N]``, N the cores this process may use (or
``$SPARK_GRAFT_CPUS``), with a driver heap sized to physical memory (or
``$SPARK_GRAFT_DRIVER_MEM``); the same configuration
scales to a multi-executor cluster because nothing here is local-mode
specific: AQE handles runtime re-planning (partition coalescing, skew-join
splitting, broadcast conversion), and shuffle partitioning is explicit.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONF = {
    # Adaptive execution: runtime shuffle-partition coalescing, skew-join
    # splitting, and sort-merge→broadcast conversion. Essential at 100 TB
    # where static planning under-/over-estimates.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for pandas UDF / toPandas boundaries.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Stable wall-clock semantics regardless of machine timezone.
    "spark.sql.session.timeZone": "UTC",
    # Parquet: push filters + prune columns at the scan.
    "spark.sql.parquet.filterPushdown": "true",
}


def default_driver_memory() -> str:
    """The default driver heap: two thirds of physical memory
    (``MemTotal`` in /proc/meminfo), never above the 24g the engine was
    sized for — the Python workers, the JVM's off-heap and the OS need
    the rest."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(kb * 2 // 3 // 1024, 24 * 1024)}m"


def get_spark(
    app_name: str = "codex-data-products-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.
    ``SPARK_GRAFT_CPUS`` and ``SPARK_GRAFT_DRIVER_MEM`` override the
    machine-sized core count and driver heap."""
    # the cores this process may run on: its affinity mask, not the host's
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(DEFAULT_CONF)
    # In local mode ALL executor threads live inside the driver JVM, so
    # the PySpark default of 1g is the whole cluster's memory — at
    # sf0.5+ a single runtime broadcast blows past it ("Not enough
    # memory to build and broadcast"). Size the unified heap to the
    # machine; on a real cluster this maps to spark.executor.memory.
    conf["spark.driver.memory"] = (
        os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory()
    )
    conf["spark.driver.maxResultSize"] = "4g"
    conf["spark.sql.shuffle.partitions"] = str(
        shuffle_partitions
        if shuffle_partitions is not None
        else int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus))
    )
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

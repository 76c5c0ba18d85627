"""Loaders for the driver's synthetic tables (TESTDATA.md).

All reads are plain ``spark.read.parquet`` so Catalyst gets predicate
pushdown + column pruning at the scan. At cluster scale these would be
partitioned table locations; the API is identical.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Small dimension tables that should always broadcast in joins.
DIM_TABLES = {"region", "nation", "supplier", "part", "customer"}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table by name.

    ``events.ts`` has shipped as both TIMESTAMP(NANOS) (which the Spark
    parquet reader rejects unless nanos are read as long) and plain
    TIMESTAMP(MICROS, isAdjustedToUTC=false) (which Spark reads as
    TIMESTAMP_NTZ). Normalize both to session-UTC TIMESTAMP so every
    downstream query sees one type; DuckDB reads the same column as
    microsecond TIMESTAMP either way.
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; one of {TABLE_NAMES}")
    if name == "events":
        from pyspark.sql.types import LongType, TimestampNTZType

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):  # nanos read as long
            return df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        if isinstance(ts_type, TimestampNTZType):
            # naive micros; session tz is pinned UTC so this is lossless
            return df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Read every synthetic table into a dict of DataFrames."""
    return {name: table(spark, sf_dir, name) for name in TABLE_NAMES}


def spread(df: DataFrame, *keys: str) -> DataFrame:
    """Repartition to full core parallelism before CPU-heavy expressions
    — but ONLY when the input is actually under-split.

    Small single-file parquet inputs arrive as one task; per-row work like
    per-shingle md5 then serializes on one core. One cheap round-robin/hash
    shuffle of the (tiny) input buys full-width execution of the expensive
    stage. On a real cluster the scan is already split into many tasks, so
    the repartition is gated on a genuine partition deficit (< half the
    default parallelism): an already-wide scan passes through untouched and
    no avoidable full shuffle of a large fact is ever introduced. After a
    selective filter collapses partition counts the gate re-opens, which is
    exactly when the shuffle pays for itself. See SCALE.md (local-mode
    artifacts) for the rationale.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= max(1, n // 2):
        return df
    return df.repartition(n, *keys) if keys else df.repartition(n)


def local_frame(spark: SparkSession, rows, schema: str) -> DataFrame:
    """Small driver-side rows as an Arrow-backed local relation
    (round 11, guide §4): ``createDataFrame(list_of_rows)`` builds a
    defaultParallelism-partition Python RDD, so EVERY job referencing
    the frame pays one Python worker round-trip per partition (~6 s
    for a coalesce(1) write of an *empty* frame at local[32]); the
    pandas path ships one Arrow batch and plans as a JVM LocalRelation.
    ``rows``: list of tuples matching ``schema`` (a DDL string). An
    empty ``rows`` is one all-null row under ``limit(0)``: PySpark
    sends an empty pandas frame down the RDD path, and the optimizer
    folds the limit into an empty LocalRelation."""
    import pandas as pd

    names = [f.split()[0] for f in schema.split(",")]
    if not rows:
        return local_frame(spark, [(None,) * len(names)], schema).limit(0)
    data = {n: [r[i] for r in rows] for i, n in enumerate(names)}
    return spark.createDataFrame(pd.DataFrame(data, columns=names), schema=schema)


def run_lanes(
    spark: SparkSession, *lanes: Callable[[], Any], max_workers: int | None = None
) -> list:
    """Run independent driver-side callables (each firing its own Spark
    jobs) as concurrent lanes over ``spark`` and return their results in
    order — the job barriers overlap, so a group of writes costs its
    slowest lane, not the sum. ``max_workers`` caps the threads (default:
    one per lane; 1 runs the lanes one after another in order).

    Each lane is wrapped in ``pyspark.util.inheritable_thread_target``,
    so the jobs it fires keep the caller's job group, description and
    tags. Every lane runs to its end before the first failure (in lane
    order) is re-raised: a crashing lane never leaves a sibling still
    writing behind the caller's back."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    targets = [inheritable_thread_target(spark)(f) for f in lanes]
    workers = len(targets) if max_workers is None else max_workers
    with ThreadPoolExecutor(max_workers=max(1, min(workers, len(targets)))) as pool:
        futures = [pool.submit(t) for t in targets]
    return [f.result() for f in futures]

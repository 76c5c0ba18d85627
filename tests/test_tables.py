"""Driver-side helpers of ``codex_data_products_spark.tables``: small
local relations and concurrent job lanes."""

from __future__ import annotations

import threading
import time

import pytest

from codex_data_products_spark.tables import local_frame, run_lanes


def test_empty_local_frame_is_an_empty_local_relation(spark):
    """No rows still plans as a JVM local relation (never a Python RDD
    scan) and keeps the DDL schema, nullable columns included."""
    schema = "dataset string, n_edges long"
    df = local_frame(spark, [], schema)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan and "LocalTableScan" in plan, plan
    assert df.schema == spark.createDataFrame([], schema).schema
    assert df.collect() == []


def test_run_lanes_keep_job_group_and_raise_after_siblings(spark):
    """A job fired inside a lane is listed under the caller's job
    group; a failing lane re-raises only after its sibling finished."""
    sc = spark.sparkContext
    group = "run-lanes-test"
    sc.setJobGroup(group, "run_lanes test")
    try:
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        assert run_lanes(spark, spark.range(10).count, lambda: "done") == [
            10,
            "done",
        ]
        assert sc.statusTracker().getJobIdsForGroup(group)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)

    finished = threading.Event()

    def fail() -> None:
        raise RuntimeError("lane failed")

    def slow() -> None:
        time.sleep(0.5)
        spark.range(5).count()
        finished.set()

    with pytest.raises(RuntimeError, match="lane failed"):
        run_lanes(spark, fail, slow)
    assert finished.is_set()

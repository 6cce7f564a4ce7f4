"""Execution policy (etl_spark_spark/execution.py) and the session
defaults it runs under: ``fan_out`` adds parallelism only where it is
missing and never runs a job while a plan is built, ``run_concurrently``
keeps thunk order and drops no error, and ``get_spark``'s literal
defaults stay what the plan snapshots were taken under."""

from __future__ import annotations

import time
import uuid

import pytest
from pyspark.sql import functions as F

from etl_spark_spark.execution import fan_out, run_concurrently
from etl_spark_spark.plans import explain_str


def _single_partition(spark):
    # a distinct plan per call, so no earlier decision is cached for it
    return spark.range(0, 1000, 1, 1).withColumn("tag", F.lit(uuid.uuid4().hex))


def test_fan_out_spreads_a_single_partition_input(spark):
    out = fan_out(_single_partition(spark))
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert out.count() == 1000


def test_fan_out_leaves_a_parallel_input_unchanged(spark):
    df = spark.range(0, 1000, 1, 2 * spark.sparkContext.defaultParallelism)
    assert fan_out(df) is df
    assert "Exchange" not in explain_str(df)


def test_nested_fan_out_runs_no_job(spark):
    """The second ``fan_out`` sees a plan holding the first one's
    round-robin exchange; probing it through ``df.rdd`` would run that
    exchange's map stage. Building the frame must run no job, and the
    plan keeps the one exchange."""
    sc = spark.sparkContext
    group = f"nested-fan-out-{uuid.uuid4().hex}"
    df = _single_partition(spark)
    sc.setJobGroup(group, "nested fan_out")
    try:
        twice = fan_out(fan_out(df))
    finally:
        sc._jsc.clearJobGroup()
    time.sleep(1.0)  # job-start events reach the status store asynchronously
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert explain_str(twice, "simple").count("Exchange RoundRobinPartitioning") == 1


def test_session_defaults(spark):
    """The former env-knob defaults are literals now; the test session
    (``shuffle_partitions=8``) must carry exactly these values."""
    conf = spark.sparkContext.getConf()
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    assert spark.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum") == "512"
    assert spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize") == "64k"
    assert conf.get("spark.cleaner.periodicGC.interval") == "30min"
    assert conf.get("spark.driver.memory") == "8g"


def test_run_concurrently_orders_results_and_propagates_errors(spark):
    """The round-13 fold overlap (etl_spark_spark.execution) must
    return results in thunk order — the join-MV folds unpack
    ``bl, br = _concurrently(...)`` positionally — and must join every
    thread before re-raising the first failure, so a crashed fold
    leaves no state write silently running behind the caller."""
    # order is positional, not completion-order (the slow thunk first)
    def slow():
        time.sleep(0.2)
        return "first"

    assert run_concurrently(slow, lambda: "second") == ["first", "second"]

    finished = {"b": False}

    def boom():
        raise ValueError("injected")

    def other():
        time.sleep(0.2)
        finished["b"] = True
        return "ok"

    with pytest.raises(ValueError, match="injected"):
        run_concurrently(boom, other)
    assert finished["b"], "all threads must be joined before re-raising"

    # and it actually overlaps Spark jobs: two concurrent counts finish
    # in well under the serial sum on an idle local scheduler
    df = spark.range(1000)
    a, b = run_concurrently(df.count, lambda: df.count() + 1)
    assert (a, b) == (1000, 1001)


def test_run_concurrently_raises_lowest_index_error():
    """With several failing thunks, run_concurrently raises the error of
    the lowest-index one whatever the completion order (thunk 1 fails
    first here), and the other failure rides along in its notes instead
    of being dropped."""
    def late_boom():
        time.sleep(0.3)
        raise ValueError("thunk zero")

    def early_boom():
        raise KeyError("thunk one")

    with pytest.raises(ValueError, match="thunk zero") as info:
        run_concurrently(late_boom, early_boom, lambda: "fine")
    notes = getattr(info.value, "__notes__", [])
    assert any("thunk 1" in n and "thunk one" in n for n in notes), notes

from __future__ import annotations

import os

import pytest

from etl_spark_spark.session import get_spark

TEST_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


# Env knobs that change SESSION CONFIG or PLAN SHAPE (AQE coalescing,
# shuffle partitions, parallelism). The plan-snapshot gate pins exact
# operator counts, so tests must run under the DEFAULT knob settings
# whatever the invoking shell exports — otherwise a snapshot generated
# on one host fails on any host with a knob set (ADVICE r12). cpus=8 below already
# pins spark.default.parallelism against host core counts.
_PLAN_SHAPING_ENV = (
    "SPARK_GRAFT_MIN_COALESCED_PARTITION",
    "SPARK_GRAFT_INITIAL_PARTITIONS",
    "SPARK_GRAFT_SHUFFLE",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_PERIODIC_GC",
    "SPARK_GRAFT_CPUS",
)


@pytest.fixture(scope="session")
def spark():
    for k in _PLAN_SHAPING_ENV:
        os.environ.pop(k, None)
    spark = get_spark(app_name="etl-spark-spark-tests", cpus=8, shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return TEST_SF_DIR


@pytest.fixture(scope="session")
def all_query_plans(spark, sf_dir) -> dict[str, str]:
    """One formatted physical plan per registered query, computed once
    per session — the engine-wide plan gates all read from this instead
    of re-explaining 80+ queries each."""
    import __spark_entry__ as entrymod
    from etl_spark_spark.plans import explain_str

    return {
        name: explain_str(fn(spark, sf_dir))
        for name, fn in entrymod.queries().items()
    }

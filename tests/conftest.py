from __future__ import annotations

import os

import pytest

from etl_spark_spark.session import get_spark

TEST_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    return get_spark(app_name="etl-spark-spark-tests", cpus=8, shuffle_partitions=8)


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

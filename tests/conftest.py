from __future__ import annotations

import os
import uuid
from contextlib import contextmanager

import pytest

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # Small driver heap for tests; the engine default (48g) is for bench.
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "8g")
    from exceldatatransform_py_spark import get_spark

    s = get_spark(app_name="exceldatatransform-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_CORRECTNESS


@contextmanager
def spark_jobs(spark):
    """Count the Spark jobs launched inside the block: yields a
    callable returning how many jobs the block's job group has run so
    far (a test calls it after the block to get the total)."""
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        yield lambda: len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)

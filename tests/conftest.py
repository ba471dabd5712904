from __future__ import annotations

import os

import pytest

from halyard_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    s = get_spark(cpus=cpus, app_name="halyard_spark_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf001_dir() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf01_dir() -> str:
    return "/root/testdata/sf0.01"

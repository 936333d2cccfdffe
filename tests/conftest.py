from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from breweries_data_pipeline_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", shuffle_partitions=8)
    yield spark
    # drop the caches and scratch catalog tables the queries left
    from breweries_data_pipeline_spark.cache import release_caches

    release_caches()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR

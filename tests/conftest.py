from __future__ import annotations

import pytest

from taxi_trips_etl_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="taxi_trips_etl_spark-tests",
        extra_conf={"spark.sql.shuffle.partitions": "8"},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR

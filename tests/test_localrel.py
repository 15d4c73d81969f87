"""``local_rows``: driver-built frames are JVM ``LocalRelation`` s.

A pickled PythonRDD (``createDataFrame(list, …)``) shows up as an
``ExistingRDD`` scan and runs Python tasks on every action; a
``LocalRelation`` holds the rows in the plan itself.
"""

from __future__ import annotations

import pytest
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from taxi_trips_etl_spark.sources.localrel import local_rows

DDL = "id long, name string, score double"
STRUCT = StructType([
    StructField("id", LongType()),
    StructField("name", StringType()),
    StructField("score", DoubleType()),
])
ROWS = [(1, "a", 0.5), (2**40, None, -1.25), (None, "é", None)]


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.mark.parametrize("schema", [DDL, STRUCT], ids=["ddl", "struct"])
def test_local_rows_is_a_local_relation(spark, schema):
    df = local_rows(spark, ROWS, schema)
    plan = _optimized(df)
    assert "LocalRelation" in plan and "ExistingRDD" not in plan
    assert df.schema == STRUCT
    assert [tuple(r) for r in df.collect()] == ROWS


def test_local_rows_empty_list(spark):
    df = local_rows(spark, [], DDL)
    plan = _optimized(df)
    assert "LocalRelation" in plan and "ExistingRDD" not in plan
    assert df.schema == spark.createDataFrame([], DDL).schema
    assert df.collect() == []


def test_local_rows_rejects_rows_of_the_wrong_width(spark):
    for rows in ([(1, "a", 0.5), (2, "b")], [(1, "a")], [(1, "a", 0.5, 9)]):
        with pytest.raises(ValueError):
            local_rows(spark, rows, DDL)


def test_stream_upsert_empty_state_schema(spark):
    """The empty-source result of ``run_streaming_cdc_upsert`` keeps the
    schema (timestamp included) that ``createDataFrame([], …)`` gave."""
    from taxi_trips_etl_spark.streaming.stream_upsert import _STATE_SCHEMA

    got = local_rows(spark, [], _STATE_SCHEMA).schema
    assert got == spark.createDataFrame([], _STATE_SCHEMA).schema
    assert "timestamp" in got.simpleString()

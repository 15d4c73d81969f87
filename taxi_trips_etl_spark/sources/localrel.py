"""Small driver-built DataFrames as JVM ``LocalRelation`` s.

Driver-built results (graph iterations, BPE merge tables,
connected-components mappings, packing offsets, shortlists, the zone
dim) are by construction small: they are broadcast or crossJoined
downstream, never scanned in parallel.
``spark.createDataFrame(list, schema)`` turns such a list into a
pickled PythonRDD over ``defaultParallelism`` slices, so every
downstream action pays Python-worker round trips just to read rows
the driver already holds, and Catalyst sees an ``ExistingRDD`` of
unknown size.

``local_rows`` moves the rows column-wise into a ``pyarrow.Table``
and hands it to ``createDataFrame``, which on classic Spark 4 builds a
``LocalRelation``: the rows live in the plan, no action on the frame
starts a Python worker, and Catalyst knows the exact size (an empty
list becomes an empty ``LocalTableScan``).
"""

from __future__ import annotations

from collections.abc import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType


def local_rows(
    spark: SparkSession, rows: Iterable, schema: str | StructType
) -> DataFrame:
    """``createDataFrame(rows, schema)`` as a ``LocalRelation``.

    ``rows`` are tuples (or ``Row`` s) in ``schema`` field order;
    ``schema`` is a DDL string or a ``StructType``."""
    struct = schema if isinstance(schema, StructType) else DataType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows, strict=True)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow, strict=True)],
        schema=arrow,
    )
    return spark.createDataFrame(table, struct)

"""Property tests for the Z-order key: the DuckDB-dialect SQL (same
generator as the Spark dialect, shift spelling aside) must match a
pure-python Morton reference — bijective bit interleaving."""

from __future__ import annotations

import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st

from taxi_trips_etl_spark.functions.scalar import zorder_key_sql

BITS = 12
coord = st.integers(min_value=0, max_value=(1 << BITS) - 1)


def _ref(x: int, y: int) -> int:
    z = 0
    for i in range(BITS):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


@settings(max_examples=50, deadline=None)
@given(st.lists(st.tuples(coord, coord), min_size=1, max_size=50, unique=True))
def test_zorder_sql_matches_reference_and_is_injective(pairs):
    sql = zorder_key_sql("x", "y", BITS, dialect="duckdb")
    values = ", ".join(f"({x}, {y})" for x, y in pairs)
    rows = duckdb.sql(
        f"SELECT x, y, {sql} AS z FROM (VALUES {values}) AS t(x, y)"
    ).fetchall()
    zs = set()
    for x, y, z in rows:
        assert z == _ref(x, y)
        zs.add(z)
    assert len(zs) == len(pairs)  # injective on distinct pairs


def test_hilbert_index_rejects_reserved_column_collisions(spark):
    """hilbert_index's working columns (_hx/_hy/_hd) and its output
    column must not silently clobber same-named input columns —
    collisions raise (round-8 fix per round-7 advice)."""
    import pytest

    from taxi_trips_etl_spark.dataprep.layout import hilbert_index

    df = spark.createDataFrame([(1, 2, 9)], "x0 int, y0 int, hd int")
    with pytest.raises(ValueError, match="collide"):
        hilbert_index(df, bits=2)
    out = hilbert_index(df.drop("hd"), bits=2)
    assert set(out.columns) == {"x0", "y0", "hd"}
    df2 = spark.createDataFrame([(1, 2, 9)], "x0 int, y0 int, _hx int")
    with pytest.raises(ValueError, match="collide"):
        hilbert_index(df2, bits=2)

"""Sources layer (SURVEY.md §2.1): globbed day-batch reads, CSV loads,
catalog registration, existence gates."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from taxi_trips_etl_spark.sources.catalog import (
    drop_table,
    load_testdata,
    register_sources,
    table_exists,
)
from taxi_trips_etl_spark.sources.readers import (
    day_glob,
    list_day_files,
    read_csv,
    read_day_batch,
)


def _write_day_files(spark, base, ds, n_files=2, with_decoy=True):
    y, m, d = ds.split("-")
    day_dir = os.path.join(base, y, m, d)
    os.makedirs(day_dir, exist_ok=True)
    for i in range(n_files):
        spark.range(i * 10, i * 10 + 10).toDF("n").coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(day_dir, f"000_{i}"))
    if with_decoy:
        # Files not matching the 000 prefix must be ignored (the
        # reference's blob-name filter, taxi_trips_etl.py:35).
        spark.range(1000, 1010).toDF("n").coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(day_dir, "999_decoy"))


def test_day_glob_layout(tmp_path):
    assert day_glob(str(tmp_path), "2026-02-03") == str(tmp_path) + "/2026/02/03/000*"


def test_read_day_batch_globs_prefix_only(spark, tmp_path):
    base = str(tmp_path)
    _write_day_files(spark, base, "2026-01-15")
    files = list_day_files(base, "2026-01-15")
    assert len(files) == 2  # decoy excluded
    df = read_day_batch(spark, base, "2026-01-15")
    got = sorted(r.n for r in df.collect())
    assert got == list(range(20))  # both 000-prefixed files, no decoy rows


def test_read_day_batch_other_day_empty(tmp_path):
    assert list_day_files(str(tmp_path), "2026-01-16") == []


def test_csv_reader_header_and_schema(spark, tmp_path):
    p = str(tmp_path / "data.csv")
    with open(p, "w") as f:
        f.write("id,name,score\n1,alpha,1.5\n2,beta,2.5\n")
    inferred = read_csv(spark, p)
    assert inferred.columns == ["id", "name", "score"]
    assert inferred.count() == 2
    row = inferred.orderBy("id").collect()[0]
    assert row.id == 1 and row.score == 1.5  # autodetected types


def test_register_sources_and_catalog_gates(spark, sf_dir):
    dfs = load_testdata(spark, sf_dir)
    assert set(dfs) >= {"lineitem", "orders", "documents", "embeddings"}
    assert table_exists(spark, "lineitem")
    n = spark.sql("SELECT count(*) AS n FROM lineitem").collect()[0].n
    assert n == 6000
    drop_table(spark, "lineitem")
    assert not table_exists(spark, "lineitem")
    # Re-register for other tests that may follow.
    register_sources(spark, {"lineitem": f"{sf_dir}/lineitem.parquet"})


def test_csv_corrupt_rows_are_isolated(spark, tmp_path):
    # PERMISSIVE mode with a corrupt-record column: bad rows must not
    # poison the load — they land in _corrupt_record for quarantine.
    p = str(tmp_path / "bad.csv")
    with open(p, "w") as f:
        f.write("id,score\n1,1.5\nnot_an_int,oops,extra\n3,3.5\n")
    schema = StructType(
        [
            StructField("id", IntegerType()),
            StructField("score", StringType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    df = spark.read.option("header", True).option(
        "columnNameOfCorruptRecord", "_corrupt_record"
    ).schema(schema).csv(p).cache()
    good = df.filter(F.col("_corrupt_record").isNull())
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    assert sorted(r.id for r in good.collect()) == [1, 3]
    assert bad.count() == 1
    df.unpersist()


def test_schema_evolution_merge(spark, tmp_path):
    # Day 2 adds a column: mergeSchema read must surface the union
    # schema with NULLs for day-1 rows (100 TB tables evolve; readers
    # must not break on old partitions).
    p = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(
        f"{p}/day=1"
    )
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, score double"
    ).write.parquet(f"{p}/day=2")
    df = spark.read.option("mergeSchema", True).parquet(p)
    assert set(df.columns) >= {"id", "name", "score"}
    rows = {r.id: r for r in df.collect()}
    assert rows[1].score is None and rows[2].score == 9.5


def test_events_nanos_reader(spark, sf_dir):
    from taxi_trips_etl_spark.queries import _events

    ev = _events(spark, sf_dir)
    assert dict(ev.dtypes)["ts"] == "timestamp"
    assert ev.filter(F.col("ts").isNull()).count() == 0


def test_jsonl_roundtrip_and_corrupt_quarantine(spark, tmp_path):
    from taxi_trips_etl_spark.sources.readers import read_jsonl, write_jsonl

    path = str(tmp_path / "docs_jsonl")
    docs = spark.createDataFrame(
        [(1, "hello world"), (2, 'quotes "inside" text')],
        "doc_id long, text string",
    )
    write_jsonl(docs, path)
    back = read_jsonl(spark, path, schema="doc_id long, text string")
    assert {tuple(r) for r in back.collect()} == {
        (1, "hello world"),
        (2, 'quotes "inside" text'),
    }

    # Corrupt line lands in _corrupt, not an ingest failure.
    bad = tmp_path / "bad.jsonl"
    bad.write_text('{"doc_id": 3, "text": "ok"}\nnot json at all\n')
    got = read_jsonl(
        spark, str(bad), schema="doc_id long, text string, _corrupt string"
    ).collect()
    assert len(got) == 2
    assert {r["doc_id"] for r in got} == {3, None}
    assert any(r["_corrupt"] == "not json at all" for r in got)


def test_normalize_event_ts_nanos_and_ntz_agree(spark, tmp_path):
    """ADVICE r2: both physical timestamp encodings normalize identically.

    The same three wall-clock instants are written once as parquet
    TIMESTAMP(NANOS) (arrives as bigint under nanosAsLong) and once as
    TIMESTAMP(MICROS, isAdjustedToUTC=false) (arrives as timestamp_ntz);
    normalize_event_ts must yield bit-identical TIMESTAMP values.
    """
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from taxi_trips_etl_spark.sources.readers import normalize_event_ts

    instants = [
        dt.datetime(2024, 3, 1, 0, 0, 0),
        dt.datetime(2024, 3, 1, 12, 34, 56, 789000),
        dt.datetime(2024, 3, 2, 23, 59, 59, 999999),
    ]
    ids = list(range(len(instants)))

    ntz_path = str(tmp_path / "ntz.parquet")
    pq.write_table(
        pa.table({"event_id": ids, "ts": pa.array(instants, pa.timestamp("us"))}),
        ntz_path,
    )
    nanos_path = str(tmp_path / "nanos.parquet")
    pq.write_table(
        pa.table({"event_id": ids, "ts": pa.array(instants, pa.timestamp("ns"))}),
        nanos_path,
        store_schema=False,  # force readers to honor the NANOS physical type
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ntz = normalize_event_ts(spark.read.parquet(ntz_path))
    nanos = normalize_event_ts(spark.read.parquet(nanos_path))
    assert dict(ntz.dtypes)["ts"] == "timestamp"
    assert dict(nanos.dtypes)["ts"] == "timestamp"
    a = {(r["event_id"], r["ts"]) for r in ntz.collect()}
    b = {(r["event_id"], r["ts"]) for r in nanos.collect()}
    assert a == b == {(i, t) for i, t in zip(ids, instants)}


def test_normalize_event_ts_refuses_unannotated_bigint(spark, tmp_path):
    """A bigint ts with nanosAsLong unset must raise, not silently scale."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    from taxi_trips_etl_spark.sources.readers import normalize_event_ts

    path = str(tmp_path / "plain_int.parquet")
    pq.write_table(
        pa.table({"event_id": [1], "ts": pa.array([123456789], pa.int64())}),
        path,
    )
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    try:
        df = spark.read.parquet(path)
        with _pytest.raises(ValueError, match="nanosAsLong"):
            normalize_event_ts(df)
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

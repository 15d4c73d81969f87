"""The shared drive scaffold in ``streaming/state.py``: the bounded
AvailableNow drain, the single-file stager and the event-file source —
plus a guard that keeps every drive on them."""

from __future__ import annotations

import ast
import os
import shutil
import time
from pathlib import Path

import pytest
from pyspark.errors import StreamingQueryException

from taxi_trips_etl_spark.streaming import state
from taxi_trips_etl_spark.streaming.state import drain, event_stream, stage_file

WIDTH = "spark.sql.shuffle.partitions"


def _id_stream(spark, tmp_path):
    src = tmp_path / "src"
    spark.range(10).coalesce(1).write.parquet(str(src))
    return spark.readStream.schema("id long").parquet(str(src))


def test_drain_pins_width_for_the_query_and_restores_it(spark, tmp_path):
    seen = []

    def record(batch, _bid):
        seen.append((batch.sparkSession.conf.get(WIDTH), batch.count()))

    before = spark.conf.get(WIDTH)
    drain(
        spark,
        _id_stream(spark, tmp_path).writeStream.foreachBatch(record),
        partitions=3,
    )
    assert seen == [("3", 10)]
    assert spark.conf.get(WIDTH) == before


def test_drain_restores_width_after_a_failing_batch(spark, tmp_path):
    def fail(_batch, _bid):
        raise ValueError("boom")

    before = spark.conf.get(WIDTH)
    with pytest.raises(StreamingQueryException, match="boom"):
        drain(
            spark,
            _id_stream(spark, tmp_path).writeStream.foreachBatch(fail),
            partitions=3,
        )
    assert spark.conf.get(WIDTH) == before


def test_drain_stops_and_raises_on_timeout(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(state, "DRAIN_TIMEOUT_S", 0.5)
    before = spark.conf.get(WIDTH)
    with pytest.raises(TimeoutError, match="drain_timeout_probe"):
        drain(
            spark,
            _id_stream(spark, tmp_path)
            .writeStream.foreachBatch(lambda _b, _i: time.sleep(3))
            .queryName("drain_timeout_probe"),
            partitions=3,
        )
    assert spark.conf.get(WIDTH) == before
    assert "drain_timeout_probe" not in {q.name for q in spark.streams.active}


def test_stage_file_leaves_one_named_file(spark, tmp_path):
    df = spark.range(20).repartition(3)
    src = tmp_path / "src"
    path = stage_file(df, str(src), "batch_a")
    assert path == f"{src}/batch_a.parquet"
    assert os.listdir(src) == ["batch_a.parquet"]
    assert os.listdir(tmp_path) == ["src"]  # the temp dir is gone
    got = sorted(r.id for r in spark.read.parquet(path).collect())
    assert got == list(range(20))


def test_event_stream_file_and_dir_agree(spark, sf_dir, tmp_path):
    events = f"{sf_dir}/events.parquet"
    src = tmp_path / "events"
    src.mkdir()
    shutil.copy(events, src)

    def rows(path, name):
        drain(
            spark,
            event_stream(spark, path)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append"),
        )
        return sorted(map(tuple, spark.table(name).collect()))

    from_file = rows(events, "event_stream_file")
    assert from_file
    assert rows(str(src), "event_stream_dir") == from_file


SCAFFOLD = "taxi_trips_etl_spark/streaming/state.py"


def _scaffold_uses(tree: ast.AST) -> list[tuple[int, str]]:
    hits = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr in (
            "awaitTermination",
            "mkdtemp",
        ):
            hits.append((node.lineno, node.attr))
        elif isinstance(node, ast.ImportFrom) and node.module == "tempfile":
            if any(a.name == "mkdtemp" for a in node.names):
                hits.append((node.lineno, "mkdtemp"))
        elif isinstance(node, ast.keyword) and node.arg == "availableNow":
            hits.append((node.value.lineno, "availableNow"))
        elif isinstance(node, ast.Constant) and node.value == "pathGlobFilter":
            hits.append((node.lineno, "pathGlobFilter"))
    return hits


def test_drive_scaffold_lives_only_in_state_py():
    """Every AvailableNow drain, single-file stream source and temp
    dir goes through ``streaming/state.py`` (or
    ``tempfile.TemporaryDirectory``), so no drive grows its own copy
    back: the package uses ``awaitTermination``, the ``availableNow``
    trigger and the ``pathGlobFilter`` option only there, and
    ``tempfile.mkdtemp`` nowhere."""
    repo = Path(__file__).resolve().parents[1]
    stray = []
    for path in sorted((repo / "taxi_trips_etl_spark").rglob("*.py")):
        rel = path.relative_to(repo).as_posix()
        for line, what in _scaffold_uses(ast.parse(path.read_text())):
            if rel != SCAFFOLD or what == "mkdtemp":
                stray.append(f"{rel}:{line}: {what}")
    assert not stray, stray

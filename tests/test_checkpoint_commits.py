"""Streaming checkpoints commit through Hadoop's ``FileSystem`` API.

``get_spark`` sets ``spark.sql.streaming.checkpointFileManagerClass`` so
checkpoint renames skip ``FileContext``'s forked ``readlink``. These
tests pin the setting, check that every checkpoint file still carries
its checksum files, and resume a checkpoint written under Spark's
default manager.
"""

from __future__ import annotations

import os
import re

import pyarrow.compute as pc
import pyarrow.parquet as pq

from taxi_trips_etl_spark.streaming.rollup import streaming_daypart_rollup
from taxi_trips_etl_spark.streaming.state import drain

MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
PACKAGE = "org.apache.spark.sql.execution.streaming.checkpointing."


def test_session_commits_checkpoints_through_filesystem_api(spark):
    assert spark.conf.get(MANAGER) == PACKAGE + "FileSystemBasedCheckpointFileManager"


def _manager(session, path):
    """The class name of the checkpoint manager ``session`` builds for
    ``path``."""
    jvm = session._jvm
    fm = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
    conf = session._jsparkSession.sessionState().newHadoopConf()
    return fm.create(jvm.org.apache.hadoop.fs.Path(path), conf).getClass().getSimpleName()


def _split_events(sf_dir, staging):
    """The events parquet cut at its median ``ts`` into two
    event-time-ordered files; returns their paths."""
    events = pq.read_table(f"{sf_dir}/events.parquet")
    events = events.take(pc.sort_indices(events, [("ts", "ascending")]))
    half = events.num_rows // 2
    os.makedirs(staging)
    paths = []
    for i, part in enumerate((events.slice(0, half), events.slice(half))):
        paths.append(os.path.join(staging, f"events_{i}.parquet"))
        pq.write_table(part, paths[-1])
    return paths


def _land(path, src):
    os.makedirs(src, exist_ok=True)
    os.replace(path, os.path.join(src, os.path.basename(path)))


def _rollup(session, src, ckpt, sink):
    """Drain the daypart rollup over ``src`` into memory table ``sink``
    (2 state partitions); return its rows, sorted."""
    drain(
        session,
        streaming_daypart_rollup(session, src)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .option("checkpointLocation", ckpt),
        partitions=2,
    )
    return sorted(
        (str(r.day_window.start), r.daypart, r.event_type, r.event_count, r.total_value)
        for r in session.table(sink).collect()
    )


def test_checkpoint_files_keep_their_checksums(spark, sf_dir, tmp_path):
    """Every state delta keeps Spark's checkpoint checksum and Hadoop's
    ``.crc`` (of the delta and of the checksum file); every offsets and
    commits entry keeps its Hadoop ``.crc``."""
    first, second = _split_events(sf_dir, str(tmp_path / "staging"))
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    for path in (first, second):
        _land(path, src)
        _rollup(spark, src, ckpt, "t_ckpt_integrity")

    deltas = 0
    for store in (tmp_path / "ckpt" / "state").glob("*/[0-9]*"):
        names = set(os.listdir(store))
        for name in names:
            if re.fullmatch(r"\d+\.delta", name):
                deltas += 1
                assert {f"{name}.crc", f".{name}.crc", f".{name}.crc.crc"} <= names
    assert deltas >= 4  # 2 stores × at least 2 batches
    for log in ("offsets", "commits"):
        names = set(os.listdir(tmp_path / "ckpt" / log))
        batches = [n for n in names if n.isdigit()]
        assert len(batches) >= 2
        for name in batches:
            assert f".{name}.crc" in names


def test_resume_from_file_context_checkpoint(spark, sf_dir, tmp_path):
    """A checkpoint written under Spark's default ``FileContext``
    manager resumes on the engine session with the same answer as one
    uninterrupted run."""
    first, second = _split_events(sf_dir, str(tmp_path / "staging"))
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    default = spark.newSession()
    default.conf.set(MANAGER, PACKAGE + "FileContextBasedCheckpointFileManager")
    assert _manager(default, ckpt) == "FileContextBasedCheckpointFileManager"
    assert _manager(spark, ckpt) == "FileSystemBasedCheckpointFileManager"
    _land(first, src)
    _rollup(default, src, ckpt, "t_ckpt_default")
    _land(second, src)
    resumed = _rollup(spark, src, ckpt, "t_ckpt_resumed")

    once = _rollup(spark, src, str(tmp_path / "ckpt_once"), "t_ckpt_once")
    assert once
    assert resumed == once

"""``get_spark`` sessions resolve ``file:`` to ``NioLocalFileSystem``,
which sets permission bits in-process instead of forking ``chmod``.

These tests pin the setting, check that a partition write and a
streaming checkpoint keep Hadoop's file names, ``.crc`` side files and
modes, that modes beyond ``0777`` still go through Hadoop's own path,
and that the class is built once and left out where it cannot be used.
"""

from __future__ import annotations

import hashlib
import os
import stat
import tempfile

from test_checkpoint_commits import _land, _rollup, _split_events

from taxi_trips_etl_spark import local_fs
from taxi_trips_etl_spark.sources.writers import write_partitioned_by_run_date


def _file_system(session):
    jvm = session._jvm
    conf = session._jsparkSession.sessionState().newHadoopConf()
    return jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)


def _tree(root):
    """``{relative path: permission bits}`` of everything under ``root``."""
    out = {}
    for parent, dirs, files in os.walk(root):
        for name in dirs + files:
            path = os.path.join(parent, name)
            out[os.path.relpath(path, root)] = stat.S_IMODE(os.stat(path).st_mode)
    return out


def _assert_hadoop_files(root):
    """Files 0644 and directories 0755 (Hadoop's default umask 022), and
    every file carries Hadoop's ``.crc`` side file."""
    tree = _tree(root)
    for rel, mode in tree.items():
        path = os.path.join(root, rel)
        assert mode == (0o755 if os.path.isdir(path) else 0o644), (rel, oct(mode))
        head, name = os.path.split(rel)
        if os.path.isfile(path) and not name.startswith("."):
            assert os.path.join(head, f".{name}.crc") in tree, rel
    return tree


def test_session_resolves_file_scheme_to_nio_local_fs(spark):
    fs = _file_system(spark)
    assert fs.getClass().getName() == local_fs.CLASS
    assert fs.getRawFileSystem().getClass().getName() == local_fs.CLASS + "$Raw"


def test_partition_write_keeps_names_crcs_and_modes(spark, tmp_path):
    out = str(tmp_path / "out")
    df = spark.range(40).selectExpr("id", "id % 3 AS zone")
    for ds in ("2026-03-01", "2026-03-02", "2026-03-01"):
        write_partitioned_by_run_date(df, out, ds)
    tree = _assert_hadoop_files(out)
    assert {p for p in tree if os.sep not in p} == {"run_date=2026-03-01", "run_date=2026-03-02"}
    for rel in tree:
        name = os.path.basename(rel)
        if os.sep in rel and not name.startswith("."):
            assert name.startswith("part-") and name.endswith(".parquet"), rel


def test_rollup_checkpoint_keeps_names_crcs_and_modes(spark, sf_dir, tmp_path):
    first, second = _split_events(sf_dir, str(tmp_path / "staging"))
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    for path in (first, second):
        _land(path, src)
        _rollup(spark, src, ckpt, "t_local_fs")
    tree = _assert_hadoop_files(ckpt)
    for log in ("offsets", "commits", "sources/0"):
        assert {"0", "1"} <= {os.path.basename(p) for p in tree if os.path.dirname(p) == log}
    deltas = [p for p in tree if p.startswith("state") and p.endswith(".delta")]
    assert len(deltas) >= 4  # 2 stores × at least 2 batches
    for delta in deltas:
        head, name = os.path.split(delta)
        assert {f"{delta}.crc", os.path.join(head, f".{name}.crc.crc")} <= set(tree)


def test_sticky_bit_takes_hadoop_path(spark, tmp_path):
    """``FsPermission`` carries at most the sticky bit beyond ``0777``."""
    raw = _file_system(spark).getRawFileSystem()
    jvm = spark._jvm
    for mode in (0o640, 0o1755, 0o1777):
        target = tmp_path / f"f{mode:o}"
        target.write_text("x")
        raw.setPermission(
            jvm.org.apache.hadoop.fs.Path(str(target)),
            jvm.org.apache.hadoop.fs.permission.FsPermission(mode),
        )
        assert stat.S_IMODE(os.stat(target).st_mode) == mode


def test_no_conf_without_javac_or_off_local(monkeypatch):
    assert local_fs.session_conf("spark://host:7077", None) == {}
    assert local_fs.session_conf("local-cluster[2,1,1024]", "/x.jar") == {
        local_fs.CLASS_PATH: "/x.jar"
    }
    monkeypatch.setattr(local_fs.shutil, "which", lambda name: None)
    assert local_fs.session_conf("local[2]", None) == {}


def test_class_dir_cached_by_source_hash(monkeypatch, tmp_path):
    monkeypatch.setattr(local_fs, "CACHE", tmp_path / "cache")
    built = local_fs.class_dir()
    assert os.path.dirname(built) == str(tmp_path / "cache")
    assert os.listdir(tmp_path / "cache") == [os.path.basename(built)]
    assert os.path.isfile(os.path.join(built, "taxi_trips_etl_spark", "NioLocalFileSystem.class"))
    assert stat.S_IMODE(os.stat(built).st_mode) & 0o077 == 0

    def no_compile(*args, **kwargs):
        raise AssertionError("recompiled a cached class")

    monkeypatch.setattr(local_fs.subprocess, "run", no_compile)
    assert local_fs.class_dir() == built
    conf = local_fs.session_conf("local[2]", "/x.jar")
    assert conf == {
        "spark.hadoop.fs.file.impl": local_fs.CLASS,
        local_fs.CLASS_PATH: built + os.pathsep + "/x.jar",
    }


def test_unwritable_cache_falls_back_to_a_per_user_temp_dir(monkeypatch, tmp_path):
    blocker = tmp_path / "blocker"
    blocker.write_text("")
    monkeypatch.setattr(local_fs, "CACHE", blocker / "cache")
    (tmp_path / "tmp").mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    built = local_fs.class_dir()
    root = tmp_path / "tmp" / f"taxi_trips_etl_spark-classes-{os.getuid()}"
    assert os.path.dirname(built) == str(root)
    assert stat.S_IMODE(os.stat(root).st_mode) == 0o700


def test_cache_dirs_others_own_or_can_enter_are_not_used(monkeypatch, tmp_path):
    """A directory planted at the cache path by another user never
    reaches the driver's class path."""
    digest = hashlib.sha256(local_fs.SOURCE.read_bytes()).hexdigest()[:16]
    (tmp_path / "tmp").mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    own = tmp_path / "tmp" / f"taxi_trips_etl_spark-classes-{os.getuid()}" / digest

    shared = tmp_path / "shared"
    (shared / digest).mkdir(parents=True, mode=0o700)
    (shared / digest / "planted").write_text("")
    shared.chmod(0o777)
    monkeypatch.setattr(local_fs, "CACHE", shared)
    assert local_fs.class_dir() == str(own)

    open_target = tmp_path / "cache" / digest
    open_target.mkdir(parents=True)
    (open_target / "planted").write_text("")
    open_target.parent.chmod(0o700)
    open_target.chmod(0o757)
    monkeypatch.setattr(local_fs, "CACHE", open_target.parent)
    assert local_fs.class_dir() == str(own)

    linked = tmp_path / "linked"
    linked.symlink_to(own.parent)
    monkeypatch.setattr(local_fs, "CACHE", linked)
    assert local_fs.class_dir() == str(own)

    monkeypatch.setattr(local_fs.os, "getuid", lambda: os.stat(own).st_uid + 1)
    assert local_fs.class_dir() is None

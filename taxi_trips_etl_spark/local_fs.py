"""The ``file:`` Hadoop file system of ``get_spark`` sessions: permission
bits set in-process, not by a forked ``chmod``.

Without a native libhadoop, Hadoop's ``RawLocalFileSystem.setPermission``
runs ``chmod`` as a child process, and it runs on every create (the
``LocalFSFileOutputStream`` constructor) and every ``mkdirs``
(``mkOneDirWithMode``): each streaming checkpoint file and its ``.crc``,
each partition file and committer directory of a batch write, the event
log. ``NioLocalFileSystem.java``, next to this module, keeps
``LocalFileSystem``'s checksum layer and overrides only the raw layer's
``setPermission``: modes within ``0777`` are set with
``Files.setPosixFilePermissions``, and a mode with the sticky bit goes
through Hadoop's own path. Files, ``.crc`` side files and modes are the
same as before.

``session.get_spark`` sets ``spark.hadoop.fs.file.impl`` to the class
and puts its directory first on ``spark.driver.extraClassPath``. Without
the setting, ``file:`` resolves by ``ServiceLoader`` order, to Hive's
``ProxyLocalFileSystem`` in Spark's own jars.

The class is compiled with ``javac`` against Spark's
``hadoop-client-api`` jar, before the JVM starts, into a directory named
by the source's hash under ``_jvm_classes/`` in the package, or, where
the package directory is read-only, under a per-user directory in the
system temp dir. A cache directory and a build are used only when they
are real directories owned by this user and closed to everyone else, so
no other user can plant a class on the driver's class path. A build
goes to a fresh directory that is then renamed into place, so no process
sees a half-built one; later sessions reuse it. Both settings are left
unset, as in a plain session, when there is no ``javac``, when the
compile fails, and when the master is not ``local`` (a cluster's
executors would need the class too, and HDFS and object-store clients
do not fork ``chmod``).
"""

from __future__ import annotations

import glob
import hashlib
import os
import re
import shutil
import stat
import subprocess
import tempfile
from pathlib import Path

from pyspark.find_spark_home import _find_spark_home

SOURCE = Path(__file__).with_name("NioLocalFileSystem.java")
CLASS = "taxi_trips_etl_spark.NioLocalFileSystem"
CACHE = SOURCE.with_name("_jvm_classes")
CLASS_PATH = "spark.driver.extraClassPath"


def _private(path: Path) -> bool:
    """Whether ``path`` is a directory, not a link, that this user owns
    and no one else can enter."""
    try:
        st = os.lstat(path)
    except OSError:
        return False
    return stat.S_ISDIR(st.st_mode) and st.st_uid == os.getuid() and not st.st_mode & 0o077


def class_dir() -> str | None:
    """The directory of the compiled ``SOURCE``, built on first use;
    ``None`` where it cannot be built."""
    javac = shutil.which("javac")
    jars = glob.glob(os.path.join(_find_spark_home(), "jars", "hadoop-client-api-*.jar"))
    if javac is None or not jars:
        return None
    try:
        digest = hashlib.sha256(SOURCE.read_bytes()).hexdigest()[:16]
    except OSError:
        return None
    user_root = Path(tempfile.gettempdir()) / f"taxi_trips_etl_spark-classes-{os.getuid()}"
    for root in (CACHE, user_root):
        try:
            root.mkdir(mode=0o700, parents=True, exist_ok=True)
        except OSError:
            pass
        if not _private(root):
            continue
        target = root / digest
        if _private(target):
            return str(target)
        try:
            build = tempfile.TemporaryDirectory(prefix=".build-", dir=root)
        except OSError:
            continue
        with build:
            cmd = [javac, "--release", "17", "-nowarn", "-cp", jars[0], "-d", build.name, str(SOURCE)]
            compiled = subprocess.run(cmd, capture_output=True).returncode == 0
            if not compiled:
                return None
            try:
                os.replace(build.name, target)
            except OSError:
                pass  # another process put its build there first
        if _private(target):
            return str(target)
    return None


def session_conf(master: str, class_path: str | None) -> dict[str, str]:
    """``fs.file.impl`` and a driver class path that loads it, ahead of
    ``class_path`` (a caller's own ``spark.driver.extraClassPath``);
    only ``class_path`` where the class is not used."""
    classes = class_dir() if re.fullmatch(r"local(\[[^\]]*\])?", master) else None
    conf = {"spark.hadoop.fs.file.impl": CLASS} if classes else {}
    path = os.pathsep.join(p for p in (classes, class_path) if p)
    if path:
        conf[CLASS_PATH] = path
    return conf

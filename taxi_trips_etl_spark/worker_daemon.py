"""Python-worker daemon entry: ``pyspark.daemon`` with pyspark imported
from its installed package directory instead of Spark's archives.

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j source zip
and the spark-core jar at the front of every Python worker's path
(``PythonUtils.sparkPythonPath``), so workers import pyspark from the
zip even where the same pyspark is installed as a plain directory.
PySpark's ``worker_util.setup_spark_files`` then calls
``importlib.invalidate_caches()`` at the start of every task, and on
Python 3.11 that makes every cached ``zipimporter`` re-read its whole
archive directory: ~5 ms for each of the ~14 importers of
``pyspark.zip`` (1,328 entries) and ~25 ms for the jar (5,359 entries),
CPU that every task pays before its first row.

``session.get_spark`` sets ``spark.python.daemon.module`` to this
module. Before it runs ``pyspark.daemon`` as ``__main__`` it drops the
path entries Spark adds itself: files that hold a top-level ``pyspark``
or ``py4j`` package, and ``.jar`` files, with their
``sys.path_importer_cache`` entries (sub-package keys included). Every
other entry stays, so a ``--py-files`` or ``PYTHONPATH`` zip is still
importable. It drops them only when ``pyspark`` and ``py4j`` both
resolve from the remaining path and that ``pyspark/version.py`` holds
the archive's ``__version__`` (both read as text, neither imported);
otherwise, e.g. on an executor that has only ``SPARK_HOME``, the path
is left as Spark built it. Forked workers inherit the path, so every
task imports pyspark, pandas and the kernels from plain directories.

This module adds no import requirement: workers already import this
package, through their working directory or ``PYTHONPATH``, because
module-level kernels are pickled by reference. It imports nothing from
pyspark itself, so nothing is loaded from the archives before the path
is chosen.
"""

from __future__ import annotations

import os
import re
import runpy
import sys
import zipfile
from importlib.machinery import PathFinder

_VERSION = re.compile(r"^__version__\b[^=\n]*=\s*['\"]([^'\"]+)['\"]", re.M)


def _version(text: str) -> str | None:
    m = _VERSION.search(text)
    return m.group(1) if m else None


def _spark_archive(entry: str) -> tuple[bool, str | None]:
    """Whether a zip path entry holds a top-level ``pyspark`` or
    ``py4j`` package, and the ``__version__`` of its pyspark, if any."""
    try:
        with zipfile.ZipFile(entry) as zf:
            names = set(zf.namelist())
            version = (
                _version(zf.read("pyspark/version.py").decode())
                if "pyspark/version.py" in names
                else None
            )
    except (OSError, zipfile.BadZipFile):
        return False, None
    return bool(names & {"pyspark/__init__.py", "py4j/__init__.py"}), version


def select_path(path: list[str]) -> list[str]:
    """``path`` without Spark's pyspark/py4j archives and jars when a
    plain pyspark of the archive's version and a py4j resolve from what
    remains; otherwise ``path`` unchanged."""
    keep, archive_version = [], None
    for entry in path:
        if os.path.isfile(entry):
            if entry.endswith(".jar"):
                continue
            held, version = _spark_archive(entry)
            if held:
                archive_version = archive_version or version
                continue
        keep.append(entry)
    if archive_version is None:
        return path
    spark_spec = PathFinder.find_spec("pyspark", keep)
    if (
        spark_spec is None
        or not spark_spec.submodule_search_locations
        or PathFinder.find_spec("py4j", keep) is None
    ):
        return path
    version_py = os.path.join(spark_spec.submodule_search_locations[0], "version.py")
    try:
        with open(version_py) as f:
            plain_version = _version(f.read())
    except OSError:
        return path
    return keep if plain_version == archive_version else path


def main() -> None:
    kept = select_path(sys.path)
    dropped = [e for e in sys.path if e not in kept]
    sys.path[:] = kept
    for key in list(sys.path_importer_cache):
        if any(key == e or key.startswith(e + os.sep) for e in dropped):
            del sys.path_importer_cache[key]
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)


if __name__ == "__main__":
    main()

"""The Python-worker daemon imports pyspark from a plain directory.

The Spark test asks a task where its pyspark came from and how many
``zipimporter`` values its importer cache holds: under the engine
session both must show that no archive is on the worker's path, so
``importlib.invalidate_caches()`` has no archive directory to re-read.
The Spark-free tests pin ``select_path`` on fixture archives.
"""

from __future__ import annotations

import zipfile

import pandas as pd

from taxi_trips_etl_spark.worker_daemon import select_path


def test_worker_imports_pyspark_from_plain_directory(spark):
    # Nested, so cloudpickle ships it by value: workers cannot import
    # the test module.
    def import_origin(batches):
        import sys
        import zipimport

        import pyspark

        for _ in batches:
            pass
        cached = sys.path_importer_cache.values()
        yield pd.DataFrame({
            "file": [pyspark.__file__],
            "zipimporters": [sum(isinstance(v, zipimport.zipimporter) for v in cached)],
        })

    row = (
        spark.range(1)
        .mapInPandas(import_origin, "file string, zipimporters long")
        .collect()[0]
    )
    assert ".zip" not in row.file and ".jar" not in row.file, row.file
    assert row.zipimporters == 0


def _zip(path, files: dict[str, str]) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in files.items():
            zf.writestr(name, text)
    return str(path)


def _fixture(tmp_path, plain_version: str | None) -> dict[str, str]:
    lib = tmp_path / "lib"
    lib.mkdir()
    entries = {
        "pyspark_zip": _zip(lib / "pyspark.zip", {
            "pyspark/__init__.py": "",
            "pyspark/version.py": "__version__: str = '4.1.2'\n",
        }),
        "py4j_zip": _zip(lib / "py4j-0.10.9.9-src.zip", {"py4j/__init__.py": ""}),
        "jar": _zip(lib / "spark-core_2.13-4.1.2.jar", {"org/x.class": ""}),
        "user_zip": _zip(lib / "deps.zip", {"mylib/__init__.py": ""}),
    }
    site = tmp_path / "site"
    (site / "py4j").mkdir(parents=True)
    (site / "py4j" / "__init__.py").write_text("")
    if plain_version is not None:
        (site / "pyspark").mkdir()
        (site / "pyspark" / "__init__.py").write_text("")
        (site / "pyspark" / "version.py").write_text(
            f"__version__: str = '{plain_version}'\n"
        )
    entries["site"] = str(site)
    return entries


def _path(e: dict[str, str]) -> list[str]:
    return [e["pyspark_zip"], e["py4j_zip"], e["jar"], e["user_zip"], e["site"]]


def test_select_path_drops_spark_archives_for_same_version_plain_pyspark(tmp_path):
    e = _fixture(tmp_path, "4.1.2")
    assert select_path(_path(e)) == [e["user_zip"], e["site"]]


def test_select_path_unchanged_without_plain_pyspark(tmp_path):
    e = _fixture(tmp_path, None)
    assert select_path(_path(e)) == _path(e)


def test_select_path_unchanged_when_plain_version_differs(tmp_path):
    e = _fixture(tmp_path, "4.1.1")
    assert select_path(_path(e)) == _path(e)

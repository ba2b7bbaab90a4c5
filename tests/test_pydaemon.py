"""Python workers of a ``get_spark`` session import the installed pyspark
and py4j, not Spark's zips; ``spark_free_path`` leaves the path alone
when that is not safe."""

from __future__ import annotations

import os
import sys
import zipfile

import py4j.version
import pyspark
import pyspark.version

from bsc_project_spark.pipeline.pydaemon import spark_free_path


def test_workers_import_installed_pyspark(spark):
    def probe(batches):
        import sys

        import pandas as pd
        import pyspark

        for _ in batches:
            pass
        yield pd.DataFrame({"file": [pyspark.__file__], "path": ["\n".join(sys.path)]})

    rows = (
        spark.range(2)
        .repartition(2)
        .mapInPandas(probe, "file string, path string")
        .collect()
    )
    spark_lib = os.path.realpath(os.path.join(os.environ["SPARK_HOME"], "python", "lib"))
    installed = os.path.realpath(os.path.dirname(pyspark.__file__))
    for r in rows:
        assert os.path.dirname(os.path.realpath(r.file)) == installed, r.file
        for entry in r.path.split("\n"):
            assert not os.path.realpath(entry).startswith(spark_lib + os.sep), entry
            assert not entry.endswith(".jar"), entry


def _zip(path, package, version):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{package}/__init__.py", "")
        z.writestr(f"{package}/version.py", f"__version__: str = '{version}'\n")
    return str(path)


def _spark_path(tmp_path, pyspark_version=pyspark.version.__version__):
    lib = tmp_path / "python" / "lib"
    lib.mkdir(parents=True)
    return [
        _zip(lib / "pyspark.zip", "pyspark", pyspark_version),
        _zip(lib / "py4j-src.zip", "py4j", py4j.version.__version__),
        str(tmp_path / "jars" / "spark-core.jar"),
    ]


def test_spark_free_path_drops_spark_archives(tmp_path):
    archives = _spark_path(tmp_path)
    path = [sys.path[0]] + archives + sys.path[1:]
    assert spark_free_path(path) == sys.path


def test_spark_free_path_keeps_path_on_version_mismatch(tmp_path):
    path = _spark_path(tmp_path, pyspark_version="0.0.0") + sys.path
    assert spark_free_path(path) == path


def test_spark_free_path_keeps_path_without_installed_pyspark(tmp_path):
    path = _spark_path(tmp_path) + [str(tmp_path)]
    assert spark_free_path(path) == path

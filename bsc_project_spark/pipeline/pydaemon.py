"""Python worker daemon that imports pyspark from the installed package.

Spark starts its Python daemon with ``$SPARK_HOME/python/lib/pyspark.zip``,
the py4j source zip and the spark-core jar at the head of ``PYTHONPATH``.
Zips hold no bytecode, so every daemon start compiles pyspark from
source, and every task's ``importlib.invalidate_caches()`` (pyspark's
``worker_util.setup_spark_files``) re-reads the central directory of each
archive on the path: 0.16-0.73 s per task on local[4].

Run as ``spark.python.daemon.module``, this module drops those archives
from ``sys.path`` and ``sys.path_importer_cache`` and then runs
``pyspark.daemon`` as ``__main__``, so forked workers import the
installed pyspark and py4j with their cached bytecode.  It does so only
when the installed packages have the versions the zips ship; otherwise
the path stays as Spark built it.  Nothing here imports pyspark before
the path is settled.
"""

from __future__ import annotations

import os
import re
import runpy
import sys
import zipfile
from importlib.machinery import PathFinder

PACKAGES = ("pyspark", "py4j")

_VERSION = re.compile(r"""^__version__\s*(?::\s*str\s*)?=\s*['"]([^'"]+)['"]""", re.M)


def _version(text: str) -> str | None:
    m = _VERSION.search(text)
    return m.group(1) if m else None


def _zip_version(archive: str, package: str) -> str | None:
    try:
        with zipfile.ZipFile(archive) as z:
            return _version(z.read(f"{package}/version.py").decode())
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def _installed_version(package: str, path: list[str]) -> str | None:
    """``package``'s version as found on ``path``, read from its
    ``version.py`` without importing the package."""
    spec = PathFinder.find_spec(package, path)
    if spec is None or not spec.submodule_search_locations:
        return None
    try:
        with open(os.path.join(spec.submodule_search_locations[0], "version.py")) as f:
            return _version(f.read())
    except OSError:
        return None


def spark_free_path(path: list[str]) -> list[str]:
    """``path`` without Spark's Python zips (the directory that holds the
    pyspark zip) and without ``.jar`` entries, if the pyspark and py4j
    found on the rest of it have the zips' versions; else ``path``."""
    shipped: dict[str, tuple[str, str]] = {}
    for entry in path:
        if entry.endswith(".zip"):
            for package in PACKAGES:
                version = _zip_version(entry, package)
                if version is not None:
                    shipped.setdefault(package, (entry, version))
    if set(shipped) != set(PACKAGES):
        return path
    lib = os.path.dirname(shipped["pyspark"][0])
    kept = [
        e for e in path
        if not e.endswith(".jar") and not (e.endswith(".zip") and os.path.dirname(e) == lib)
    ]
    for package, (_, version) in shipped.items():
        if _installed_version(package, kept) != version:
            return path
    return kept


if __name__ == "__main__":
    kept = spark_free_path(sys.path)
    for entry in set(sys.path) - set(kept):
        sys.path_importer_cache.pop(entry, None)
    sys.path[:] = kept
    # sys.argv[1:] (the worker module) reaches pyspark.daemon unchanged.
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)

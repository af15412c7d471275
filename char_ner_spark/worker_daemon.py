"""Spark's Python worker daemon, run without Spark's own archives on
``sys.path`` (``spark.python.daemon.module``, set by
:func:`char_ner_spark.session.build_session`).

Spark starts the daemon as ``python -m <this module> pyspark.worker``
with ``pyspark.zip``, ``py4j-*-src.zip`` and the spark-core jar at the
front of ``PYTHONPATH``. Python then imports pyspark from the zip, and
every task's ``importlib.invalidate_caches()`` (pyspark's
``worker_util.setup_spark_files``) re-reads the central directory of each
cached ``zipimporter``: 16 of them, 26,672 entries, 0.13-0.28 s of CPU
per task on a 4-core host. The jar holds no Python file.

Before anything imports pyspark, :func:`prune_spark_archives` drops those
archives from ``sys.path`` and ``sys.path_importer_cache`` if the rest of
the path provides pyspark and py4j with the same ``version.py`` text;
otherwise it leaves the path exactly as Spark built it. It then runs
``pyspark.daemon`` as ``__main__``, and every worker the daemon forks
inherits the path. A ``--py-files`` archive is never dropped.
"""

from __future__ import annotations

import fnmatch
import os
import runpy
import sys
import zipfile
from importlib.machinery import PathFinder

#: the archives Spark prepends to a worker's path, by file name, and the
#: package whose ``version.py`` each holds
SPARK_ARCHIVES = {"pyspark.zip": "pyspark", "py4j-*-src.zip": "py4j",
                  "spark-core_*.jar": None}


def _version_py(package: str, where: str) -> bytes | None:
    """``<package>/version.py`` under the directory or inside the zip
    archive ``where``; None if it is not there."""
    member = f"{package}/version.py"
    try:
        if os.path.isdir(where):
            with open(os.path.join(where, member), "rb") as f:
                return f.read()
        with zipfile.ZipFile(where) as z:
            return z.read(member)
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def prune_spark_archives(path: list[str] | None = None,
                         importer_cache: dict | None = None) -> list[str]:
    """Remove Spark's archives from ``path`` (default ``sys.path``) and
    their keys from ``importer_cache`` (default
    ``sys.path_importer_cache``) if pyspark and py4j resolve on the rest
    of ``path``, each with the ``version.py`` text of the archive that
    holds it. Returns the entries removed; none if a check fails."""
    path = sys.path if path is None else path
    cache = sys.path_importer_cache if importer_cache is None else importer_cache
    archives = {entry: package for entry in path
                for pattern, package in SPARK_ARCHIVES.items()
                if fnmatch.fnmatchcase(os.path.basename(entry), pattern)}
    if not archives:
        return []
    kept = [entry for entry in path if entry not in archives]
    for package in ("pyspark", "py4j"):
        spec = PathFinder.find_spec(package, kept)
        if spec is None or not spec.submodule_search_locations:
            return []
        # the directory that holds the package
        text = _version_py(package, os.path.dirname(
            spec.submodule_search_locations[0]))
        if text is None or any(_version_py(package, entry) != text
                               for entry, held in archives.items()
                               if held == package):
            return []
    path[:] = kept
    for key in list(cache):
        if any(key == a or key.startswith(a + os.sep) for a in archives):
            del cache[key]
    return list(archives)


if __name__ == "__main__":
    prune_spark_archives()
    # keeps sys.argv[1:], the worker module Spark names
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)

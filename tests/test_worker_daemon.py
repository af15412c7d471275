"""Python workers start from ``char_ner_spark.worker_daemon``: in the
shared session they import pyspark and py4j from the interpreter's own
installation, with no importer left on Spark's archives; and the prune
rule, on a fake path, leaves ``sys.path`` alone whenever it cannot prove
the interpreter's copy is the archives' copy."""

import fnmatch
import os
import sys
import zipfile

import pandas as pd
import pytest

from char_ner_spark.worker_daemon import SPARK_ARCHIVES, prune_spark_archives

VERSION_PY = b'__version__: str = "4.1.2"\n'


def _in_spark_archive(path: str) -> bool:
    return any(fnmatch.fnmatchcase(part, pattern)
               for part in path.split(os.sep) for pattern in SPARK_ARCHIVES)


def test_workers_import_installed_pyspark(spark):
    import pyspark

    def report(it):  # defined here, so it is pickled by value
        import zipimport

        import py4j
        import pyspark

        for _ in it:
            pass
        zips = [k for k, v in sys.path_importer_cache.items()
                if isinstance(v, zipimport.zipimporter)]
        yield pd.DataFrame({"pyspark": [pyspark.__file__],
                            "py4j": [py4j.__file__],
                            "version": [pyspark.__version__],
                            "zips": ["\n".join(zips)]})

    assert spark.conf.get("spark.python.daemon.module") == \
        "char_ner_spark.worker_daemon"
    rows = spark.range(0, 4, numPartitions=4).mapInPandas(
        report,
        "pyspark string, py4j string, version string, zips string",
    ).collect()
    assert len(rows) == 4
    for r in rows:
        for f in (r.pyspark, r.py4j):
            assert not any(part.endswith((".zip", ".jar"))
                           for part in f.split(os.sep)), f
        assert not any(map(_in_spark_archive, r.zips.split("\n"))), r.zips
        assert r.version == pyspark.__version__


@pytest.fixture
def fake_spark(tmp_path, monkeypatch):
    """A site directory holding pyspark and py4j, Spark's three archives
    and a user ``--py-files`` archive; the finder cache is a copy, so the
    fake paths do not stay in this process's."""
    monkeypatch.setattr(sys, "path_importer_cache",
                        dict(sys.path_importer_cache))
    site = tmp_path / "site"
    for pkg in ("pyspark", "py4j"):
        (site / pkg).mkdir(parents=True)
        (site / pkg / "__init__.py").write_text("")
        (site / pkg / "version.py").write_bytes(VERSION_PY)
    lib = tmp_path / "spark" / "python" / "lib"
    lib.mkdir(parents=True)
    archives = {lib / "pyspark.zip": "pyspark",
                lib / "py4j-0.10.9.9-src.zip": "py4j",
                tmp_path / "spark" / "spark-core_2.13-4.1.2.jar": None}
    for path, pkg in archives.items():
        with zipfile.ZipFile(path, "w") as z:
            if pkg is None:
                z.writestr("org/apache/spark/SparkContext.class", b"")
            else:
                z.writestr(f"{pkg}/__init__.py", "")
                z.writestr(f"{pkg}/version.py", VERSION_PY)
    user = tmp_path / "userFiles" / "char_ner_spark.zip"
    user.parent.mkdir()
    with zipfile.ZipFile(user, "w") as z:
        z.writestr("char_ner_spark/__init__.py", "")
    spark_paths = [str(p) for p in archives]
    path = [str(tmp_path / "cwd"), *spark_paths, str(user), str(site)]
    return path, spark_paths, str(user), site


def _importer_cache(path):
    """A finder cache as a worker holds one: an entry per path entry and
    one per package directory inside each archive."""
    cache = {p: object() for p in path}
    cache.update({os.path.join(p, "pyspark"): object() for p in path})
    return cache


def test_prune_drops_spark_archives_keeps_user_archive(fake_spark):
    path, spark_paths, user, _ = fake_spark
    cache = _importer_cache(path)
    assert sorted(prune_spark_archives(path, cache)) == sorted(spark_paths)
    assert not set(spark_paths) & set(path)
    assert user in path
    assert not any(k.startswith(tuple(spark_paths)) for k in cache)
    assert user in cache and os.path.join(user, "pyspark") in cache


@pytest.mark.parametrize("missing", ["pyspark", "py4j"])
def test_prune_keeps_path_when_package_missing(fake_spark, missing):
    path, _, _, site = fake_spark
    for f in (site / missing).iterdir():
        f.unlink()
    (site / missing).rmdir()
    before = list(path)
    cache = _importer_cache(path)
    cached = dict(cache)
    assert prune_spark_archives(path, cache) == []
    assert path == before and cache == cached


@pytest.mark.parametrize("package", ["pyspark", "py4j"])
def test_prune_keeps_path_when_versions_differ(fake_spark, package):
    path, _, _, site = fake_spark
    (site / package / "version.py").write_bytes(
        b'__version__: str = "4.0.0"\n')
    before = list(path)
    assert prune_spark_archives(path, _importer_cache(path)) == []
    assert path == before


def test_daemon_named_only_where_workers_find_package(tmp_path, monkeypatch):
    """build_session names the daemon module only if a worker started in
    the JVM's working directory, with the JVM's PYTHONPATH, imports this
    copy of the package."""
    from char_ner_spark import session

    repo = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))
    for var in ("PYSPARK_GATEWAY_PORT", "PYTHONSAFEPATH"):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setenv("PYTHONPATH", "")
    monkeypatch.chdir(tmp_path)
    assert not session.workers_find_package()
    monkeypatch.setenv("PYTHONPATH", repo)
    assert session.workers_find_package()
    # spark-submit started the JVM: the driver's PYTHONPATH is not its
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
    assert not session.workers_find_package()
    monkeypatch.chdir(repo)
    assert session.workers_find_package()
    monkeypatch.setenv("PYTHONSAFEPATH", "1")
    assert not session.workers_find_package()

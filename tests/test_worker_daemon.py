"""The worker daemon's import path: installed pyspark, no SPARK_HOME zips."""

import zipfile

import pytest

from webtext_extraction_spark.worker_daemon import without_spark_archives

VERSION = b"__version__: str = '4.1.2'\n"


def _zip(path, members):
    with zipfile.ZipFile(path, "w") as z:
        for name, data in members.items():
            z.writestr(name, data)
    return str(path)


@pytest.fixture
def spark_path(tmp_path):
    """A worker-shaped ``sys.path``: cwd, pyspark.zip, the py4j zip, the
    spark-core jar, then the stdlib and site-packages directories."""
    lib = tmp_path / "lib"
    lib.mkdir()
    pyspark_zip = _zip(lib / "pyspark.zip", {
        "pyspark/__init__.py": b"", "pyspark/version.py": VERSION,
    })
    py4j_zip = _zip(lib / "py4j-0.10.9.9-src.zip", {"py4j/__init__.py": b""})
    jar = _zip(lib / "spark-core_2.13-4.1.2.jar", {"META-INF/MANIFEST.MF": b""})
    site = tmp_path / "site-packages"
    (site / "py4j").mkdir(parents=True)
    (site / "py4j" / "__init__.py").write_bytes(b"")
    stdlib = tmp_path / "stdlib"
    stdlib.mkdir()
    path = [str(tmp_path / "cwd"), pyspark_zip, py4j_zip, jar, str(stdlib), str(site)]
    return path, site


def _install_pyspark(site, version):
    (site / "pyspark").mkdir()
    (site / "pyspark" / "__init__.py").write_bytes(b"")
    (site / "pyspark" / "version.py").write_bytes(version)


def test_matching_installed_pyspark_drops_zips_and_jar(spark_path):
    path, site = spark_path
    _install_pyspark(site, VERSION)
    assert without_spark_archives(path) == [path[0], path[4], path[5]]


def test_mismatched_installed_pyspark_keeps_path(spark_path):
    path, site = spark_path
    _install_pyspark(site, b"__version__: str = '4.0.0'\n")
    assert without_spark_archives(path) is path


def test_no_installed_pyspark_keeps_path(spark_path):
    path, _ = spark_path
    assert without_spark_archives(path) is path


def test_no_installed_py4j_keeps_path(spark_path):
    path, site = spark_path
    _install_pyspark(site, VERSION)
    (site / "py4j" / "__init__.py").unlink()
    (site / "py4j").rmdir()
    assert without_spark_archives(path) is path


def test_session_workers_import_no_archive(spark):
    """A task of a ``get_spark`` session runs in a worker whose import
    path holds no zipimporter (pyspark's per-task
    ``importlib.invalidate_caches()`` re-reads every one) and whose
    pyspark is the installed package, not pyspark.zip."""

    def probe(_):
        import sys
        import zipimport

        import pyspark

        zips = [
            k for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter)
        ]
        yield zips, pyspark.__file__

    for zips, pyspark_file in spark.sparkContext.parallelize(range(4), 4).mapPartitions(probe).collect():
        assert zips == []
        assert ".zip" not in pyspark_file and ".jar" not in pyspark_file


def test_get_spark_defaults_to_the_cpus_this_process_may_use(monkeypatch):
    """Without SPARK_GRAFT_CPUS, get_spark runs ``local[N]`` with N the
    CPU affinity count.  The builder is a stub, so no second session
    starts beside the tests' own."""
    import os
    import types

    from webtext_extraction_spark import session

    class Builder:
        conf = {}

        def appName(self, name):
            return self

        def master(self, master):
            self.conf["master"] = master
            return self

        def config(self, key, value):
            self.conf[key] = value
            return self

        def getOrCreate(self):
            return self.conf

    monkeypatch.setattr(session, "SparkSession", types.SimpleNamespace(builder=Builder()))
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    conf = session.get_spark()
    n = len(os.sched_getaffinity(0))
    assert conf["master"] == f"local[{n}]"
    assert conf["spark.default.parallelism"] == str(n)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.get_spark()["master"] == "local[3]"

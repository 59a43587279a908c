"""Python worker daemon that imports the installed pyspark, not SPARK_HOME's zips.

``session.get_spark`` selects this module with ``spark.python.daemon.module``.
Spark starts it as ``python -m webtext_extraction_spark.worker_daemon`` with
``PYTHONPATH`` led by ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j zip
and the spark-core jar.  Pinned to pyspark 4.1.2: at the start of every task
``pyspark.worker_util.setup_spark_files`` calls ``importlib.invalidate_caches()``,
and on Python 3.11 every ``zipimporter`` in ``sys.path_importer_cache``
re-reads its whole archive directory on that call (pyspark.zip holds 1,328
entries, the jar 5,359): 0.21-0.25 s of CPU per task, against well under
1 ms for directory-only paths.

When a non-zip pyspark whose ``pyspark/version.py`` is byte-equal to the
zip's is importable, and py4j stays importable, the daemon drops those
archive entries from ``sys.path`` before anything imports pyspark; the
forked workers inherit the shorter path.  Otherwise the path is left
exactly as it was.  Then it hands over to ``pyspark.daemon.manager()``.
"""

from __future__ import annotations

import os
import sys
import zipimport
from importlib.machinery import PathFinder


def _is_spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return (
        name == "pyspark.zip"
        or (name.startswith("py4j-") and name.endswith(".zip"))
        or name.endswith(".jar")
    )


def _zip_version(archive: str) -> bytes | None:
    try:
        return zipimport.zipimporter(archive).get_data("pyspark/version.py")
    except (OSError, zipimport.ZipImportError):
        return None


def _installed_version(path: list[str]) -> bytes | None:
    spec = PathFinder.find_spec("pyspark", path)
    if spec is None or spec.origin is None:
        return None
    try:
        with open(os.path.join(os.path.dirname(spec.origin), "version.py"), "rb") as f:
            return f.read()
    except OSError:  # a pyspark inside some other archive
        return None


def without_spark_archives(path: list[str]) -> list[str]:
    """``path`` minus pyspark.zip, py4j-*.zip and jars when the pyspark
    left importable is the zip's own version and py4j stays importable;
    otherwise ``path`` unchanged."""
    kept = [e for e in path if not _is_spark_archive(e)]
    zips = [e for e in path if os.path.basename(e) == "pyspark.zip"]
    if not zips:
        return path
    zip_version = _zip_version(zips[0])
    if zip_version is None or _installed_version(kept) != zip_version:
        return path
    if PathFinder.find_spec("py4j", kept) is None:
        return path
    return kept


if __name__ == "__main__":
    kept = without_spark_archives(sys.path)
    for entry in set(sys.path) - set(kept):
        sys.path_importer_cache.pop(entry, None)
    sys.path[:] = kept

    from pyspark import daemon

    daemon.manager()

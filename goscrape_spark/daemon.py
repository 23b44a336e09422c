"""Spark's Python worker daemon for crawl sessions.

``session.get_spark`` names this module as ``spark.python.daemon.module``
on a ``local`` master, so Spark starts it as
``python -m goscrape_spark.daemon pyspark.worker``.  Before pyspark is
imported it takes Spark's own archives (``pyspark.zip``, ``py4j-*.zip`` and
the spark-core jar) off ``sys.path`` and drops their cached zipimporters:
every task's ``importlib.invalidate_caches()``
(pyspark.worker_util.setup_spark_files) re-reads the directory of each one.
Then it imports the modules the crawl's UDFs use and runs pyspark's own
daemon, so every forked worker starts with them loaded.
"""

from __future__ import annotations

import importlib.machinery
import os
import sys
import zipfile


def _archive_package(entry: str) -> str | None:
    """The package a Spark archive on a worker's path stands for ("" for
    the jar), or None for any other entry."""
    name = os.path.basename(entry)
    if name == "pyspark.zip":
        return "pyspark"
    if name.startswith("py4j-") and name.endswith(".zip"):
        return "py4j"
    return "" if name.endswith(".jar") else None


def _same_version(package: str, archive: str, installed: str) -> bool:
    """Whether the installed package directory has the archive's
    ``version.py``: Spark ships the archive so that the worker matches the
    JVM, and an installed copy may replace it only at the same version."""
    try:
        with zipfile.ZipFile(archive) as z:
            zipped = z.read(f"{package}/version.py")
        with open(os.path.join(installed, "version.py"), "rb") as f:
            return f.read() == zipped
    except (OSError, KeyError, zipfile.BadZipFile):
        return False


def worker_path(path: list[str]) -> list[str]:
    """``path`` without Spark's archives, when pyspark and py4j are still
    importable from what is left, each at its archive's version; otherwise
    ``path`` unchanged."""
    held = {p: _archive_package(p) for p in path}
    kept = [p for p in path if held[p] is None]
    for package in ("pyspark", "py4j"):
        spec = importlib.machinery.PathFinder.find_spec(package, kept)
        if spec is None or not all(
                _same_version(package, p, spec.submodule_search_locations[0])
                for p in path if held[p] == package):
            return list(path)
    return kept


if __name__ == "__main__":
    kept = worker_path(sys.path)
    dropped = [p for p in sys.path if p not in kept]
    sys.path[:] = kept
    for key in list(sys.path_importer_cache):
        if any(key == d or key.startswith(d + os.sep) for d in dropped):
            del sys.path_importer_cache[key]

    # what the crawl's UDFs import: keep this list in step with them
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401

    import goscrape_spark.operators.extract  # noqa: F401
    import goscrape_spark.operators.seen  # noqa: F401
    import goscrape_spark.sources.fetch  # noqa: F401
    from pyspark import daemon

    daemon.manager()

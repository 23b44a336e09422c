"""The crawl's Python worker daemon (goscrape_spark/daemon.py): workers of a
``get_spark`` session import pyspark from its install, with none of Spark's
archives on their path, and the path rule keeps the archives when they hold
the only pyspark."""

import json
import os
import subprocess
import sys
import zipfile

import pyspark

from goscrape_spark.daemon import worker_path
from goscrape_spark.session import uses_crawl_daemon


def test_worker_imports_pyspark_from_its_install(spark):
    def report(batches):
        import zipimport

        import pandas as pd
        import pyspark as worker_pyspark

        for _ in batches:
            pass
        zips = sorted({v.archive for v in sys.path_importer_cache.values()
                       if isinstance(v, zipimport.zipimporter)})
        yield pd.DataFrame({"info": [json.dumps({
            "path": sys.path, "zips": zips,
            "pyspark": worker_pyspark.__file__})]})

    row = (spark.range(1, numPartitions=1)
           .mapInPandas(report, "info string").collect()[0])
    info = json.loads(row.info)
    names = [os.path.basename(p) for p in info["path"]]
    assert [n for n in names if n == "pyspark.zip" or n.endswith(".jar")
            or (n.startswith("py4j-") and n.endswith(".zip"))] == []
    assert info["zips"] == []
    assert info["pyspark"] == pyspark.__file__


def _package(root, name, version="1.0"):
    os.makedirs(os.path.join(root, name))
    open(os.path.join(root, name, "__init__.py"), "w").close()
    with open(os.path.join(root, name, "version.py"), "w") as f:
        f.write(f"__version__ = {version!r}\n")


def _zip(path, *names, version="1.0"):
    with zipfile.ZipFile(path, "w") as z:
        for n in names:
            z.writestr(f"{n}/__init__.py", "")
            z.writestr(f"{n}/version.py", f"__version__ = {version!r}\n")
    return str(path)


def _spark_path(tmp_path, site, version="1.0"):
    return [str(tmp_path / "app"),
            _zip(tmp_path / "pyspark.zip", "pyspark", version=version),
            _zip(tmp_path / "py4j-0.10.9.9-src.zip", "py4j"),
            _zip(tmp_path / "spark-core_2.13-4.1.2.jar", "org"),
            site]


def test_worker_path_keeps_archives_holding_the_only_pyspark(tmp_path):
    site = str(tmp_path / "site")
    _package(site, "py4j")
    path = _spark_path(tmp_path, site)
    assert worker_path(path) == path


def test_worker_path_keeps_archives_of_another_version(tmp_path):
    site = str(tmp_path / "site")
    _package(site, "pyspark", version="4.0.0")
    _package(site, "py4j")
    path = _spark_path(tmp_path, site, version="4.1.2")
    assert worker_path(path) == path


def test_worker_path_drops_archives_beside_an_installed_pyspark(tmp_path):
    site = str(tmp_path / "site")
    _package(site, "pyspark")
    _package(site, "py4j")
    app, deps = str(tmp_path / "app"), _zip(tmp_path / "deps.zip", "dep")
    path = _spark_path(tmp_path, site)
    path.insert(4, deps)
    assert worker_path(path) == [app, deps, site]


def test_crawl_daemon_only_on_a_local_master():
    """Executors of any other master start their workers in their own
    directory and environment, where the daemon module may not import."""
    assert uses_crawl_daemon("local[4]") and uses_crawl_daemon("local")
    for master in ("local-cluster[4,1,1024]", "spark://h:7077", "yarn"):
        assert not uses_crawl_daemon(master)


def test_crawl_daemon_needs_the_package_where_workers_look(tmp_path,
                                                          monkeypatch):
    """A package the driver imports only through its own ``sys.path`` is
    not on a worker's path when Spark starts the daemon."""
    monkeypatch.chdir(tmp_path)
    monkeypatch.delenv("PYTHONPATH", raising=False)
    assert not uses_crawl_daemon("local[4]")
    monkeypatch.setenv("PYTHONPATH", os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    assert uses_crawl_daemon("local[4]")


SUBMIT_DRIVER = '''
from goscrape_spark.session import get_spark

spark = get_spark("daemon-submit", master="local[2]", shuffle_partitions=2)
import goscrape_spark
assert ".zip" in goscrape_spark.__file__, goscrape_spark.__file__


def run(batches):
    import goscrape_spark.operators.extract  # noqa: F401
    yield from batches


print("SUBMIT_ROWS", spark.range(4, numPartitions=2)
      .mapInPandas(run, "id long").count())
spark.stop()
'''


def test_get_spark_under_spark_submit_py_files(tmp_path, monkeypatch):
    """A package shipped with --py-files reaches a worker's path only when
    a task starts, so ``get_spark`` keeps Spark's daemon there: a daemon
    module from the archive would not be found when Spark starts it."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    monkeypatch.syspath_prepend(repo)
    from scripts.build_pyfiles import build

    zip_path = build(str(tmp_path / "goscrape_spark.zip"))
    driver = tmp_path / "driver.py"
    driver.write_text(SUBMIT_DRIVER)
    submit = os.path.join(os.path.dirname(pyspark.__file__),
                          "bin", "spark-submit")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [submit, "--py-files", zip_path, str(driver)],
        capture_output=True, text=True, timeout=300,
        cwd=str(tmp_path), env=env)  # cwd outside the repo: zip-only import
    assert "SUBMIT_ROWS 4" in out.stdout.splitlines(), out.stderr[-3000:]

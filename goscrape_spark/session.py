"""SparkSession factory tuned for the crawl engine.

Local defaults target the sandbox (local[N], 32 cores); the same builder
settings are what a spark-submit deployment would carry in --conf flags.
AQE is on for the session's other queries.  The crawl loop turns it off
while it runs (``Crawler.run`` restores it): the loop sizes its own
shuffles, and its skew handling is the map-side combine of admission's
first-wins aggregate (operators/admission.py), not AQE's skew split.

PySpark's DataFrame debugging (``spark.python.sql.dataFrameDebugging.enabled``)
is off.  With it on, PySpark 4.1 captures the Python call site of every
``F.*``/``DataFrame`` call: a stack walk, a failed ``ipykernel`` import and
4-5 extra py4j round trips per call.  The mock crawl of
tests/test_live_crawl.py made 16,273 py4j round trips with it on and 9,218
with it off.  The cost of turning it off: Spark error messages lose their
Python call-site context.  Sessions built without :func:`get_spark` keep
PySpark's default.

Python workers come from the crawl's own daemon (goscrape_spark/daemon.py,
``spark.python.daemon.module``).  Spark puts three archives first on a
worker's ``sys.path``: ``pyspark.zip``, ``py4j-*-src.zip`` and the
spark-core jar.  Every task starts with ``importlib.invalidate_caches()``,
and on Python 3.11 each cached zipimporter then re-reads its archive's
whole directory.  The daemon drops the archives when the installed pyspark
and py4j are importable without them at the archives' versions (otherwise
it keeps Spark's path as it is), and it imports pandas, pyarrow and the
crawl's UDF modules before it forks a worker.

Spark starts the daemon before a task adds anything to a worker's path, so
the daemon module must be importable as the driver imports it.  That holds
only when workers share the driver's host, directory and environment: a
``local``/``local[N]`` master whose workers find the package on disk where
the driver found it (:func:`uses_crawl_daemon`).  Anywhere else
(``local-cluster``, a cluster manager, a package shipped with
``--py-files`` or ``addPyFile``, a package the driver found only through
its own ``sys.path``) ``get_spark`` keeps Spark's daemon, as do sessions
built without :func:`get_spark`.

:func:`local_frame` builds the crawl's driver-side frames as JVM relations.
"""

from __future__ import annotations

import os
import site
from typing import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def uses_crawl_daemon(master: str) -> bool:
    """Whether a ``get_spark`` session on ``master`` starts its Python
    workers from goscrape_spark/daemon.py: only on a local master, and only
    when a worker finds the package where the driver found it, on disk in
    the working directory, on ``PYTHONPATH`` or among the installed
    packages.  A ``--py-files`` archive or a driver-only ``sys.path`` entry
    is not enough: the archive reaches a worker's path when a task starts,
    after the daemon has started, and the entry never does."""
    if not (master == "local" or master.startswith("local[")):
        return False
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    visible = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep),
               *site.getsitepackages(), site.getusersitepackages()]
    return os.path.isfile(__file__) and os.path.realpath(root) in {
        os.path.realpath(p) for p in visible if p}


def get_spark(app_name: str = "goscrape-spark", master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if uses_crawl_daemon(master):
        builder = builder.config("spark.python.daemon.module",
                                 "goscrape_spark.daemon")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows: Iterable[tuple],
                schema: str) -> DataFrame:
    """Driver-built rows as a relation the JVM scans without Python workers.

    ``spark.createDataFrame(<python list>)`` plans a PythonRDD leaf: every
    scan of it runs one Python-worker task per default-parallelism slice,
    even with zero rows (~0.2 Python CPU-s per task on a 4-core host).  An
    Arrow table crosses to the JVM once, when the frame is built, and becomes
    a ``LocalRelation`` whatever ``spark.sql.execution.arrow.pyspark.enabled``
    says; an empty one is pruned from unions and joins by the optimizer.

    ``rows`` are tuples in ``schema`` order; ``schema`` is a DDL string and
    the frame's columns, types and order are exactly its fields (all
    nullable).  Every driver-built frame the crawl scans goes through here.
    """
    struct = StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow)
    return spark.createDataFrame(table, schema=struct)

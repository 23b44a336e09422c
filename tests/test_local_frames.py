"""Driver-built frames are JVM relations (session.local_frame).

A frame built from a Python list is a PythonRDD leaf: every scan of it
starts Python-worker tasks, even with zero rows.  These tests pin that the
crawl's driver-side frames (seed seen/frontier, written, result empties,
robots rules, the pages fixture) carry no such leaf, that no new one can
enter the crawl path, and that the epoch loop leaves the shared session's
settings as it found them when it raises."""

import ast
import os

import pytest
from pyspark.sql.types import StructType

from goscrape_spark.config import CrawlConfig
from goscrape_spark.operators.politeness import rfc_rules_df
from goscrape_spark.plans.crawl import Crawler, crawl
from goscrape_spark.session import local_frame
from goscrape_spark.sources.fixtures import (
    SITE_LINKS,
    SITE_LINKS_START,
    pages_df,
)

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "goscrape_spark")


def _lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


@pytest.mark.parametrize("rows,ddl", [
    ([("k", 0)], "dedup_key string, epoch int"),
    ([], "dedup_key string, epoch int"),
    ([("u", bytearray(b"\x00\xff"), None, 3)],
     "url string, body binary, resp_url string, retry_after int"),
    ([], "url string, wpos struct<epoch:int, pos:struct<a:bigint, b:int>>"),
])
def test_local_frame_is_jvm_only_with_ddl_schema(spark, rows, ddl):
    df = local_frame(spark, rows, ddl)
    assert df.schema == StructType.fromDDL(ddl)
    assert "PythonRDD" not in _lineage(df)
    assert [tuple(r) for r in df.collect()] == \
        [tuple(bytes(v) if isinstance(v, bytearray) else v for v in r)
         for r in rows]


def test_robots_and_pages_frames_are_jvm_only(spark):
    frames = [rfc_rules_df(spark, {"h": [("/a*", False), ("/a/b", True)]}),
              rfc_rules_df(spark, {}),
              pages_df(spark, SITE_LINKS)]
    for df in frames:
        assert "PythonRDD" not in _lineage(df)
    assert frames[-1].count() == len(SITE_LINKS)


def test_crawl_seen_has_no_python_leaf(spark):
    cfg = CrawlConfig(url=SITE_LINKS_START)
    res = crawl(spark, cfg, pages_df(spark, SITE_LINKS), use_bloom=True)
    assert res.epochs >= 2
    assert "PythonRDD" not in _lineage(res.seen)
    assert "PythonRDD" not in _lineage(res.fetch_log)
    assert res.seen_set() == {"/", "/page2", "/sub", "/style.css"}


def test_epoch_loop_restores_session_conf_when_it_raises(spark, monkeypatch):
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    orig = Crawler._fetch

    def failing_fetch(self, frontier, epoch):
        if epoch == 1:
            raise RuntimeError("injected fetch failure")
        return orig(self, frontier, epoch)

    monkeypatch.setattr(Crawler, "_fetch", failing_fetch)
    with pytest.raises(RuntimeError, match="injected"):
        crawl(spark, CrawlConfig(url=SITE_LINKS_START),
              pages_df(spark, SITE_LINKS))
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts


def _create_dataframe_calls(path: str) -> list[int]:
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), path)
    return [n.lineno for n in ast.walk(tree)
            if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "createDataFrame"]


def test_crawl_path_builds_frames_only_through_local_frame():
    """A createDataFrame call on the crawl path would add a PythonRDD leaf
    that every scan pays Python-worker tasks for; use local_frame."""
    files = [os.path.join(PKG, "operators", "politeness.py")]
    for sub in ("plans", "sources"):
        for root, _, names in os.walk(os.path.join(PKG, sub)):
            files += [os.path.join(root, n) for n in names
                      if n.endswith(".py")]
    offenders = [f"{os.path.relpath(p, PKG)}:{line}" for p in sorted(files)
                 for line in _create_dataframe_calls(p)]
    assert offenders == []

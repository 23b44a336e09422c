"""Round-4 regression tests: plan shapes for the crawl-loop cost fixes.

The round-4 profile (BENCH.md) showed the mock-fetch sort-merge join
re-sorting the ~GB body fixture every epoch.  These tests pin the fixed
plan shapes so a regression is caught structurally, without timing.
"""

from goscrape_spark.config import CrawlConfig
from goscrape_spark.plans.crawl import Crawler
from goscrape_spark.sources.fixtures import (
    SITE_LINKS,
    SITE_LINKS_START,
    pages_df,
)


def test_mock_fetch_broadcasts_small_frontier(spark):
    """A small fixture's fetch must stream the frontier past a broadcast
    hash of the fixture, never sort-merge-join it.  The plan comes from
    Spark's own size rule: the fetch carries no broadcast hint."""
    c = Crawler(spark, CrawlConfig(url=SITE_LINKS_START),
                pages_df(spark, SITE_LINKS))
    urls = spark.createDataFrame([(SITE_LINKS_START,)], "url string")
    plan = c._source(urls, ["url"])._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan

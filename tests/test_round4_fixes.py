"""Round-4 regression tests: plan shapes for the crawl-loop cost fixes.

The round-4 profile (BENCH.md) showed three fixed costs at bench scale:
the mock-fetch sort-merge join re-sorting the ~GB body fixture every
epoch, a second full-body materialization per epoch (the fetched
checkpoint), and the fileExists collision check re-reading body blocks
for status only.  These tests pin the fixed plan shapes so a regression
is caught structurally, without timing.
"""

from pyspark.sql import functions as F

from goscrape_spark.config import CrawlConfig
from goscrape_spark.plans.crawl import Crawler
from goscrape_spark.sources.fixtures import (
    SITE_LINKS,
    SITE_LINKS_START,
    pages_df,
)


def _crawler(spark):
    c = Crawler(spark, CrawlConfig(url=SITE_LINKS_START),
                pages_df(spark, SITE_LINKS))
    c._n_frontier = 10          # the loop sets this per epoch
    return c


def test_mock_fetch_broadcasts_small_frontier(spark):
    """A small frontier's mock fetch must stream the body fixture past a
    broadcast hash (inner + anti split), never sort-merge-join it."""
    c = _crawler(spark)
    urls = spark.createDataFrame([(SITE_LINKS_START,)], "url string")
    plan = c._do_fetch(urls)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_mock_fetch_falls_back_above_threshold(spark, no_auto_broadcast):
    """An oversized frontier must NOT be broadcast (an epoch's url set has
    to fit in every executor) — the co-partitioned shuffle join is the
    scale path."""
    c = _crawler(spark)
    c._n_frontier = c.MOCK_BROADCAST_MAX + 1
    assert not c._mock_broadcastable()
    urls = spark.createDataFrame([(SITE_LINKS_START,)], "url string")
    plan = c._do_fetch(urls)._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_mock_status_touches_no_body_column(spark):
    """The fileExists collision check needs outcomes only: its plan must
    read the body-free slim table, not the body-bearing fixture."""
    c = _crawler(spark)
    urls = spark.createDataFrame([(SITE_LINKS_START,)], "url string")
    st = c._mock_status(urls)
    plan = st._jdf.queryExecution().executedPlan().toString()
    assert "has_body" in plan
    # no bare body column reference anywhere (has_body is the slim flag)
    assert "body" not in plan.replace("has_body", "")
    row = {r.url: r.status for r in st.collect()}
    # SITE_LINKS_START carries a #fragment, which is not a fixture key —
    # exactly the "missing" outcome; a real fixture url must be "ok"
    assert row[SITE_LINKS_START] == "missing"
    ok = c._mock_status(spark.createDataFrame(
        [("https://example.org/",)], "url string"))
    assert ok.first().status == "ok"


def test_mock_status_matches_do_fetch(spark):
    """Slim-table statuses must equal the full fetch join's statuses for
    every fixture url plus a miss."""
    c = _crawler(spark)
    urls = c.pages.select("url").unionByName(spark.createDataFrame(
        [("https://example.org/missing-page",)], "url string"))
    slim = {r.url: r.status for r in c._mock_status(urls).collect()}
    full = {r.url: r.status for r in
            c._do_fetch(urls).select("url", "status").collect()}
    assert slim == full


def test_global_sequence_with_total_counts(spark):
    from goscrape_spark.operators.ranking import global_sequence_with_total

    df = spark.range(100).select(F.col("id").cast("long").alias("k"))
    out, total = global_sequence_with_total(df, ["k"], start=7, parts=8)
    assert total == 100
    seqs = [r.seq for r in out.orderBy("k").collect()]
    assert seqs == list(range(7, 107))
    # small path: window, no total
    out2, total2 = global_sequence_with_total(df, ["k"], start=0, parts=2)
    assert total2 is None and out2.count() == 100

"""Crawler feature coverage: bloom pre-filter parity, robots, politeness
schedule, checkpoint commit + resume state."""

import pytest
from pyspark.sql import functions as F

from goscrape_spark.config import CrawlConfig
from goscrape_spark.plans.crawl import crawl
from goscrape_spark.plans.simulator import crawl_sequential
from goscrape_spark.sources.fixtures import SITE_LINKS, SITE_LINKS_START, pages_df


def test_bloom_parity(spark):
    sim = crawl_sequential(CrawlConfig(url=SITE_LINKS_START), SITE_LINKS)
    res = crawl(spark, CrawlConfig(url=SITE_LINKS_START),
                pages_df(spark, SITE_LINKS), use_bloom=True)
    assert res.seen_set() == sim.seen
    assert [r.url for r in res.ordered_fetches()] == \
           [f.url for f in sim.fetches]


def test_robots_blocks_and_poisons(spark):
    pages = {
        "https://example.org/": '<a href="/private/x">p</a><a href="/pub">q</a>',
        "https://example.org/pub": '<a href="/private/x">again</a>',
    }
    cfg = CrawlConfig(url="https://example.org/",
                      robots_txt={"example.org":
                                  "User-agent: *\nDisallow: /private\n"})
    res = crawl(spark, cfg, pages_df(spark, pages))
    urls = [r.url for r in res.ordered_fetches()]
    assert "https://example.org/private/x" not in urls
    assert "https://example.org/pub" in urls
    # blocked URL still in seen (insert-before-reject, like F7/F8)
    assert "/private/x" in res.seen_set()


def test_politeness_schedule_in_fetch_log(spark):
    pages = {
        "https://example.org/": ('<img src="https://cdn.x.com/a.png">'
                                 '<img src="https://cdn.x.com/b.png">'
                                 '<img src="https://cdn.y.com/c.png">'),
        "https://cdn.x.com/a.png": "1",
        "https://cdn.x.com/b.png": "2",
        "https://cdn.y.com/c.png": "3",
    }
    cfg = CrawlConfig(url="https://example.org/", politeness_delay_ms=2000)
    res = crawl(spark, cfg, pages_df(spark, pages))
    rows = {r.url: r.not_before_ms for r in res.fetch_log.collect()
            if r.kind == "asset"}
    # per-host spacing: x.com assets 0/2000, y.com independent 0
    xs = sorted(v for u, v in rows.items() if "cdn.x.com" in u)
    ys = [v for u, v in rows.items() if "cdn.y.com" in u]
    assert xs == [0, 2000]
    assert ys == [0]


def test_checkpoint_commit_and_resume_state(spark, tmp_path):
    from goscrape_spark.sources.storage import CrawlCheckpoint

    ckpt = CrawlCheckpoint(path=str(tmp_path / "ckpt"))
    res = crawl(spark, CrawlConfig(url=SITE_LINKS_START),
                pages_df(spark, SITE_LINKS), checkpoint=ckpt)
    last = ckpt.max_committed_epoch()
    assert last == res.epochs - 1
    state = ckpt.resume_state(spark)
    assert state is not None
    next_epoch, frontier, seen = state
    assert next_epoch == res.epochs
    assert frontier.count() == 0  # crawl finished; final frontier empty
    m = ckpt.metrics()
    assert len(m) == res.epochs and all("frontier_rows" in x for x in m)
    # the row counts the crawl passes in (observed on its own checkpoints)
    # match what was committed
    for e, x in enumerate(m):
        edir = f"{ckpt.path}/epoch={e}"
        assert x["frontier_rows"] == \
            spark.read.parquet(f"{edir}/frontier").count()
        assert x["seen_delta_rows"] == \
            spark.read.parquet(f"{edir}/seen_delta").count()


def test_commit_epoch_counts_only_missing_metrics(spark, tmp_path,
                                                  monkeypatch):
    """commit_epoch recounts only the row counts its caller did not pass:
    with both given it runs no count() job."""
    from goscrape_spark.session import local_frame
    from goscrape_spark.sources.storage import CrawlCheckpoint

    frontier = local_frame(spark, [("https://x.org/a", 1, 1)],
                           "url string, depth int, seq bigint")
    delta = local_frame(spark, [("/a", 1), ("/b", 1)],
                        "dedup_key string, epoch int")

    def no_count(self):
        raise AssertionError("commit_epoch ran a count() job")

    ckpt = CrawlCheckpoint(path=str(tmp_path / "ckpt3"))
    with monkeypatch.context() as mp:
        mp.setattr(type(frontier), "count", no_count)
        ckpt.commit_epoch(0, frontier=frontier, seen_delta=delta,
                          metrics={"frontier_rows": 1, "seen_delta_rows": 2})
    # without the numbers it counts them itself
    ckpt.commit_epoch(1, frontier=frontier, seen_delta=delta)
    assert [(x["frontier_rows"], x["seen_delta_rows"])
            for x in ckpt.metrics()] == [(1, 2), (1, 2)]


def test_killed_run_resumes_and_completes(spark, tmp_path):
    """north_rule: a killed run resumes at the last committed frontier epoch
    and finishes with the same final seen set as an uninterrupted run."""
    from goscrape_spark.sources.storage import CrawlCheckpoint

    full = crawl(spark, CrawlConfig(url=SITE_LINKS_START),
                 pages_df(spark, SITE_LINKS))

    ckpt = CrawlCheckpoint(path=str(tmp_path / "ckpt2"))
    partial = crawl(spark, CrawlConfig(url=SITE_LINKS_START),
                    pages_df(spark, SITE_LINKS), checkpoint=ckpt,
                    max_epochs=1)  # "killed" after epoch 0
    assert partial.epochs == 1
    assert ckpt.max_committed_epoch() == 0

    resumed = crawl(spark, CrawlConfig(url=SITE_LINKS_START),
                    pages_df(spark, SITE_LINKS), checkpoint=ckpt,
                    resume=True)
    assert resumed.seen_set() == full.seen_set()
    # the resumed run processed only the remaining epochs
    resumed_urls = [r.url for r in resumed.ordered_fetches()]
    full_urls = [r.url for r in full.ordered_fetches()]
    assert resumed_urls == full_urls[len([r for r in partial.ordered_fetches()]):]

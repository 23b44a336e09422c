"""The seed's admission check and the next frontier's sequence.

The seed passes the same checks as every other candidate, with the same
(Java) regex engine and depth rule; and the next frontier's global
sequence numbers the pages it orders densely, in crawl order."""

import pytest

from goscrape_spark.config import CrawlConfig
from goscrape_spark.plans.crawl import Crawler, crawl
from goscrape_spark.plans.simulator import crawl_sequential
from goscrape_spark.sources.fixtures import pages_df

SEED = "https://example.org/"


def test_seed_check_uses_the_crawls_regex_engine(spark):
    # \p{Alpha} is Java (and RE2) syntax; Python's re rejects it
    pages = {SEED: '<a href="/a">a</a><a href="/1">1</a>',
             SEED + "a": "", SEED + "1": ""}
    res = crawl(spark, CrawlConfig(url=SEED, includes=[r"\p{Alpha}|^/$"]),
                pages_df(spark, pages))
    assert [r.url for r in res.ordered_fetches()] == [SEED, SEED + "a"]


def test_excluded_seed_raises_before_any_request(spark):
    c = Crawler(spark, CrawlConfig(url=SEED, excludes=["^/$"]),
                pages_df(spark, {SEED: ""}))
    requested = []
    source = c._source
    c._source = lambda rows, order: (requested.append(rows)
                                     or source(rows, order))
    with pytest.raises(ValueError,
                       match="start page is excluded from downloading"):
        c.run()
    assert sum(rows.count() for rows in requested) == 0


def test_negative_depth_matches_the_oracle(spark):
    # checks.go:57-60 rejects a page only when its parent's depth EQUALS
    # the limit, so a negative limit never rejects one
    pages = {SEED: '<a href="/a">a</a>', SEED + "a": '<a href="/b">b</a>',
             SEED + "b": ""}
    cfg = CrawlConfig(url=SEED, max_depth=-1)
    sim = crawl_sequential(cfg, pages)
    res = crawl(spark, cfg, pages_df(spark, pages))
    assert [r.url for r in res.ordered_fetches()] == \
        [f.url for f in sim.fetches] == [SEED, SEED + "a", SEED + "b"]


def test_wide_next_frontier_is_sequenced_in_crawl_order(spark, monkeypatch):
    # one seed page linking 6,000 pages: the next frontier's sequence
    # numbers all of them 1..6000 in link order
    n = 6000
    links = "".join(f'<a href="/p{i:05d}">x</a>' for i in range(n))
    frames: dict = {}
    ckpt = Crawler._localckpt

    def keep(self, df, label=""):
        frames[label] = ckpt(self, df, label)
        return frames[label]

    monkeypatch.setattr(Crawler, "_localckpt", keep)
    crawl(spark, CrawlConfig(url=SEED), pages_df(spark, {SEED: links}),
          max_epochs=1)
    rows = frames["next_pages"].orderBy("seq").collect()
    assert [r.seq for r in rows] == list(range(1, n + 1))
    assert [r.url for r in rows] == [f"{SEED}p{i:05d}" for i in range(n)]

"""Crawler feature coverage: bloom pre-filter parity, robots, politeness
schedule, the checkpoint's epoch record, and crawls killed after epoch 0
and resumed from it."""

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
    import json

    from goscrape_spark.sources.storage import CrawlCheckpoint

    ckpt = CrawlCheckpoint(path=str(tmp_path / "ckpt"))
    assert ckpt.resume(spark) is None  # nothing committed yet
    res = crawl(spark, CrawlConfig(url=SITE_LINKS_START),
                pages_df(spark, SITE_LINKS), checkpoint=ckpt)
    last = ckpt.max_committed_epoch()
    assert last == res.epochs - 1
    metrics, frontier, seen, written = ckpt.resume(spark)
    assert metrics["epoch"] == last
    assert frontier.count() == 0  # crawl finished; final frontier empty
    assert {r.dedup_key for r in seen.collect()} == res.seen_set()
    assert {r.file_path for r in written.collect()} == \
        {r.file_path for r in res.output.collect()}
    # the row counts the crawl passes in (observed on its own checkpoints)
    # match what was committed
    for e in range(res.epochs):
        edir = f"{ckpt.path}/epoch={e}"
        with open(f"{edir}/metrics.json") as f:
            x = json.load(f)
        assert list(x) == ["epoch", "next_seq", "seed_host",
                           "frontier_rows", "seen_delta_rows"]
        assert x["epoch"] == e
        assert x["frontier_rows"] == \
            spark.read.parquet(f"{edir}/frontier").count()
        assert x["seen_delta_rows"] == \
            spark.read.parquet(f"{edir}/seen_delta").count()
    assert metrics == x


def test_commit_epoch_runs_no_count(spark, tmp_path, monkeypatch):
    """commit_epoch takes its row counts from the caller, which observed
    them on its own checkpoints: it runs no count() job."""
    import json

    from goscrape_spark.session import local_frame
    from goscrape_spark.sources.storage import CrawlCheckpoint

    frontier = local_frame(spark, [("https://x.org/a", 1, 1)],
                           "url string, depth int, seq bigint")
    delta = local_frame(spark, [("/a", 1), ("/b", 1)],
                        "dedup_key string, epoch int")
    written = local_frame(spark, [("x.org/a",), ("x.org/a",)],
                          "file_path string")

    def no_count(self):
        raise AssertionError("commit_epoch ran a count() job")

    ckpt = CrawlCheckpoint(path=str(tmp_path / "ckpt3"))
    with monkeypatch.context() as mp:
        mp.setattr(type(frontier), "count", no_count)
        ckpt.commit_epoch(0, frontier=frontier, seen_delta=delta,
                          written_delta=written,
                          metrics={"frontier_rows": 1, "seen_delta_rows": 2})
    with open(f"{ckpt.path}/epoch=0/metrics.json") as f:
        assert json.load(f) == {"epoch": 0, "frontier_rows": 1,
                                "seen_delta_rows": 2}
    # the written delta is stored once per path
    assert [r.file_path for r in spark.read.parquet(
        f"{ckpt.path}/epoch=0/written_delta").collect()] == ["x.org/a"]


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


def _resumed_after_epoch_0(spark, tmp_path, cfg, pages):
    """A crawl killed after epoch 0 (``max_epochs=1``) and resumed from
    its checkpoint: ``(partial, resumed)``."""
    from goscrape_spark.sources.storage import CrawlCheckpoint

    ckpt = CrawlCheckpoint(path=str(tmp_path / "ckpt"))
    partial = crawl(spark, cfg, pages_df(spark, pages), checkpoint=ckpt,
                    max_epochs=1)
    assert ckpt.max_committed_epoch() == 0
    resumed = crawl(spark, cfg, pages_df(spark, pages), checkpoint=ckpt,
                    resume=True)
    return partial, resumed


def _order(res):
    return [(r.url, r.kind, r.status) for r in res.ordered_fetches()]


def test_resume_after_depth0_redirect(spark, tmp_path):
    """The seed redirects to another host: the resumed crawl keys and
    admits pages against the rebased host, like the uninterrupted one."""
    from goscrape_spark.plans.simulator import PageFixture

    pages = {
        "https://old.org/": PageFixture(
            body=b'<a href="https://new.org/p">p</a><img src="/i.png">',
            resp_url="https://new.org/"),
        "https://new.org/p": PageFixture(
            body=b'<a href="/q">q</a><a href="/">home</a>'
                 b'<img src="https://new.org/i.png">'),
        "https://new.org/q": PageFixture(
            body=b'<a href="https://old.org/r">r</a><a href="/p">p</a>'),
        "https://new.org/i.png": PageFixture(body=b"img"),
    }
    cfg = CrawlConfig(url="https://old.org/")
    sim = crawl_sequential(cfg, pages)
    full = crawl(spark, cfg, pages_df(spark, pages))
    partial, resumed = _resumed_after_epoch_0(spark, tmp_path, cfg, pages)
    assert resumed.seed_host == "new.org"
    assert resumed.seen_set() == full.seen_set() == sim.seen
    sim_order = [(f.url, f.kind, f.status) for f in sim.fetches]
    assert _order(partial) + _order(resumed) == _order(full) == sim_order
    assert ("https://new.org/q", "page", "ok") in _order(resumed)


def test_file_exists_after_resume(spark, tmp_path):
    """Epoch 0 writes the stylesheet's output path; epoch 1 links the same
    path under another query.  The resumed crawl starts from the committed
    written paths, so it never fetches ``?v=2``."""
    pages = {
        "https://example.org/": ('<link href="https://cdn.x/s.css?v=1" '
                                 'rel="stylesheet"><a href="/p">p</a>'),
        "https://example.org/p": ('<link href="https://cdn.x/s.css?v=2" '
                                  'rel="stylesheet">'),
        "https://cdn.x/s.css?v=1": "h1 { color: red; }",
        "https://cdn.x/s.css?v=2": "h1 { color: blue; }",
    }
    cfg = CrawlConfig(url="https://example.org/")
    full = crawl(spark, cfg, pages_df(spark, pages))
    partial, resumed = _resumed_after_epoch_0(spark, tmp_path, cfg, pages)
    fetched = [u for u, _, _ in _order(partial) + _order(resumed)]
    assert "https://cdn.x/s.css?v=1" in fetched
    assert "https://cdn.x/s.css?v=2" not in fetched
    assert _order(partial) + _order(resumed) == _order(full)

    def tree(*results):
        files = {}
        for res in results:  # later epochs overwrite, as on disk
            files.update((r.file_path, bytes(r.body))
                         for r in res.output.collect())
        return files

    assert tree(partial, resumed) == tree(full)

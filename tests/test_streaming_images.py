"""Continuous-crawl streaming wrapper + image recode operator."""

import time

from goscrape_spark.config import CrawlConfig
from goscrape_spark.operators.images import recode_image_bytes, recode_images_df
from goscrape_spark.sources.fixtures import SITE_LINKS, pages_df
from goscrape_spark.streaming.continuous import ContinuousCrawl


def test_recode_passthrough_without_pil(spark):
    png = b"\x89PNG\r\n\x1a\n" + b"x" * 100
    # quality 0 disables recoding always (scraper/scraper.go:132-135)
    assert recode_image_bytes(png, 0) == png
    # an undecodable PNG passes through unchanged
    assert recode_image_bytes(png, 80) == png
    df = spark.createDataFrame([("u", bytearray(png))], "url string, body binary")
    out = recode_images_df(df, quality=80).collect()
    assert len(out) == 1 and len(bytes(out[0].body)) <= len(png)


def test_continuous_crawl_processes_seed_files(spark, tmp_path):
    seeds = tmp_path / "seeds"
    seeds.mkdir()
    ckpt = tmp_path / "sckpt"
    pages = pages_df(spark, SITE_LINKS)

    cc = ContinuousCrawl(spark=spark, pages=pages,
                         base_config=CrawlConfig(url="https://example.org/"))
    (seeds / "s1.txt").write_text("https://example.org/#fragment\n")
    q = cc.start(str(seeds), str(ckpt))
    try:
        q.processAllAvailable()
        assert len(cc.results) == 1
        _, seed, res = cc.results[0]
        assert res.seen_set() >= {"/", "/page2", "/sub", "/style.css"}
        # second batch: a new seed file; already-seen URLs handled per-crawl
        (seeds / "s2.txt").write_text("https://example.org/page2\n")
        q.processAllAvailable()
        assert len(cc.results) == 2
        assert cc.seen_keys is not None and cc.seen_keys.count() >= 4
    finally:
        q.stop()

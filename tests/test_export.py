"""Offline-tree export: the crawl output materializes as browsable files."""

import os

from goscrape_spark.config import CrawlConfig
from goscrape_spark.plans.crawl import crawl
from goscrape_spark.sources.export import export_output_tree
from goscrape_spark.sources.fixtures import SITE_CSS, pages_df


def test_export_tree(spark, tmp_path):
    res = crawl(spark, CrawlConfig(url="https://example.org/"),
                pages_df(spark, SITE_CSS))
    root = str(tmp_path / "site")
    n = export_output_tree(res.output, root)
    assert n >= 4
    index = os.path.join(root, "example.org", "index.html")
    assert os.path.exists(index)
    content = open(index).read()
    assert "url('background.jpg')" in content
    assert os.path.exists(os.path.join(root, "example.org", "img", "bg.jpg"))
    assert os.path.exists(os.path.join(root, "example.org", "bg3.jpg"))


def test_export_keeps_existing_assets_and_overwrites_pages(spark, tmp_path):
    # a re-run into the same directory: the reference skips an asset whose
    # file exists (download.go:76-79) but always rewrites pages
    # (scraper.go:266)
    root = tmp_path / "site"
    (root / "example.org" / "img").mkdir(parents=True)
    (root / "example.org" / "index.html").write_bytes(b"stale page")
    (root / "example.org" / "img" / "bg.jpg").write_bytes(b"stale asset")
    output = spark.createDataFrame(
        [("example.org/index.html", bytearray(b"new page"), True),
         ("example.org/img/bg.jpg", bytearray(b"new asset"), False),
         ("example.org/style.css", bytearray(b"new css"), False)],
        "file_path string, body binary, is_page boolean")
    assert export_output_tree(output, str(root)) == 2
    assert (root / "example.org" / "index.html").read_bytes() == b"new page"
    assert (root / "example.org" / "img" / "bg.jpg").read_bytes() \
        == b"stale asset"
    assert (root / "example.org" / "style.css").read_bytes() == b"new css"

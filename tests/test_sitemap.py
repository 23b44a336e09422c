"""Sitemap-seeded frontier (sitemaps.org; north_rule extension — the
reference has no sitemap support)."""

from pyspark.sql import functions as F

from goscrape_spark.functions.robotstxt import parse_sitemap_urls
from goscrape_spark.functions.sitemap import (
    col_is_sitemap_index,
    col_sitemap_locs,
    parse_sitemap,
)

URLSET = """<?xml version="1.0" encoding="UTF-8"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <url><loc>http://a.org/page?x=1&amp;y=2</loc><lastmod>2026-01-01</lastmod></url>
  <url><loc>
      http://a.org/spread
  </loc></url>
  <url><loc><![CDATA[http://a.org/cdata?a=1&b=2]]></loc></url>
</urlset>
"""

INDEX = """<?xml version="1.0"?>
<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <sitemap><loc>http://a.org/sm1.xml</loc></sitemap>
  <sitemap><loc>http://a.org/sm2.xml</loc></sitemap>
</sitemapindex>
"""


def test_parse_sitemap_urlset():
    is_idx, locs = parse_sitemap(URLSET)
    assert not is_idx
    assert locs == ["http://a.org/page?x=1&y=2", "http://a.org/spread",
                    "http://a.org/cdata?a=1&b=2"]


def test_parse_sitemap_index():
    is_idx, locs = parse_sitemap(INDEX)
    assert is_idx
    assert locs == ["http://a.org/sm1.xml", "http://a.org/sm2.xml"]


def test_column_exprs_agree_with_reference(spark):
    docs = [URLSET, INDEX, "<urlset></urlset>", "not xml at all"]
    df = spark.createDataFrame([(d,) for d in docs], "body string")
    rows = df.select(col_sitemap_locs(F.col("body")).alias("locs"),
                     col_is_sitemap_index(F.col("body")).alias("idx")) \
             .collect()
    for doc, r in zip(docs, rows):
        want_idx, want_locs = parse_sitemap(doc)
        assert (r.idx, list(r.locs)) == (want_idx, want_locs), doc[:40]


def test_parse_sitemap_urls_from_robots():
    text = ("User-agent: *\nDisallow: /x\n"
            "Sitemap: http://a.org/sitemap.xml\n"
            "# comment\nSitemap: http://a.org/sm2.xml  \nSitemap:\n")
    assert parse_sitemap_urls(text) == [
        "http://a.org/sitemap.xml", "http://a.org/sm2.xml"]


def _mock_pages(base: str, cdn: str) -> dict[str, str]:
    return {
        f"{base}/": '<html><a href="/linked.html">l</a></html>',
        f"{base}/linked.html": "<html>linked</html>",
        f"{base}/sm-a.html": "<html>from sitemap a</html>",
        f"{base}/sm-b.html": "<html>from sitemap b</html>",
        f"{base}/sitemap.xml":
            "<urlset>"
            f"<url><loc>{base}/sm-b.html</loc></url>"
            f"<url><loc>{base}/sm-a.html</loc></url>"
            f"<url><loc>{cdn}/other.html</loc></url>"
            "</urlset>",
    }


def test_mock_crawl_sitemap_fallback_probe(spark):
    """use_sitemaps with no robots Sitemap lines probes /sitemap.xml; locs
    become depth-1 page candidates AFTER the seed's own links, ordered
    lexicographically; cross-host locs enter seen (insert-before-reject)
    but are never fetched (F5)."""
    from goscrape_spark.config import CrawlConfig
    from goscrape_spark.plans.crawl import crawl
    from goscrape_spark.sources.fixtures import pages_df

    base, cdn = "http://sm.example", "http://cdn.example"
    cfg = CrawlConfig(url=f"{base}/", use_sitemaps=True)
    res = crawl(spark, cfg, pages_df(spark, _mock_pages(base, cdn)))
    order = [r.url for r in res.ordered_fetches() if r.kind == "page"]
    assert order == [f"{base}/", f"{base}/linked.html",
                     f"{base}/sm-a.html", f"{base}/sm-b.html"]
    assert f"{cdn}/other.html" in res.seen_set()


def test_mock_crawl_sitemap_index_recursion(spark):
    """A robots Sitemap: line pointing at a <sitemapindex> fans out to the
    child urlsets (bounded rounds); duplicate locs collapse."""
    from goscrape_spark.config import CrawlConfig
    from goscrape_spark.plans.crawl import crawl
    from goscrape_spark.sources.fixtures import pages_df

    base = "http://smi.example"
    pages = {
        f"{base}/": "<html>no links</html>",
        f"{base}/p1.html": "<html>1</html>",
        f"{base}/p2.html": "<html>2</html>",
        f"{base}/idx.xml":
            "<sitemapindex>"
            f"<sitemap><loc>{base}/sm1.xml</loc></sitemap>"
            f"<sitemap><loc>{base}/sm2.xml</loc></sitemap>"
            "</sitemapindex>",
        f"{base}/sm1.xml":
            f"<urlset><url><loc>{base}/p1.html</loc></url></urlset>",
        f"{base}/sm2.xml":
            "<urlset>"
            f"<url><loc>{base}/p2.html</loc></url>"
            f"<url><loc>{base}/p1.html</loc></url>"  # dup collapses
            "</urlset>",
    }
    cfg = CrawlConfig(
        url=f"{base}/", use_sitemaps=True,
        robots_txt={"smi.example":
                    f"User-agent: *\nSitemap: {base}/idx.xml\n"})
    res = crawl(spark, cfg, pages_df(spark, pages))
    order = [r.url for r in res.ordered_fetches() if r.kind == "page"]
    assert order == [f"{base}/", f"{base}/p1.html", f"{base}/p2.html"]


def test_live_sitemap_seeding_without_robots_rules(spark):
    """--sitemaps alone: robots.txt is read only to DISCOVER sitemaps —
    its Disallow rules are NOT installed; sitemap pages are crawled."""
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    from goscrape_spark.config import CrawlConfig
    from goscrape_spark.plans.crawl import crawl

    log: list[str] = []
    site: dict[str, bytes] = {}

    class H(BaseHTTPRequestHandler):
        def do_GET(self):
            log.append(self.path)
            body = site.get(self.path)
            if body is None:
                self.send_response(404)
                self.end_headers()
                return
            self.send_response(200)
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = HTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_port}"
    site.update({
        "/robots.txt": (f"User-agent: *\nDisallow: /deep/\n"
                        f"Sitemap: {base}/maps/idx.xml\n").encode(),
        "/": b"<html>no links</html>",
        "/maps/idx.xml":
            f"<sitemapindex><sitemap><loc>{base}/maps/sm1.xml</loc>"
            "</sitemap></sitemapindex>".encode(),
        "/maps/sm1.xml":
            f"<urlset><url><loc>{base}/deep/hidden.html</loc></url>"
            "</urlset>".encode(),
        "/deep/hidden.html": b"<html>reachable only via sitemap</html>",
    })
    try:
        cfg = CrawlConfig(url=f"{base}/", use_sitemaps=True)
        res = crawl(spark, cfg, pages=None)
        pages = {r.url for r in res.ordered_fetches() if r.kind == "page"}
        # Disallow /deep/ was NOT applied (no --robots): the page crawls
        assert pages == {f"{base}/", f"{base}/deep/hidden.html"}
        assert log.count("/robots.txt") == 1
        assert log.count("/maps/idx.xml") == 1
        assert log.count("/maps/sm1.xml") == 1
    finally:
        srv.shutdown()


def test_live_sitemaps_keep_politeness_spacing(spark):
    """Two ``Sitemap:`` lines on one host with politeness on: the sitemap
    fetch is scheduled like every other fetch, so the second sitemap is
    requested no sooner than the delay after the first (20 ms slack)."""
    import threading
    import time
    from http.server import BaseHTTPRequestHandler, HTTPServer

    from goscrape_spark.config import CrawlConfig
    from goscrape_spark.plans.crawl import crawl

    delay_ms = 300
    log: list = []
    site: dict[str, bytes] = {}

    class H(BaseHTTPRequestHandler):
        def do_GET(self):
            log.append((self.path, time.monotonic()))
            body = site.get(self.path)
            if body is None:
                self.send_response(404)
                self.end_headers()
                return
            self.send_response(200)
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = HTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_port}"
    site.update({
        "/robots.txt": (f"User-agent: *\nSitemap: {base}/sm1.xml\n"
                        f"Sitemap: {base}/sm2.xml\n").encode(),
        "/": b"<html>no links</html>",
        "/sm1.xml": f"<urlset><url><loc>{base}/p1.html</loc></url>"
                    "</urlset>".encode(),
        "/sm2.xml": f"<urlset><url><loc>{base}/p2.html</loc></url>"
                    "</urlset>".encode(),
        "/p1.html": b"<html>p1</html>", "/p2.html": b"<html>p2</html>",
    })
    try:
        cfg = CrawlConfig(url=f"{base}/", use_sitemaps=True,
                          politeness_delay_ms=delay_ms)
        res = crawl(spark, cfg, pages=None)
    finally:
        srv.shutdown()
    pages = {r.url for r in res.ordered_fetches() if r.kind == "page"}
    assert pages == {f"{base}/", f"{base}/p1.html", f"{base}/p2.html"}
    maps = [(p, t) for p, t in log if p.endswith(".xml")]
    assert [p for p, _ in maps] == ["/sm1.xml", "/sm2.xml"]
    assert maps[1][1] - maps[0][1] >= delay_ms / 1000 - 0.02, maps


def test_mock_crawl_sitemap_discovered_from_fixture_robots(spark):
    """use_sitemaps in MOCK mode discovers Sitemap: lines from the
    fixture's /robots.txt (no robots_txt config needed) — and without
    fetch_robots the robots RULES are not installed, same as live."""
    from goscrape_spark.config import CrawlConfig
    from goscrape_spark.plans.crawl import crawl
    from goscrape_spark.sources.fixtures import pages_df

    base = "http://smrob.example"
    pages = {
        f"{base}/robots.txt": ("User-agent: *\nDisallow: /deep/\n"
                               f"Sitemap: {base}/sm.xml\n"),
        f"{base}/": "<html>no links</html>",
        f"{base}/sm.xml":
            f"<urlset><url><loc>{base}/deep/p.html</loc></url></urlset>",
        f"{base}/deep/p.html": "<html>sitemap-only page</html>",
    }
    cfg = CrawlConfig(url=f"{base}/", use_sitemaps=True)
    res = crawl(spark, cfg, pages_df(spark, pages))
    order = [r.url for r in res.ordered_fetches() if r.kind == "page"]
    # Disallow /deep/ NOT applied (no fetch_robots); sitemap page crawled
    assert order == [f"{base}/", f"{base}/deep/p.html"]


def test_mock_crawl_sitemap_invalid_utf8_body_is_tolerated(spark):
    """A sitemap body with invalid UTF-8 (e.g. a gzipped .xml.gz) must not
    abort the crawl: the binary->string cast substitutes U+FFFD and the
    file simply yields no locs (Spark 4's decode() would THROW)."""
    from goscrape_spark.config import CrawlConfig
    from goscrape_spark.plans.crawl import crawl
    from goscrape_spark.sources.fixtures import pages_df

    base = "http://badsm.example"
    pages = {
        f"{base}/robots.txt": (f"User-agent: *\nSitemap: {base}/sm.xml.gz\n"
                               f"Sitemap: {base}/sm.xml\n"),
        f"{base}/": "<html>no links</html>",
        # gzip magic + invalid continuation bytes
        f"{base}/sm.xml.gz": bytes([0x1F, 0x8B, 0x08, 0xFF, 0xFE, 0x80]),
        f"{base}/sm.xml":
            f"<urlset><url><loc>{base}/ok.html</loc></url></urlset>",
        f"{base}/ok.html": "<html>ok</html>",
    }
    cfg = CrawlConfig(url=f"{base}/", use_sitemaps=True)
    res = crawl(spark, cfg, pages_df(spark, pages))
    order = [r.url for r in res.ordered_fetches() if r.kind == "page"]
    assert order == [f"{base}/", f"{base}/ok.html"]


def test_mock_crawl_sitemap_index_cycle_terminates(spark):
    """Sitemap indexes referencing each other (A -> B -> A) must not loop:
    every fetched sitemap URL enters the done-set and is anti-joined away;
    locs with fragments are stripped like any candidate URL."""
    from goscrape_spark.config import CrawlConfig
    from goscrape_spark.plans.crawl import crawl
    from goscrape_spark.sources.fixtures import pages_df

    base = "http://smcycle.example"
    pages = {
        f"{base}/": "<html>no links</html>",
        f"{base}/a.xml":
            "<sitemapindex>"
            f"<sitemap><loc>{base}/b.xml</loc></sitemap>"
            f"<sitemap><loc>{base}/a.xml</loc></sitemap>"  # self-ref
            "</sitemapindex>",
        f"{base}/b.xml":
            "<sitemapindex>"
            f"<sitemap><loc>{base}/a.xml</loc></sitemap>"  # back-ref
            f"<sitemap><loc>{base}/leaf.xml</loc></sitemap>"
            "</sitemapindex>",
        f"{base}/leaf.xml":
            f"<urlset><url><loc>{base}/p.html#frag</loc></url></urlset>",
        f"{base}/p.html": "<html>leaf page</html>",
    }
    cfg = CrawlConfig(
        url=f"{base}/", use_sitemaps=True,
        robots_txt={"smcycle.example":
                    f"User-agent: *\nSitemap: {base}/a.xml\n"})
    res = crawl(spark, cfg, pages_df(spark, pages))
    order = [r.url for r in res.ordered_fetches() if r.kind == "page"]
    assert order == [f"{base}/", f"{base}/p.html"]  # fragment stripped

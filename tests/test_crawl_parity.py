"""Spark crawler vs sequential oracle: exact seen-set + crawl-order parity
(BASELINE.json:metric) on the reference's own fixtures and on randomized
synthetic sites."""

import pytest

from goscrape_spark.config import CrawlConfig
from goscrape_spark.plans.crawl import crawl
from goscrape_spark.plans.simulator import crawl_sequential
from goscrape_spark.sources.fixtures import (
    SITE_ATTRS,
    SITE_CSS,
    SITE_LINKS,
    SITE_LINKS_START,
    pages_df,
)


def assert_parity(spark, config, pages, check_files=True):
    sim = crawl_sequential(config, pages)
    res = crawl(spark, config, pages_df(spark, pages))

    assert res.seen_set() == sim.seen, "URL-seen-set mismatch"

    sim_order = [(f.url, f.kind, f.status, f.depth) for f in sim.fetches]
    spark_order = [(r.url, r.kind, r.status, r.depth)
                   for r in res.ordered_fetches()]
    assert spark_order == sim_order, "crawl-order mismatch"

    if check_files:
        out = {r.file_path: bytes(r.body) for r in res.output.collect()}
        assert out == sim.files, "output file mismatch"
    return sim, res


def test_parity_site_links(spark):
    sim, res = assert_parity(spark, CrawlConfig(url=SITE_LINKS_START), SITE_LINKS)
    assert sim.seen == {"/", "/page2", "/sub", "/style.css"}


def test_parity_site_attrs(spark):
    assert_parity(spark, CrawlConfig(url="https://example.org/"), SITE_ATTRS)


def test_parity_site_css(spark):
    sim, res = assert_parity(spark, CrawlConfig(url="https://example.org/"),
                             SITE_CSS)
    out = {r.file_path: bytes(r.body) for r in res.output.collect()}
    content = out["example.org/index.html"].decode()
    assert "url('background.jpg')" in content
    assert "url('img/bg.jpg')" in content
    assert "url(bg3.jpg)" in content


def test_parity_depth_include_exclude(spark):
    pages = {
        "https://example.org/": ('<a href="/keep/a">x</a><a href="/drop/b">y</a>'
                                 '<a href="/keep/c/">z</a>'),
        "https://example.org/keep/a": '<a href="/keep/d">w</a>',
        "https://example.org/keep/c/": "",
        "https://example.org/keep/d": "",
    }
    assert_parity(spark, CrawlConfig(url="https://example.org/",
                                     includes=["^/$", "^/keep"]), pages)
    assert_parity(spark, CrawlConfig(url="https://example.org/",
                                     excludes=["drop"]), pages)
    assert_parity(spark, CrawlConfig(url="https://example.org/", max_depth=1),
                  pages)


def test_parity_redirect_rebase(spark):
    from goscrape_spark.plans.simulator import PageFixture
    pages = {
        "https://old.org/": PageFixture(
            body=b'<a href="https://new.org/p">x</a><img src="/i.png">',
            resp_url="https://new.org/"),
        "https://new.org/p": PageFixture(body=b""),
        "https://new.org/i.png": PageFixture(body=b"img"),
    }
    assert_parity(spark, CrawlConfig(url="https://old.org/"), pages)


def test_parity_retry_and_missing(spark):
    from goscrape_spark.plans.simulator import PageFixture
    pages = {
        "https://example.org/": ('<img src="/ok.png"><img src="/slow.png">'
                                 '<img src="/dead.png"><a href="/gone">g</a>'),
        "https://example.org/ok.png": PageFixture(body=b"x"),
        "https://example.org/slow.png": PageFixture(body=b"x", retry_after=4),
        "https://example.org/dead.png": PageFixture(body=b"x", retry_after=11),
    }
    sim, res = assert_parity(spark, CrawlConfig(url="https://example.org/"),
                             pages, check_files=False)
    by_url = {r.url: r for r in res.ordered_fetches()}
    assert by_url["https://example.org/slow.png"].attempts == 5
    assert by_url["https://example.org/dead.png"].status == "exhausted"
    assert by_url["https://example.org/gone"].status == "missing"


def test_parity_css_discovered_images(spark):
    # CSS files discovered via <link> pull in more images in the same epoch.
    # The reference enqueues the RAW url() src (css/css.go:44-52 passes the
    # unresolved url.Parse(src)), so relative refs like url(bg.png) and
    # root-relative url(/a.png) fail the http(s) scheme check and are never
    # fetched nor inserted into the seen set; only ABSOLUTE refs survive.
    pages = {
        "https://example.org/": ('<link href="/css/site.css" rel="stylesheet">'
                                 '<img src="/a.png">'),
        "https://example.org/css/site.css":
            "body { background: url(bg.png); } "
            "h1 { background: url(/a.png); } "
            "h2 { background: url(https://example.org/abs.png); } "
            "h3 { background: url(https://cdn.other.net/far.png); }",
        "https://example.org/css/bg.png": "p1",
        "https://example.org/a.png": "p2",
        "https://example.org/abs.png": "p3",
        "https://cdn.other.net/far.png": "p4",
    }
    sim, res = assert_parity(spark, CrawlConfig(url="https://example.org/"),
                             pages)
    # /a.png enters via the img tag (images stage); the css url() refs only
    # contribute the two absolute ones (same-host keyed by path, external by
    # full URL); bg.png and the raw /a.png ref are scheme-rejected.
    assert sim.seen == {"/", "/css/site.css", "/a.png", "/abs.png",
                        "https://cdn.other.net/far.png"}


def test_parity_css_behind_failed_same_path_stylesheet(spark):
    # two stylesheet links share one output path: ?v=1 is missing, so the
    # fileExists chain (download.go:76-79) fetches ?v=2, and the reference
    # runs the cssProcessor on the bytes it just fetched
    # (download.go:104-131): the ref in ?v=2 is fetched in the images stage
    pages = {
        "https://example.org/": (
            '<link href="https://cdn.x/s.css?v=1" rel="stylesheet">'
            '<link href="https://cdn.x/s.css?v=2" rel="stylesheet">'),
        "https://cdn.x/s.css?v=2":
            "body { background: url(https://cdn.x/bg.png); }",
        "https://cdn.x/bg.png": "BG",
    }
    sim, res = assert_parity(spark, CrawlConfig(url="https://example.org/"),
                             pages)
    assert [(f.url, f.status) for f in sim.fetches] == [
        ("https://example.org/", "ok"),
        ("https://cdn.x/s.css?v=1", "missing"),
        ("https://cdn.x/s.css?v=2", "ok"),
        ("https://cdn.x/bg.png", "ok"),
    ]


def test_parity_css_steal_chain_converges(spark):
    # /p{i} links /s{i}.css, whose only url() names s{i+1}.css.  The image a
    # parsed sheet discovers takes the next sheet's key from the link of a
    # later-considered page, so that sheet is fetched as an image and never
    # parsed, and the sheets alternate between link and image along two
    # chains (pages are considered p0, p1, p10..p19, p2..p9).  The CSS
    # fixpoint settles one more sheet per admission round, so it needs more
    # than 10 rounds here.  s19.css is an image, so /img.png is never
    # fetched.
    n = 20
    pages = {"https://example.org/": "".join(
        f'<a href="/p{i}">p</a>' for i in range(n))}
    for i in range(n):
        pages[f"https://example.org/p{i}"] = \
            f'<link href="/s{i}.css" rel="stylesheet">'
        nxt = f"s{i + 1}.css" if i + 1 < n else "img.png"
        pages[f"https://example.org/s{i}.css"] = \
            f"h1 {{ background: url(https://example.org/{nxt}); }}"
    pages["https://example.org/img.png"] = "IMG"
    sim, res = assert_parity(spark, CrawlConfig(url="https://example.org/"),
                             pages)
    stages = {f.url.rsplit("/", 1)[1]: f.stage for f in sim.fetches}
    assert "img.png" not in stages
    assert [stages[f"s{i}.css"] for i in range(n)] == ["link", "image"] * 10


def test_parity_file_exists_skip(spark):
    """fileExists admission (scraper/download.go:76-79): an admitted asset
    whose output path was already written is neither fetched nor logged.
    Covers: external query-string dups (same path, distinct dedup keys),
    the failure chain (first colliding fetch fails -> next IS fetched),
    a page write blocking a later-considered asset in the same epoch, and
    a page in a later epoch overwriting an earlier asset's file."""
    pages = {
        "https://example.org/": ('<img src="https://cdn.x.com/i.png?v=1">'
                                 '<img src="https://cdn.x.com/i.png?v=2">'
                                 '<img src="https://cdn.x.com/j.png?v=1">'
                                 '<img src="https://cdn.x.com/j.png?v=2">'
                                 '<a href="/a">a</a><a href="/b">b</a>'),
        "https://cdn.x.com/i.png?v=1": "I1",
        "https://cdn.x.com/i.png?v=2": "I2",
        # j.png?v=1 intentionally missing: the chain must fetch v=2
        "https://cdn.x.com/j.png?v=2": "J2",
        "https://example.org/a": "page a",
        "https://example.org/b": ('<img src="/a.html"><img src="/e.html">'
                                  '<a href="/e">e</a>'),
        "https://example.org/e.html": "E-ASSET",
        "https://example.org/e": "page e",
    }
    sim, res = assert_parity(spark, CrawlConfig(url="https://example.org/"),
                             pages)
    fetched = [(f.url, f.status) for f in sim.fetches]
    # i.png?v=2 collides with the already-written i.png path: skipped
    assert ("https://cdn.x.com/i.png?v=2", "ok") not in fetched
    assert ("https://cdn.x.com/i.png?v=1", "ok") in fetched
    # j chain: v=1 fails (no file written), so v=2 is fetched
    assert ("https://cdn.x.com/j.png?v=1", "missing") in fetched
    assert ("https://cdn.x.com/j.png?v=2", "ok") in fetched
    # page /a (seq before /b) wrote a.html, so /b's img /a.html is skipped
    assert not any(u == "https://example.org/a.html" for u, _ in fetched)
    # asset e.html fetched in epoch 1; page /e overwrites it in epoch 2
    assert sim.files["example.org/e.html"] != b"E-ASSET"


def test_parity_asset_vs_page_conflict(spark):
    # same URL as <link> asset on page 1 and <a> link on page 1: asset stage
    # considered first -> never fetched as page
    pages = {
        "https://example.org/": ('<link href="/style.css" rel="x">'
                                 '<a href="/style.css">s</a><a href="/p">p</a>'),
        "https://example.org/style.css": "",
        "https://example.org/p": '<a href="/">back</a>',
    }
    sim, res = assert_parity(spark, CrawlConfig(url="https://example.org/"),
                             pages)
    kinds = {(f.url, f.kind) for f in sim.fetches}
    assert ("https://example.org/style.css", "asset") in kinds


def test_parity_image_recode(spark):
    # image_quality=75 recodes the images queue (scraper/download.go:58-63):
    # an <img> and an absolute url() in a linked stylesheet.  The
    # <body background> is fetched by the earlier body stage, which does
    # not recode.  Each url appears once per epoch, so each output file
    # is one fetch's (recoded) bytes.
    import numpy as np

    from goscrape_spark.functions.imagecodec import png_encode

    png = png_encode(np.random.default_rng(0).integers(
        0, 256, (32, 32, 3), dtype=np.uint8))
    pages = {
        "https://example.org/": ('<link href="/s.css" rel="stylesheet">'
                                 '<body background="/bg.png">'
                                 '<img src="/img.png"></body>'),
        "https://example.org/s.css":
            "h1 { background: url(https://example.org/css.png); }",
        "https://example.org/img.png": png,
        "https://example.org/bg.png": png,
        "https://example.org/css.png": png,
    }
    sim, res = assert_parity(
        spark, CrawlConfig(url="https://example.org/", image_quality=75),
        pages)
    assert {f.url.rsplit("/", 1)[1] for f in sim.fetches
            if f.url.endswith(".png")} == {"img.png", "bg.png", "css.png"}
    out = {r.file_path.rsplit("/", 1)[1]: bytes(r.body)
           for r in res.output.collect()}
    assert out["img.png"] != png and out["img.png"][:2] == b"\xff\xd8"
    assert out["css.png"] != png
    assert out["bg.png"] == png

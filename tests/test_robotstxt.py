"""RFC 9309 robots.txt parsing + distributed matching (north_rule J4
extension — the reference has no robots support)."""

import pytest
from pyspark.sql import functions as F

from goscrape_spark.functions.robotstxt import (
    match_allowed,
    parse_robots,
    rule_regex,
)

EXAMPLE = """
# comments are stripped
User-agent: *
Disallow: /private/
Allow: /private/public.html
Disallow: /*.gif$
Disallow: /tmp

User-agent: goscrape
User-agent: otherbot
Disallow: /goscrape-only/
Allow: /

Sitemap: https://example.org/sitemap.xml
"""


def test_group_selection_specific_beats_star():
    rules = parse_robots(EXAMPLE, agent="goscrape")
    assert ("/goscrape-only/", False) in rules
    assert ("/private/", False) not in rules  # the * group does not merge


def test_group_selection_star_fallback():
    rules = parse_robots(EXAMPLE, agent="unrelatedbot")
    assert ("/private/", False) in rules
    assert ("/goscrape-only/", False) not in rules


def test_group_selection_longest_token_wins():
    text = ("User-agent: gos\nDisallow: /short/\n\n"
            "User-agent: goscrape\nDisallow: /long/\n")
    assert parse_robots(text, agent="goscrape-1.0") == [("/long/", False)]
    assert parse_robots(text, agent="gosomething") == [("/short/", False)]


def test_stacked_user_agents_share_rules():
    rules = parse_robots(EXAMPLE, agent="otherbot")
    assert ("/goscrape-only/", False) in rules


def test_empty_disallow_contributes_nothing():
    assert parse_robots("User-agent: *\nDisallow:\n") == []


def test_rule_regex_wildcards_and_anchor():
    assert rule_regex("/a*b$") == "^/a.*b$"
    assert rule_regex("/p") == "^/p"
    # regex metacharacters in paths stay literal
    assert rule_regex("/a+b?.c") == "^/a\\+b\\?\\.c"


@pytest.mark.parametrize("path,allowed", [
    ("/private/secret.html", False),
    ("/private/public.html", True),     # longer Allow beats Disallow
    ("/banner.gif", False),             # /*.gif$ wildcard + anchor
    ("/banner.gif.html", True),         # $ anchor does not match mid-path
    ("/tmpfile", False),                # prefix rule, no trailing slash
    ("/other", True),                   # no match -> allowed
])
def test_match_allowed_star_group(path, allowed):
    rules = parse_robots(EXAMPLE, agent="nobody")
    assert match_allowed(path, rules) is allowed


def test_allow_wins_length_tie():
    rules = [("/dir/", False), ("/dir/", True)]
    assert match_allowed("/dir/x", rules) is True


def test_distributed_matcher_agrees_with_reference(spark):
    """apply_robots_rfc must agree with match_allowed on every
    (host, path) — the sequential matcher is the oracle."""
    from goscrape_spark.operators.politeness import (
        apply_robots_rfc,
        rfc_rules_df,
    )

    parsed = {
        "a.org": parse_robots(EXAMPLE, agent="nobody"),
        "b.org": [("/x*y$", False), ("/x", True)],
        # host with no rules at all: everything allowed
    }
    paths = ["/private/secret.html", "/private/public.html", "/banner.gif",
             "/banner.gif.html", "/tmp", "/tmpfile", "/other", "/",
             "/xzzy", "/xzz", "/x", "/y"]
    cands = [(h, p) for h in ("a.org", "b.org", "c.org") for p in paths]
    df = spark.createDataFrame(cands, "host string, path string")
    got = {(r.host, r.path) for r in
           apply_robots_rfc(df, rfc_rules_df(spark, parsed)).collect()}
    want = {(h, p) for h, p in cands
            if match_allowed(p, parsed.get(h, []))}
    assert got == want


ROBOTS_SITE = {
    "/robots.txt": ("User-agent: goscrape\n"
                    "Disallow: /private/\n"
                    "Allow: /private/ok.html\n"
                    "Disallow: /*.zip$\n"),
    "/": ('<html><a href="/private/x.html">x</a>'
          '<a href="/private/ok.html">ok</a>'
          '<a href="/data.zip">z</a><a href="/pub.html">p</a></html>'),
    "/private/x.html": "<html>blocked</html>",
    "/private/ok.html": "<html>allowed by longer Allow</html>",
    "/data.zip": "<html>blocked by wildcard</html>",
    "/pub.html": "<html>public</html>",
}


@pytest.fixture(scope="module")
def robots_server():
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    class H(BaseHTTPRequestHandler):
        def do_GET(self):
            body = ROBOTS_SITE.get(self.path)
            if body is None:
                self.send_response(404)
                self.end_headers()
                return
            self.send_response(200)
            self.end_headers()
            self.wfile.write(body.encode())

        def log_message(self, *a):
            pass

    srv = HTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{srv.server_port}"
    srv.shutdown()


def test_live_crawl_fetches_and_honors_robots(spark, robots_server):
    """fetch_robots=True: the seed host's robots.txt is fetched once at
    crawl start and its RFC 9309 rules gate admission — blocked paths are
    never fetched but still enter seen (insert-before-reject, like
    F7/F8)."""
    from goscrape_spark.config import CrawlConfig
    from goscrape_spark.plans.crawl import crawl

    cfg = CrawlConfig(url=f"{robots_server}/",
                      user_agent="goscrape/6.6", fetch_robots=True)
    res = crawl(spark, cfg, pages=None)
    fetched = {r.url.split(robots_server)[1] for r in res.ordered_fetches()}
    assert fetched == {"/", "/private/ok.html", "/pub.html"}
    # robots-blocked URLs are still inserted before rejection
    assert {"/private/x.html", "/data.zip"} <= res.seen_set()


def test_mock_crawl_config_robots_txt(spark):
    """robots_txt config (host -> text) applies without any live fetch;
    group selection uses the configured User-Agent product token."""
    from goscrape_spark.config import CrawlConfig
    from goscrape_spark.plans.crawl import crawl
    from goscrape_spark.sources.fixtures import pages_df

    base = "http://robots.example"
    pages = {
        f"{base}/": ('<html><a href="/private/x.html">x</a>'
                     '<a href="/pub.html">p</a></html>'),
        f"{base}/private/x.html": "<html>blocked</html>",
        f"{base}/pub.html": "<html>public</html>",
    }
    cfg = CrawlConfig(
        url=f"{base}/", user_agent="goscrape/6.6",
        robots_txt={"robots.example": ROBOTS_SITE["/robots.txt"]})
    res = crawl(spark, cfg, pages_df(spark, pages))
    fetched = {r.url.split(base)[1] for r in res.ordered_fetches()}
    assert fetched == {"/", "/pub.html"}
    assert "/private/x.html" in res.seen_set()


def test_apply_robots_rfc_plan_shape(spark):
    """Scale shape: rules broadcast; the per-(host,path) verdict is a HASH
    aggregate (partial map-side combine below the exchange — skew-proof on
    hot hosts), not a window; no SortMergeJoin for the rule match."""
    from goscrape_spark.operators.politeness import (
        apply_robots_rfc,
        rfc_rules_df,
    )

    cands = spark.range(1000).select(
        F.concat(F.lit("h"), (F.col("id") % 3).cast("string"),
                 F.lit(".org")).alias("host"),
        F.concat(F.lit("/p/"), F.col("id").cast("string")).alias("path"))
    rules = rfc_rules_df(spark, {"h0.org": [("/p/1*", False)]})
    plan = (apply_robots_rfc(cands, rules)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan


# --- Crawl-delay (de-facto Bing/Yandex extension) ---------------------------


def test_parse_crawl_delay_group_selection():
    from goscrape_spark.functions.robotstxt import parse_crawl_delay

    text = ("User-agent: *\nCrawl-delay: 2\nDisallow: /x\n\n"
            "User-agent: goscrape\nCrawl-delay: 0.5\nAllow: /\n")
    assert parse_crawl_delay(text, agent="goscrape") == 0.5
    assert parse_crawl_delay(text, agent="otherbot") == 2.0


def test_parse_crawl_delay_invalid_and_absent():
    from goscrape_spark.functions.robotstxt import parse_crawl_delay

    assert parse_crawl_delay("User-agent: *\nCrawl-delay: soon\n") is None
    assert parse_crawl_delay("User-agent: *\nCrawl-delay: -1\n") is None
    assert parse_crawl_delay("User-agent: *\nDisallow: /x\n") is None
    assert parse_crawl_delay("") is None
    # a delay-only group is still a group (no rules needed)
    assert parse_crawl_delay("User-agent: *\nCrawl-delay: 3\n") == 3.0


def test_crawl_delay_does_not_leak_into_rules():
    from goscrape_spark.functions.robotstxt import parse_robots

    rules = parse_robots("User-agent: *\nCrawl-delay: 2\nDisallow: /x\n")
    assert rules == [("/x", False)]


def test_schedule_politeness_host_delays(spark):
    """Per-host Crawl-delay overrides the global delay where LARGER; the
    map lookup is a literal column expression (no join, no extra shuffle)."""
    from goscrape_spark.operators.politeness import schedule_politeness

    rows = [("a.org", i) for i in range(3)] + \
           [("b.org", i) for i in range(3)] + \
           [("c.org", i) for i in range(2)]
    df = (spark.createDataFrame(rows, "host string, parent_seq int")
          .withColumn("stage_rank", F.lit(0)).withColumn("sub_rank", F.lit(0))
          .withColumn("intra1", F.lit(0)).withColumn("intra2", F.lit(0)))
    out = schedule_politeness(df, 100,
                              host_delays_ms={"b.org": 700, "c.org": 30})
    got = {(r.host, r.parent_seq): r.not_before_ms for r in out.collect()}
    assert [got[("a.org", i)] for i in range(3)] == [0, 100, 200]
    assert [got[("b.org", i)] for i in range(3)] == [0, 700, 1400]
    # smaller robots delay than the global: global wins (max semantics)
    assert [got[("c.org", i)] for i in range(2)] == [0, 100]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan  # literal map, not a join


def test_mock_crawl_delay_schedules_pages(spark):
    """A robots.txt with ONLY a Crawl-delay (no rules) still paces the
    crawl: page fetch offsets in the log follow the per-host window."""
    from goscrape_spark.config import CrawlConfig
    from goscrape_spark.plans.crawl import crawl
    from goscrape_spark.sources.fixtures import pages_df

    base = "http://delay.example"
    pages = {
        f"{base}/": ('<html><a href="/a.html">a</a><a href="/b.html">b</a>'
                     '<a href="/c.html">c</a></html>'),
        f"{base}/a.html": "<html>a</html>",
        f"{base}/b.html": "<html>b</html>",
        f"{base}/c.html": "<html>c</html>",
    }
    cfg = CrawlConfig(
        url=f"{base}/", user_agent="goscrape/6.6",
        robots_txt={"delay.example": "User-agent: *\nCrawl-delay: 0.25\n"})
    res = crawl(spark, cfg, pages_df(spark, pages))
    by_epoch: dict[int, list[int]] = {}
    for r in res.ordered_fetches():
        if r.kind == "page":
            by_epoch.setdefault(r.epoch, []).append(r.not_before_ms)
    e_seed, e_links = sorted(by_epoch)
    assert by_epoch[e_seed] == [0]
    assert sorted(by_epoch[e_links]) == [0, 250, 500]


def test_live_crawl_delay_spacing_measured():
    """fetch_robots=True + a Crawl-delay directive: consecutive same-host
    page fetches are spaced >= the delay ON THE WIRE (same assertion style
    as test_politeness_spacing_measured_per_host)."""
    import threading
    import time
    from http.server import BaseHTTPRequestHandler, HTTPServer

    from goscrape_spark.config import CrawlConfig
    from goscrape_spark.plans.crawl import crawl
    from goscrape_spark.session import get_spark

    stamps: list[float] = []
    site = {
        "/robots.txt": "User-agent: *\nCrawl-delay: 0.3\n",
        "/": ('<html><a href="/a.html">a</a><a href="/b.html">b</a>'
              '<a href="/c.html">c</a></html>'),
        "/a.html": "<html>a</html>",
        "/b.html": "<html>b</html>",
        "/c.html": "<html>c</html>",
    }

    class H(BaseHTTPRequestHandler):
        def do_GET(self):
            if self.path != "/robots.txt":  # driver-side fetch, not paced
                stamps.append(time.monotonic())
            body = site.get(self.path)
            if body is None:
                self.send_response(404)
                self.end_headers()
                return
            self.send_response(200)
            self.end_headers()
            self.wfile.write(body.encode())

        def log_message(self, *a):
            pass

    srv = HTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        spark = get_spark("robots-delay-test")
        cfg = CrawlConfig(url=f"http://127.0.0.1:{srv.server_port}/",
                          fetch_robots=True)
        res = crawl(spark, cfg, pages=None)
        assert len(res.ordered_fetches()) == 4
        # epoch 2 fetches a,b,c in one host batch: two consecutive gaps
        epoch2 = sorted(stamps)[1:]
        gaps = [b - a for a, b in zip(epoch2, epoch2[1:])]
        assert len(gaps) == 2
        assert all(g >= 0.3 - 0.02 for g in gaps), gaps
    finally:
        srv.shutdown()


def test_live_cross_host_assets_honor_their_hosts_robots(spark):
    """fetch_robots=True gates cross-host ASSETS by their own host's
    robots.txt: each newly-discovered host's file is fetched exactly once
    (driver-side, cached), and its rules apply to that host's assets."""
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    from goscrape_spark.config import CrawlConfig
    from goscrape_spark.plans.crawl import crawl

    logs: dict[int, list[str]] = {}

    def serve(site: dict[str, bytes]):
        class H(BaseHTTPRequestHandler):
            def do_GET(self):
                logs.setdefault(self.server.server_port, []).append(self.path)
                body = site.get(self.path)
                if body is None:
                    self.send_response(404)
                    self.end_headers()
                    return
                self.send_response(200)
                ct = "image/png" if self.path.endswith(".png") else "text/html"
                self.send_header("Content-Type", ct)
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *a):
                pass

        srv = HTTPServer(("127.0.0.1", 0), H)
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        return srv

    cdn = serve({
        "/robots.txt": b"User-agent: *\nDisallow: /blocked/\n",
        "/blocked/img.png": b"\x89PNG-blocked",
        "/open/img.png": b"\x89PNG-open",
    })
    cdn_base = f"http://127.0.0.1:{cdn.server_port}"
    seed = serve({
        "/robots.txt": b"User-agent: *\nAllow: /\n",
        "/": (f'<html><img src="{cdn_base}/blocked/img.png">'
              f'<img src="{cdn_base}/open/img.png">'
              f'<a href="/p2.html">p2</a></html>').encode(),
        "/p2.html": f'<html><img src="{cdn_base}/open/img.png">'
                    .encode(),
    })
    try:
        cfg = CrawlConfig(url=f"http://127.0.0.1:{seed.server_port}/",
                          fetch_robots=True)
        res = crawl(spark, cfg, pages=None)
        cdn_log = logs[cdn.server_port]
        # robots fetched exactly once despite the host reappearing in
        # epoch 2's candidates
        assert cdn_log.count("/robots.txt") == 1
        assert "/blocked/img.png" not in cdn_log
        assert cdn_log.count("/open/img.png") == 1  # first-wins dedup
        outs = {r.file_path for r in res.output.collect()}
        assert any(p.endswith("open/img.png") for p in outs)
        assert not any("blocked" in p for p in outs)
    finally:
        seed.shutdown()
        cdn.shutdown()


def test_mock_crawl_fetch_robots_reads_fixture(spark):
    """fetch_robots=True in MOCK mode reads /robots.txt from the pages
    fixture (the reference's own test seam) — same semantics as live."""
    from goscrape_spark.config import CrawlConfig
    from goscrape_spark.plans.crawl import crawl
    from goscrape_spark.sources.fixtures import pages_df

    base = "http://mockbots.example"
    pages = {
        f"{base}/robots.txt": ("User-agent: *\nDisallow: /private/\n"
                               "Crawl-delay: 0.2\n"),
        f"{base}/": ('<html><a href="/private/x.html">x</a>'
                     '<a href="/pub.html">p</a></html>'),
        f"{base}/private/x.html": "<html>blocked</html>",
        f"{base}/pub.html": "<html>public</html>",
    }
    cfg = CrawlConfig(url=f"{base}/", fetch_robots=True)
    res = crawl(spark, cfg, pages_df(spark, pages))
    fetched = {r.url.split(base)[1] for r in res.ordered_fetches()}
    assert fetched == {"/", "/pub.html"}
    assert "/private/x.html" in res.seen_set()
    # the fixture Crawl-delay paces the mock schedule too
    nb = {r.url.split(base)[1]: r.not_before_ms
          for r in res.ordered_fetches() if r.epoch == 1}
    assert nb == {"/pub.html": 0}


def test_empty_user_agent_line_is_ignored():
    """'User-agent:' with no value must not create a zero-length token
    that prefix-matches EVERY product and shadows the '*' group."""
    text = ("User-agent:\nDisallow: /tmp\n\n"
            "User-agent: *\nDisallow: /private\n")
    rules = parse_robots(text, agent="goscrape")
    assert ("/private", False) in rules
    assert not match_allowed("/private/x", rules)


def test_malformed_robots_response_means_no_restrictions(spark):
    """A server answering /robots.txt with a garbage status line
    (http.client.BadStatusLine, an HTTPException NOT an OSError) must mean
    'no restrictions' per RFC 9309 §2.3.1, not a dead crawl."""
    import socket
    import threading

    from goscrape_spark.config import CrawlConfig
    from goscrape_spark.plans.crawl import crawl

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(4)
    port = srv.getsockname()[1]
    hits: list[bytes] = []

    def junk_server():
        while True:
            try:
                conn, _ = srv.accept()
            except OSError:
                return
            with conn:
                req = conn.recv(4096)
                hits.append(req)
                if b"/robots.txt" in req:
                    conn.sendall(b"TOTAL GARBAGE\r\n\r\n")
                else:
                    conn.sendall(b"HTTP/1.0 200 OK\r\n"
                                 b"Content-Type: text/html\r\n\r\n"
                                 b"<html>seed</html>")

    threading.Thread(target=junk_server, daemon=True).start()
    try:
        cfg = CrawlConfig(url=f"http://127.0.0.1:{port}/",
                          fetch_robots=True, timeout=10)
        res = crawl(spark, cfg, pages=None)
        assert len(res.ordered_fetches()) == 1  # the seed crawled fine
    finally:
        srv.close()


def test_mock_cross_host_assets_honor_fixture_robots(spark):
    """Mock-mode twin of the live cross-host gate: a CDN host's
    /robots.txt row in the pages fixture blocks that host's assets."""
    from goscrape_spark.config import CrawlConfig
    from goscrape_spark.plans.crawl import crawl
    from goscrape_spark.sources.fixtures import pages_df

    base, cdn = "http://seedx.example", "http://cdnx.example"
    pages = {
        f"{base}/robots.txt": "User-agent: *\nAllow: /\n",
        f"{base}/": (f'<html><img src="{cdn}/blocked/a.png">'
                     f'<img src="{cdn}/open/b.png"></html>'),
        f"{cdn}/robots.txt": "User-agent: *\nDisallow: /blocked/\n",
        f"{cdn}/blocked/a.png": b"\x89PNG-blocked",
        f"{cdn}/open/b.png": b"\x89PNG-open",
    }
    cfg = CrawlConfig(url=f"{base}/", fetch_robots=True)
    res = crawl(spark, cfg, pages_df(spark, pages))
    fetched = {r.url for r in res.ordered_fetches()}
    assert f"{cdn}/open/b.png" in fetched
    assert f"{cdn}/blocked/a.png" not in fetched
    assert any(r.endswith("open/b.png")
               for r in {x.file_path for x in res.output.collect()})

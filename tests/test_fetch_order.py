"""The live fetch sends what the crawl logs, in crawl order.

The reference fetches one URL at a time in BFS order through one shared
cookie jar (scraper/scraper.go:106-118), so the order it logs is the order
it sends.  These tests drive localhost servers that log each request and
compare the wire with the crawl's fetch log.
"""

import threading
import time
from http.server import BaseHTTPRequestHandler, HTTPServer

from goscrape_spark.config import CrawlConfig
from goscrape_spark.plans.crawl import crawl


def _serve(site: dict, log: list, set_cookie=None):
    """A localhost server for ``site`` (path -> body, or a function of the
    Cookie header returning it) that appends (path, monotonic time,
    Cookie header) to ``log`` per request; ``set_cookie`` maps a path to
    the Set-Cookie header its response carries."""
    class H(BaseHTTPRequestHandler):
        def do_GET(self):
            cookie = self.headers.get("Cookie")
            log.append((self.path, time.monotonic(), cookie))
            body = site.get(self.path)
            if callable(body):
                body = body(cookie)
            if body is None:
                self.send_response(404)
                self.end_headers()
                return
            self.send_response(200)
            ct = "image/png" if self.path.endswith(".png") else "text/html"
            self.send_header("Content-Type", ct)
            if self.path in (set_cookie or {}):
                self.send_header("Set-Cookie", set_cookie[self.path])
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = HTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv


def test_cookie_set_earlier_in_crawl_order_reaches_later_page(spark):
    """The root links /b and /a; /a links /z-login, which sets ``sid``;
    /b links /c-page, which links /members only when ``sid`` is sent.  In
    BFS order /z-login (child of /a) comes before /c-page (child of /b),
    so the reference's shared jar sends ``sid`` with /c-page and crawls
    /members.  A fetch in URL order would send /c-page first, without it."""
    def c_page(cookie):
        link = '<a href="/members">m</a>' if cookie and "sid=" in cookie \
            else ""
        return f"<html>{link}</html>".encode()

    site = {
        "/": b'<html><a href="/b">b</a><a href="/a">a</a></html>',
        "/a": b'<html><a href="/z-login">login</a></html>',
        "/b": b'<html><a href="/c-page">c</a></html>',
        "/z-login": b"<html>welcome</html>",
        "/c-page": c_page,
        "/members": b"<html>members</html>",
    }
    log: list = []
    srv = _serve(site, log, {"/z-login": "sid=1; Path=/"})
    try:
        res = crawl(spark,
                    CrawlConfig(url=f"http://127.0.0.1:{srv.server_port}/"),
                    pages=None)
    finally:
        srv.shutdown()
    # written by hand from the reference's rule: BFS order, one jar
    assert res.seen_set() == {"/", "/a", "/b", "/z-login", "/c-page",
                              "/members"}
    assert [p for p, _, _ in log] == \
        ["/", "/a", "/b", "/z-login", "/c-page", "/members"]
    assert dict((p, c) for p, _, c in log)["/c-page"] == "sid=1"


def test_wire_runs_the_logged_schedule(spark):
    """Two hosts, politeness 150 ms.  Per host, within one epoch's pages
    and within one epoch's assets, requests arrive in ``ordered_fetches()``
    order, and each gap between consecutive starts is at least the logged
    ``not_before_ms`` difference (20 ms scheduling slack).  The cdn host's
    asset URLs sort in the opposite order to their consideration order
    (script, then body background, then img; page /a before page /b), and
    so do the seed host's epoch-2 pages (/z1 is /a's child, /y1 /b's)."""
    delay_ms = 150
    cdn_log: list = []
    cdn = _serve({"/z.js": b"var z;", "/m.png": b"m", "/a.png": b"a",
                  "/q.png": b"q", "/c.png": b"c"}, cdn_log)
    c = f"http://127.0.0.1:{cdn.server_port}"
    seed_log: list = []
    seed = _serve({
        "/": (f'<html><body background="{c}/m.png">'
              f'<script src="{c}/z.js"></script><img src="{c}/a.png">'
              '<script src="/zz.js"></script><img src="/aa.png">'
              '<a href="/b">b</a><a href="/a">a</a></body></html>').encode(),
        "/zz.js": b"var zz;", "/aa.png": b"aa",
        "/a": f'<html><img src="{c}/q.png"><a href="/z1">z</a></html>'
              .encode(),
        "/b": f'<html><img src="{c}/c.png"><a href="/y1">y</a></html>'
              .encode(),
        "/z1": b"<html>z1</html>", "/y1": b"<html>y1</html>",
    }, seed_log)
    s = f"http://127.0.0.1:{seed.server_port}"
    try:
        res = crawl(spark, CrawlConfig(url=f"{s}/",
                                       politeness_delay_ms=delay_ms),
                    pages=None)
        fetches = res.ordered_fetches()
    finally:
        cdn.shutdown()
        seed.shutdown()
    assert all(r.status == "ok" for r in fetches)
    for base, log in ((s, seed_log), (c, cdn_log)):
        # the host's expected wire: per epoch, its pages then its assets,
        # each in fetch-log order
        groups: dict = {}
        for r in fetches:
            if r.url.startswith(base + "/"):
                groups.setdefault((r.epoch, r.kind != "page"), []).append(
                    (r.url[len(base):], r.not_before_ms))
        want = [g for _, g in sorted(groups.items())]
        assert [p for p, _, _ in log] == [p for g in want for p, _ in g]
        stamps = iter(t for _, t, _ in log)
        for g in want:
            ts = [next(stamps) for _ in g]
            for (_, nb0), (_, nb1), t0, t1 in zip(g, g[1:], ts, ts[1:]):
                assert t1 - t0 >= (nb1 - nb0) / 1000 - 0.02, (g, ts)
    cdn_assets = [r.url[len(c):] for r in fetches
                  if r.url.startswith(c + "/")]
    assert cdn_assets == ["/z.js", "/m.png", "/a.png", "/q.png", "/c.png"]
    nb = {r.url[len(s):]: r.not_before_ms for r in fetches
          if r.url.startswith(s + "/") and r.kind == "page"}
    assert (nb["/z1"], nb["/y1"]) == (0, delay_ms)

"""robots.txt goes through the crawl's one fetch contract.

A robots.txt request is sent like any other URL of the crawl: with the
configured Basic auth, headers and cookie jar, with 429 retries, and (in a
fixture crawl) with the fixture's ``retry_after`` semantics.  A non-ok
outcome means "no restrictions" (RFC 9309 §2.3.1)."""

import base64
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

from goscrape_spark.config import CrawlConfig
from goscrape_spark.plans.crawl import crawl
from goscrape_spark.plans.simulator import PageFixture
from goscrape_spark.sources.fixtures import pages_df

USER, PASSWORD = "crawler", "s3cret"

AUTH_SITE = {
    "/robots.txt": "User-agent: *\nDisallow: /private/\n",
    "/": ('<html><a href="/private/x.html">x</a>'
          '<a href="/pub.html">p</a></html>'),
    "/private/x.html": "<html>private</html>",
    "/pub.html": "<html>public</html>",
}


def test_robots_txt_request_carries_basic_auth(spark):
    """Every path, robots.txt included, answers 401 without the configured
    credentials.  The robots fetch must send them, so /private/ is never
    requested; a robots request without them gets the 401 and the crawl
    runs with no rules."""
    want = "Basic " + base64.b64encode(
        f"{USER}:{PASSWORD}".encode()).decode()
    log: list[tuple[str, bool]] = []

    class H(BaseHTTPRequestHandler):
        def do_GET(self):
            authed = self.headers.get("Authorization") == want
            log.append((self.path, authed))
            if not authed:
                self.send_response(401)
                self.send_header("WWW-Authenticate", 'Basic realm="x"')
                self.end_headers()
                return
            body = AUTH_SITE.get(self.path)
            if body is None:
                self.send_response(404)
                self.end_headers()
                return
            self.send_response(200)
            self.send_header("Content-Type", "text/html")
            self.end_headers()
            self.wfile.write(body.encode())

        def log_message(self, *a):
            pass

    srv = HTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        base = f"http://127.0.0.1:{srv.server_port}"
        cfg = CrawlConfig(url=f"{base}/", username=USER, password=PASSWORD,
                          fetch_robots=True)
        res = crawl(spark, cfg, pages=None)
        paths = [p for p, _ in log]
        assert paths.count("/robots.txt") == 1
        assert not any(p.startswith("/private/") for p in paths), log
        assert all(authed for _, authed in log), log
        fetched = {r.url.split(base)[1] for r in res.ordered_fetches()}
        assert fetched == {"/", "/pub.html"}
        # blocked, but inserted before rejection
        assert "/private/x.html" in res.seen_set()
    finally:
        srv.shutdown()


def test_fixture_robots_txt_follows_retry_after(spark):
    """A fixture robots.txt row obeys the fixture's 429 semantics like
    every other URL: retried to ok within max_retries (rules apply),
    exhausted past it (no restrictions)."""
    base = "http://retrybots.example"
    pages = {
        f"{base}/": ('<html><a href="/private/x.html">x</a>'
                     '<a href="/pub.html">p</a></html>'),
        f"{base}/private/x.html": "<html>private</html>",
        f"{base}/pub.html": "<html>public</html>",
    }
    pages[f"{base}/robots.txt"] = PageFixture(
        body=b"User-agent: *\nDisallow: /private/\n", retry_after=2)
    fixture = pages_df(spark, pages)
    fetched = {}
    for max_retries in (2, 1):
        cfg = CrawlConfig(url=f"{base}/", fetch_robots=True,
                          max_retries=max_retries)
        res = crawl(spark, cfg, fixture)
        fetched[max_retries] = {r.url.split(base)[1]
                                for r in res.ordered_fetches()}
    assert fetched[2] == {"/", "/pub.html"}
    assert fetched[1] == {"/", "/pub.html", "/private/x.html"}

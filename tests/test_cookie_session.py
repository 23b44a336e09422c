"""S4 session-cookie fidelity against a live localhost server.

The reference's shared cookiejar.Jar absorbs Set-Cookie responses mid-crawl
(scraper/scraper.go:106-118) and persists the jar via --savecookiefile
(main.go:183,231-246).  These tests drive a login-flow shape: page 1 issues
the session cookie, page 2 must present it, and the final jar round-trips
through the save file.
"""

import json
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest

from goscrape_spark.config import CrawlConfig
from goscrape_spark.plans.crawl import crawl
from goscrape_spark.sources.fetch import http_fetch_df

COOKIES_SEEN: dict[str, str] = {}


class Handler(BaseHTTPRequestHandler):
    def do_GET(self):
        COOKIES_SEEN[self.path] = self.headers.get("Cookie")
        self.send_response(200)
        self.send_header("Content-Type", "text/html")
        if self.path == "/":
            # the login page issues the session id
            self.send_header("Set-Cookie", "session=tok123; Path=/")
        elif self.path == "/logout":
            # server-side deletion: the jar must drop the cookie and the
            # batch must emit a tombstone for it
            self.send_header("Set-Cookie", "session=gone; Path=/; Max-Age=0")
        self.end_headers()
        if self.path == "/":
            self.wfile.write(b'<html><a href="/gated">members</a></html>')
        else:
            self.wfile.write(
                f"<html>gated cookie={self.headers.get('Cookie')}"
                f"</html>".encode())

    def log_message(self, *a):
        pass


@pytest.fixture(scope="module")
def server():
    srv = HTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{srv.server_port}"
    srv.shutdown()


def test_set_cookie_absorbed_mid_batch(spark, server):
    """Within one per-host batch, a cookie set by an earlier response is
    presented on later requests (URLs are fetched in the given order, so
    '/' precedes '/gated')."""
    COOKIES_SEEN.clear()
    frontier = spark.createDataFrame(
        [(f"{server}/", 0), (f"{server}/gated", 0)],
        "url string, not_before_ms long")
    rows = http_fetch_df(frontier, CrawlConfig(url=server),
                         ["url"]).collect()
    assert COOKIES_SEEN["/"] is None
    assert COOKIES_SEEN["/gated"] == "session=tok123"
    # the batch's final jar snapshot rides the set_cookies column
    snaps = [json.loads(s) for r in rows if r.set_cookies
             for s in r.set_cookies]
    assert {(d["name"], d["value"]) for d in snaps} == {("session", "tok123")}


def test_snapshot_is_delta_only(spark, server):
    """A batch emits ONLY genuine cookie changes: unchanged base cookies —
    including other hosts' — must not ride set_cookies, or a batch for an
    unrelated asset host could clobber a same-round update from the
    cookie's own host at the driver's last-write-wins merge."""
    base = [
        # this host's cookie, unchanged by a /gated fetch
        {"name": "session", "value": "tok123", "domain": "127.0.0.1",
         "path": "/", "expires": None},
        # an unrelated host's cookie this batch never contacts
        {"name": "tok", "value": "v1", "domain": "other.example.org",
         "path": "/", "expires": None},
    ]
    frontier = spark.createDataFrame([(f"{server}/gated", 0)],
                                     "url string, not_before_ms long")
    rows = http_fetch_df(frontier, CrawlConfig(url=server), ["url"],
                         session_cookies=base).collect()
    snaps = [json.loads(s) for r in rows if r.set_cookies
             for s in r.set_cookies]
    assert snaps == []   # nothing changed -> nothing emitted


def test_deletion_tombstone_only_from_contacted_host(spark, server):
    """A server-side deletion (Set-Cookie Max-Age=0) produces an expiry
    tombstone from the cookie's own host's batch; an unrelated host's base
    cookie is never tombstoned just because this batch didn't see it."""
    base = [
        {"name": "session", "value": "tok123", "domain": "127.0.0.1",
         "path": "/", "expires": None},
        {"name": "tok", "value": "v1", "domain": "other.example.org",
         "path": "/", "expires": None},
    ]
    frontier = spark.createDataFrame([(f"{server}/logout", 0)],
                                     "url string, not_before_ms long")
    rows = http_fetch_df(frontier, CrawlConfig(url=server), ["url"],
                         session_cookies=base).collect()
    snaps = [json.loads(s) for r in rows if r.set_cookies
             for s in r.set_cookies]
    assert [(d["name"], d["domain"], d["expires"]) for d in snaps] == \
        [("session", "127.0.0.1", 0)]


def test_live_crawl_carries_session_across_epochs(spark, server):
    """Epoch 0 fetches '/', which sets the session cookie; epoch 1's fetch
    of '/gated' must present it (reference: one shared jar on the client)."""
    COOKIES_SEEN.clear()
    res = crawl(spark, CrawlConfig(url=f"{server}/"), pages=None)
    assert res.seen_set() == {"/", "/gated"}
    assert COOKIES_SEEN["/gated"] == "session=tok123"
    # the gated page's SAVED body proves the cookie was on the wire
    body = {r.url: bytes(r.body) for r in res.output.collect()}
    assert b"cookie=session=tok123" in body[f"{server}/gated"]
    # the final jar surfaces on the result (Scraper.Cookies() analogue)
    jar = {(d["name"], d["value"], d["domain"]) for d in res.cookies}
    assert ("session", "tok123", "127.0.0.1") in jar


def test_cli_savecookiefile_roundtrip(spark, server, tmp_path):
    """--savecookiefile persists the post-crawl jar in the reference's JSON
    shape, loadable back through --cookies (main.go:214-246)."""
    from goscrape_spark.cli import run
    from goscrape_spark.functions.cookies import read_cookie_file

    out = tmp_path / "site"
    jarfile = tmp_path / "jar.json"
    rc = run([f"{server}/", "--output", str(out),
              "--savecookiefile", str(jarfile)], spark=spark)
    assert rc == 0
    back = read_cookie_file(str(jarfile))
    assert [(c.name, c.value) for c in back] == [("session", "tok123")]

    # and a pre-loaded jar reaches the wire on the very first request
    COOKIES_SEEN.clear()
    frontier = spark.createDataFrame([(f"{server}/gated", 0)],
                                     "url string, not_before_ms long")
    http_fetch_df(frontier, CrawlConfig(url=server, cookies=back),
                  ["url"]).collect()
    assert COOKIES_SEEN["/gated"] == "session=tok123"

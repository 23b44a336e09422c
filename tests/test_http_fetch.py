"""Real-HTTP fetch stage against a localhost server (no external network)."""

import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest

from goscrape_spark.config import CrawlConfig
from goscrape_spark.operators.politeness import schedule_politeness
from goscrape_spark.sources.fetch import http_fetch_df

HITS = {}


class Handler(BaseHTTPRequestHandler):
    def do_GET(self):
        HITS[self.path] = HITS.get(self.path, 0) + 1
        if self.path == "/flaky" and HITS[self.path] <= 2:
            self.send_response(429)
            self.end_headers()
            return
        if self.path == "/missing":
            self.send_response(404)
            self.end_headers()
            return
        if self.path == "/always429":
            self.send_response(429)
            self.end_headers()
            return
        self.send_response(200)
        self.send_header("Content-Type", "text/html")
        self.end_headers()
        self.wfile.write(
            f"<html>page {self.path} ua={self.headers.get('User-Agent')} "
            f"cookie={self.headers.get('Cookie')}</html>".encode())

    def log_message(self, *a):
        pass


@pytest.fixture(scope="module")
def server():
    srv = HTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_port}"
    srv.shutdown()


def test_http_fetch(spark, server):
    urls = [(f"{server}/a", 0), (f"{server}/b", 0), (f"{server}/flaky", 0),
            (f"{server}/missing", 0)]
    frontier = spark.createDataFrame(urls, "url string, not_before_ms long")
    cfg = CrawlConfig(url=server, user_agent="goscrape-spark-test",
                      retry_delay_ms=10)
    out = {r.url: r for r in http_fetch_df(frontier, cfg, ["url"]).collect()}
    assert out[f"{server}/a"].status == "ok"
    assert b"page /a" in bytes(out[f"{server}/a"].body)
    assert b"ua=goscrape-spark-test" in bytes(out[f"{server}/a"].body)
    assert out[f"{server}/flaky"].status == "ok"
    assert out[f"{server}/flaky"].attempts == 3  # two 429s then success
    assert out[f"{server}/missing"].status == "missing"


def test_http_fetch_cookies_reach_the_wire(spark, server):
    """S4: the configured cookie jar is sent as a Cookie header
    (scraper/scraper.go:106-109, scraper/cookies.go:39-59)."""
    from datetime import datetime, timedelta, timezone

    from goscrape_spark.functions.cookies import Cookie

    frontier = spark.createDataFrame([(f"{server}/cookiepage", 0)],
                                     "url string, not_before_ms long")
    cfg = CrawlConfig(url=server, cookies=[
        Cookie(name="sid", value="s3cr3t"),
        Cookie(name="fresh", value="1",
               expires=datetime.now(timezone.utc) + timedelta(days=1)),
        Cookie(name="stale", value="0",
               expires=datetime.now(timezone.utc) - timedelta(days=1)),
    ])
    body = bytes(http_fetch_df(frontier, cfg, ["url"]).first().body)
    assert b"cookie=sid=s3cr3t; fresh=1" in body
    assert b"stale" not in body


def test_http_fetch_exhausted_attempts(spark, server):
    """S2: retry exhaustion reports max_retries+1 attempts (the number of
    requests actually made), matching the mock join and the oracle."""
    frontier = spark.createDataFrame([(f"{server}/always429", 0)],
                                     "url string, not_before_ms long")
    cfg = CrawlConfig(url=server, max_retries=2, retry_delay_ms=1)
    row = http_fetch_df(frontier, cfg, ["url"]).first()
    assert row.status == "exhausted"
    assert row.attempts == 3


def test_http_fetch_proxy_routing(spark, server):
    """S5: config.proxy routes requests through the proxy transport
    (scraper/scraper.go:111-115): the proxy receives the ABSOLUTE URL."""
    proxied = []

    class ProxyHandler(BaseHTTPRequestHandler):
        def do_GET(self):
            proxied.append(self.path)
            self.send_response(200)
            self.send_header("Content-Type", "text/html")
            self.end_headers()
            self.wfile.write(b"<html>via-proxy</html>")

        def log_message(self, *a):
            pass

    psrv = HTTPServer(("127.0.0.1", 0), ProxyHandler)
    t = threading.Thread(target=psrv.serve_forever, daemon=True)
    t.start()
    try:
        target = "http://upstream.invalid/page"
        frontier = spark.createDataFrame([(target, 0)],
                                         "url string, not_before_ms long")
        cfg = CrawlConfig(url=target,
                          proxy=f"http://127.0.0.1:{psrv.server_port}")
        row = http_fetch_df(frontier, cfg, ["url"]).first()
        assert row.status == "ok"
        assert bytes(row.body) == b"<html>via-proxy</html>"
        assert proxied == [target]  # absolute URL = proxied request
    finally:
        psrv.shutdown()


def test_politeness_spacing_measured_per_host(spark):
    """J5 timing, asserted from the WIRE: under concurrent multi-host fetch
    of rows scheduled by schedule_politeness, consecutive requests to the
    same host must be
    spaced >= the delay (the reference sleeps between requests,
    scraper/scraper.go:165-172); distinct hosts run concurrently and are
    not cross-delayed."""
    import time

    stamps: dict[int, list[float]] = {}

    def make_server():
        class TimedHandler(BaseHTTPRequestHandler):
            def do_GET(self):
                stamps.setdefault(self.server.server_port, []) \
                    .append(time.monotonic())
                self.send_response(200)
                self.send_header("Content-Type", "text/html")
                self.end_headers()
                self.wfile.write(b"<html>ok</html>")

            def log_message(self, *a):
                pass

        srv = HTTPServer(("127.0.0.1", 0), TimedHandler)
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        return srv

    s1, s2 = make_server(), make_server()
    try:
        delay_ms = 300
        urls = [(f"http://127.0.0.1:{s.server_port}/p{i}",
                 f"127.0.0.1:{s.server_port}")
                for s in (s1, s2) for i in range(4)]
        frontier = schedule_politeness(
            spark.createDataFrame(urls, "url string, host string"),
            delay_ms, order_cols=["url"]).repartition(4)
        cfg = CrawlConfig(url=f"http://127.0.0.1:{s1.server_port}")
        rows = http_fetch_df(frontier, cfg, ["url"]).collect()
        assert all(r.status == "ok" for r in rows)
        for port in (s1.server_port, s2.server_port):
            ts = sorted(stamps[port])
            assert len(ts) == 4
            gaps = [b - a for a, b in zip(ts, ts[1:])]
            # sleep() guarantees AT LEAST the delay; allow 20ms scheduling
            # slack below it, nothing above
            assert all(g >= delay_ms / 1000 - 0.02 for g in gaps), gaps
        # per-host independence: neither host's own spacing was inflated
        # by the other host's delays (a GLOBAL politeness lock would make
        # same-host gaps ~2x the delay once batches interleave).  A strict
        # cross-host overlap assert is deliberately avoided: the sandbox's
        # sustained co-tenant stalls can serialize the two task slots and
        # flake it, while the per-host gap bounds above plus this ceiling
        # still catch a global lock.
        for port in (s1.server_port, s2.server_port):
            ts = sorted(stamps[port])
            gaps = [b - a for a, b in zip(ts, ts[1:])]
            assert min(gaps) < 2 * delay_ms / 1000, gaps
    finally:
        s1.shutdown()
        s2.shutdown()

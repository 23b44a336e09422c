"""fileExists admission (scraper/download.go:76-79) against the sequential
oracle, for both fetch sources.

Two localhost servers act as two hosts: the seed host serves the pages,
the asset host serves images whose query strings make several URLs map
to one output file.  The mock crawl reads the same site from a
``pages_df`` fixture.  A crawl cannot know a fetch's outcome before it
runs, so it fetches the first candidate per path and defers the rest to
failure-chain waves; the seen set, the ordered fetch log and the output
tree must still match ``crawl_sequential`` exactly."""

import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest

from goscrape_spark.config import CrawlConfig
from goscrape_spark.plans.crawl import crawl
from goscrape_spark.plans.simulator import crawl_sequential
from goscrape_spark.sources.fixtures import pages_df


class Handler(BaseHTTPRequestHandler):
    def do_GET(self):
        body = self.server.site.get(self.path)
        if body is None:
            self.send_response(404)
            self.end_headers()
            return
        self.send_response(200)
        self.end_headers()
        self.wfile.write(body.encode())

    def log_message(self, *a):
        pass


@pytest.fixture(scope="module")
def hosts():
    servers = []
    for _ in range(2):
        srv = HTTPServer(("127.0.0.1", 0), Handler)
        srv.site = {}
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        servers.append(srv)
    yield servers
    for srv in servers:
        srv.shutdown()


def _serve(servers, pages: dict[str, str]) -> None:
    for srv in servers:
        base = f"http://127.0.0.1:{srv.server_port}"
        srv.site = {u[len(base):]: body for u, body in pages.items()
                    if u.startswith(base + "/")}


@pytest.mark.parametrize("mode", ["live", "mock"])
def test_live_file_exists_matches_oracle(spark, hosts, mode):
    site, cdn = (f"http://127.0.0.1:{s.server_port}" for s in hosts)
    pages = {
        f"{site}/": (
            # query-string duplicates of one path: v=1 writes i.png, so
            # v=2 (deferred behind it) is never fetched
            f'<img src="{cdn}/i.png?v=1"><img src="{cdn}/i.png?v=2">'
            # j.png: the first two candidates 404, so the third is fetched
            # in the second deferral wave
            f'<img src="{cdn}/j.png?v=1"><img src="{cdn}/j.png?v=2">'
            f'<img src="{cdn}/j.png?v=3"><img src="{cdn}/j.png?v=4">'
            '<a href="/a">a</a><a href="/b">b</a>'),
        f"{cdn}/i.png?v=1": "I1",
        f"{cdn}/i.png?v=2": "I2",
        f"{cdn}/j.png?v=3": "J3",
        f"{cdn}/j.png?v=4": "J4",
        f"{site}/a": "page a",
        # /a (earlier seq) writes a.html before /b's img is considered;
        # i.png?v=5 was written by an earlier epoch
        f"{site}/b": (f'<img src="/a.html"><img src="{cdn}/i.png?v=5">'
                      '<img src="/k.png">'),
        f"{site}/a.html": "A-ASSET",
        f"{cdn}/i.png?v=5": "I5",
        f"{site}/k.png": "K",
    }
    _serve(hosts, pages)
    cfg = CrawlConfig(url=f"{site}/")
    sim = crawl_sequential(cfg, pages)
    if mode == "live":
        res = crawl(spark, cfg, pages=None)
    else:
        res = crawl(spark, cfg, pages_df(spark, pages))

    assert res.seen_set() == sim.seen
    want = [(f.url, f.kind, f.status) for f in sim.fetches]
    got = [(r.url, r.kind, r.status) for r in res.ordered_fetches()]
    assert got == want
    out = {r.file_path: bytes(r.body) for r in res.output.collect()}
    assert out == sim.files

    # the shapes the site was built to reach
    fetched = [(u, st) for u, _, st in want]
    assert (f"{cdn}/i.png?v=1", "ok") in fetched
    assert not any(u.startswith(f"{cdn}/i.png?v=") and u[-1] != "1"
                   for u, _ in fetched)
    assert [u for u, _ in fetched if "/j.png" in u] == \
        [f"{cdn}/j.png?v=1", f"{cdn}/j.png?v=2", f"{cdn}/j.png?v=3"]
    assert (f"{cdn}/j.png?v=3", "ok") in fetched
    assert not any(u == f"{site}/a.html" for u, _ in fetched)
    assert (f"{site}/k.png", "ok") in fetched

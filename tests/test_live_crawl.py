"""Live end-to-end crawl: the full engine against a real localhost HTTP
server — fetch (S1/S2), extraction, admission, CSS discovery, rewrite, and
export all through the production (non-mock) path."""

import os
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest

from goscrape_spark.config import CrawlConfig
from goscrape_spark.plans.crawl import crawl
from goscrape_spark.sources.export import export_output_tree
from goscrape_spark.sources.fixtures import pages_df

PAGES = {
    "/": ('<html><head><link href="/site.css" rel="stylesheet"></head>'
          '<body><a href="/page2">p2</a><img src="/logo.png"></body></html>'),
    "/page2": '<html><body><a href="/">home</a><a href="/page3/">x</a></body></html>',
    "/page3/": "<html><body>leaf</body></html>",
    # css-discovered refs must be ABSOLUTE to be admitted (the reference
    # enqueues the raw unresolved url() src, css/css.go:44-52); {BASE} is
    # substituted with the live server origin per request
    "/site.css": "body { background: url({BASE}/bg.png); }",
    "/logo.png": "PNGDATA",
    "/bg.png": "BGDATA",
}


class Handler(BaseHTTPRequestHandler):
    def do_GET(self):
        body = PAGES.get(self.path)
        if body is None:
            self.send_response(404)
            self.end_headers()
            return
        self.send_response(200)
        self.end_headers()
        body = body.replace("{BASE}", f"http://{self.headers['Host']}")
        self.wfile.write(body.encode())

    def log_message(self, *a):
        pass


@pytest.fixture(scope="module")
def server():
    srv = HTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{srv.server_port}"
    srv.shutdown()


def test_live_crawl_end_to_end(spark, server, tmp_path):
    host = server.split("//")[1]
    res = crawl(spark, CrawlConfig(url=f"{server}/"), pages=None)
    assert res.seen_set() == {"/", "/page2", "/page3", "/site.css",
                              "/logo.png", "/bg.png"}
    order = [(r.url, r.kind) for r in res.ordered_fetches()]
    assert order == [
        (f"{server}/", "page"),
        (f"{server}/site.css", "asset"),      # link stage
        (f"{server}/logo.png", "asset"),      # images stage
        (f"{server}/bg.png", "asset"),        # css-discovered
        (f"{server}/page2", "page"),
        (f"{server}/page3/", "page"),
    ]
    root = str(tmp_path / "live")
    export_output_tree(res.output, root)
    index = open(os.path.join(root, host, "index.html")).read()
    assert 'href="site.css"' in index
    assert 'src="logo.png"' in index
    assert 'href="page2.html"' in index
    # css file stored unrewritten (reference's dead cssProcessor rewrite)
    css = open(os.path.join(root, host, "site.css")).read()
    assert f"url({server}/bg.png)" in css


# Spark jobs the end-to-end crawl above may run (three epochs, one CSS
# discovery round), read live or from a fixture of the same site.  Live
# ran 40 and the fixture 43; the live path that re-joined fetch results
# onto their input rows and counted with separate jobs ran 80-81, and the
# fixture path with its own fetch plans and status tables ran 62.  Every
# epoch stage is materialized once, and counts and driver-side harvests
# ride Observations on those checkpoints, so a new count(), collect() or
# re-checkpoint shows up here.
LIVE_CRAWL_MAX_JOBS = 44
MOCK_ORIGIN = "http://mock.example"


@pytest.mark.parametrize("mode", ["live", "mock"])
def test_live_crawl_job_budget(spark, server, mode):
    if mode == "live":
        base, pages = server, None
    else:
        base = MOCK_ORIGIN
        pages = pages_df(spark, {base + path: body.replace("{BASE}", base)
                                 for path, body in PAGES.items()})
    sc = spark.sparkContext
    group = f"test-crawl-job-budget-{mode}"
    sc.setJobGroup(group, f"{mode} crawl job budget")
    try:
        crawl(spark, CrawlConfig(url=f"{base}/"), pages=pages)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    print(f"{mode} crawl ran {n_jobs} Spark jobs")
    assert 0 < n_jobs <= LIVE_CRAWL_MAX_JOBS


# py4j round trips (driver -> JVM commands) the mock crawl of the job-budget
# test may make.  The crawl runs the same jobs either way, so the job budget
# cannot see plan-building cost; this can.  The crawl that rebuilt each
# epoch's candidates around the page pass, with PySpark's per-call
# DataFrame debugging on, made 32,606-32,999 (two runs); candidates
# emitted by the page pass with debugging off make 9,044-9,639 (three).
MOCK_CRAWL_MAX_PY4J = 12_000


def test_mock_crawl_py4j_budget(spark, monkeypatch):
    import itertools

    from py4j.clientserver import ClientServerConnection

    pages = pages_df(spark, {MOCK_ORIGIN + path: body.replace(
        "{BASE}", MOCK_ORIGIN) for path, body in PAGES.items()})
    # next() is atomic: branch threads send too.  The driver's main thread
    # is counted apart, since its calls are the ones no helper overlaps.
    calls, main_calls = itertools.count(), itertools.count()
    main = threading.main_thread()
    send = ClientServerConnection.send_command

    def counted(self, command, *a, **kw):
        next(calls)
        if threading.current_thread() is main:
            next(main_calls)
        return send(self, command, *a, **kw)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    crawl(spark, CrawlConfig(url=f"{MOCK_ORIGIN}/"), pages=pages)
    monkeypatch.undo()
    n, n_main = next(calls), next(main_calls)
    print(f"mock crawl made {n} py4j round trips, {n_main} of them on "
          "the main thread")
    assert 0 < n_main <= n <= MOCK_CRAWL_MAX_PY4J


class WideHandler(BaseHTTPRequestHandler):
    """A root page linking 20 leaf pages."""

    def do_GET(self):
        self.send_response(200)
        self.end_headers()
        if self.path == "/":
            body = "".join(f'<a href="/p{i}">p</a>' for i in range(20))
        else:
            body = "leaf"
        self.wfile.write(f"<html>{body}</html>".encode())

    def log_message(self, *a):
        pass


def test_live_page_pass_runs_in_parallel(spark, monkeypatch):
    """A live fetch returns each host's rows in one partition, and an
    epoch's pages are all on the seed host: the page pass must spread
    them over its tasks itself."""
    from pyspark.sql import functions as F

    import goscrape_spark.plans.crawl as crawl_mod

    srv = HTTPServer(("127.0.0.1", 0), WideHandler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    sizes = []
    process = crawl_mod.process_pages_df

    def recorded(pages, *a, **kw):
        sizes.append(sorted(
            r["count"] for r in pages.groupBy(
                F.spark_partition_id().alias("p")).count().collect()))
        return process(pages, *a, **kw)

    monkeypatch.setattr(crawl_mod, "process_pages_df", recorded)
    try:
        res = crawl(spark, CrawlConfig(
            url=f"http://127.0.0.1:{srv.server_port}/"), pages=None)
    finally:
        srv.shutdown()
    assert res.epochs == 2
    assert sizes[0] == [1]
    # epoch 1's 20 pages: at least two non-empty page-pass partitions
    assert sum(sizes[1]) == 20 and len(sizes[1]) >= 2, sizes

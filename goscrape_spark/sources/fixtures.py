"""The reference's own test-site fixtures as mock-web tables (FIXTURES.md §2).

These are the exact page bodies from scraper/scraper_test.go:47-195; the
golden seen-sets and fetch orders they produce are pinned in
tests/test_simulator.py and reproduced by the Spark crawler in
tests/test_crawl_parity.py.

:func:`pages_df` turns any {url: body} dict into the ``pages`` DataFrame that
the mock-fetch join (J2) consumes — the Spark equivalent of the injected
``httpDownloader`` stub (scraper/scraper_test.go:35-42).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..plans.simulator import PageFixture
from ..session import local_frame

SITE_LINKS_START = "https://example.org/#fragment"

_INDEX_PAGE = """
<html>
<head>
<link href=' https://example.org/style.css#fragment' rel='stylesheet' type='text/css'>
</head>
<body>
<a href="https://example.org/page2">Example</a>
</body>
</html>
"""

_PAGE2 = """
<html>
<body>

<!--link to index with fragment-->
<a href="/#fragment">a</a>
<!--link to page with fragment-->
<a href="/sub/#fragment">a</a>

</body>
</html>
"""

SITE_LINKS = {
    "https://example.org/": _INDEX_PAGE,
    "https://example.org/page2": _PAGE2,
    "https://example.org/sub/": _INDEX_PAGE,
    "https://example.org/style.css": "",
}

SITE_ATTRS = {
    "https://example.org/": """
<html>
<head>
</head>

<body background="bg.gif">

<!--embedded image-->
<img src='data:image/gif;base64,R0lGODlhAQABAAD/ACwAAAAAAQABAAACADs%3D=' />

</body>
</html>
""",
    "https://example.org/bg.gif": "",
}

SITE_CSS = {
    "https://example.org/": """
<html>
<head>
<style>
h1 {
  background-image: url('https://example.org/background.jpg');
}
h2 {
  background-image: url('/img/bg.jpg');
}
h3 {
  background-image: url(bg3.jpg);
}
</style>
</head>
<body>
</body>
</html>
""",
    "https://example.org/background.jpg": "",
    "https://example.org/img/bg.jpg": "",
    "https://example.org/bg3.jpg": "",
}

PAGES_SCHEMA = ("url string, body binary, resp_url string, retry_after int")


def pages_df(spark: SparkSession, pages: dict) -> DataFrame:
    """{url: body | PageFixture} -> the mock-web ``pages`` DataFrame."""
    rows = []
    for url, v in pages.items():
        if isinstance(v, PageFixture):
            body, resp, retry = v.body, v.resp_url, v.retry_after
        else:
            body = v.encode("utf-8") if isinstance(v, str) else bytes(v)
            resp, retry = None, 0
        rows.append((url, bytearray(body), resp, retry))
    return local_frame(spark, rows, PAGES_SCHEMA)

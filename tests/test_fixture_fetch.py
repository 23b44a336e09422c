"""The fixture fetch keeps the live fetch's contract (sources/fetch.py):
rows in; the same rows plus ``body, resp_url, status, attempts`` and a
null ``set_cookies`` out, whatever join plan Spark picks."""

import pytest

from goscrape_spark.plans.simulator import PageFixture
from goscrape_spark.sources.fetch import fixture_fetch_df
from goscrape_spark.sources.fixtures import pages_df

BASE = "https://example.org"
MAX_RETRIES = 2


@pytest.mark.parametrize("auto_broadcast", [True, False])
def test_fixture_fetch_returns_its_input_rows(spark, request,
                                              auto_broadcast):
    if not auto_broadcast:
        request.getfixturevalue("no_auto_broadcast")
    pages = pages_df(spark, {
        f"{BASE}/ok": PageFixture(b"OK", retry_after=MAX_RETRIES),
        f"{BASE}/moved": PageFixture(b"MOVED", resp_url=f"{BASE}/new"),
        f"{BASE}/busy": PageFixture(b"BUSY", retry_after=MAX_RETRIES + 1),
    })
    # extra input columns, and one URL on two rows
    rows = spark.createDataFrame([
        (f"{BASE}/ok", 1, "a"),
        (f"{BASE}/ok", 2, "b"),
        (f"{BASE}/moved", 3, "c"),
        (f"{BASE}/busy", 4, "d"),
        (f"{BASE}/gone", 5, "e"),
    ], "url string, seq bigint, tag string")

    out = fixture_fetch_df(rows, pages, MAX_RETRIES)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert ("BroadcastHashJoin" in plan) == auto_broadcast

    assert out.columns == ["url", "body", "resp_url", "status", "attempts",
                           "set_cookies", "seq", "tag"]
    got = sorted((r.seq, r.tag, r.url, None if r.body is None
                  else bytes(r.body), r.resp_url, r.status, r.attempts,
                  r.set_cookies) for r in out.collect())
    assert got == [
        (1, "a", f"{BASE}/ok", b"OK", f"{BASE}/ok", "ok",
         MAX_RETRIES + 1, None),
        (2, "b", f"{BASE}/ok", b"OK", f"{BASE}/ok", "ok",
         MAX_RETRIES + 1, None),
        (3, "c", f"{BASE}/moved", b"MOVED", f"{BASE}/new", "ok", 1, None),
        (4, "d", f"{BASE}/busy", None, f"{BASE}/busy", "exhausted",
         MAX_RETRIES + 1, None),
        (5, "e", f"{BASE}/gone", None, f"{BASE}/gone", "missing", 1, None),
    ]

"""The crawl's two fetch sources, behind one contract.

Rows in; the same rows out with ``body, resp_url, status, attempts`` and a
``set_cookies`` snapshot added.  ``status`` is ok/missing/exhausted
('missing' = request error or non-200/429; 'exhausted' = a 429 on all
``max_retries + 1`` attempts).  The input's other columns come back
unchanged, so the crawl needs no join to put outcomes back on them.

* :func:`fixture_fetch_df` reads a mock-web ``pages`` table (J2, the
  reference's own test seam, scraper/scraper_test.go:35-42);
* :func:`http_fetch_df` is the production fetcher over real HTTP.

The HTTP fetcher is expressed the Spark-native way:

* ``groupBy(host).applyInPandas`` — all URLs of one host land in ONE batch on
  one executor, which sends them one at a time in the caller's crawl order
  and spaces them by the rows' logged ``not_before_ms`` schedule (J5,
  operators/politeness.schedule_politeness), so the wire sees what the
  fetch log records, and the cookie jar is shared along the batch;
* 429 retry with the reference's LINEAR backoff ``(retries+1) x 1500ms``, max
  10 retries (scraper/http.go:18-23,50-96), inline within the batch — crawl
  order is unaffected, exactly like the reference's blocking sleep;
* session config (UA, basic auth, extra headers, timeout) from CrawlConfig
  (scraper/http.go:25-48; auth scraper/scraper.go:144-146).

Tests drive the HTTP fetcher against a localhost http.server
(tests/test_http_fetch.py).
"""

from __future__ import annotations

import base64
import time as _time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import CrawlConfig
from ..functions.urlnorm import col_host

# the live fetch fills set_cookies with each host batch's cookie-jar deltas
# so the driver can accumulate Set-Cookie state across epochs (S4)
FETCHED_SCHEMA = ("url string, body binary, resp_url string, status string, "
                  "attempts int, set_cookies array<string>")


def _jar_cookie(d: dict):
    """A host-only http.cookiejar.Cookie from the portable dict form
    {name, value, domain, path, expires(epoch|None)} — the same matching
    semantics as the reference's cookiejar.Jar.SetCookies with no Domain
    attribute (scraper/cookies.go:39-59)."""
    import http.cookiejar

    return http.cookiejar.Cookie(
        version=0, name=d["name"], value=d["value"], port=None,
        port_specified=False, domain=d.get("domain", ""),
        domain_specified=False, domain_initial_dot=False,
        path=d.get("path", "/"), path_specified=False, secure=False,
        expires=d.get("expires"), discard=d.get("expires") is None,
        comment=None, comment_url=None, rest={})


def config_cookie_dicts(config: CrawlConfig) -> list[dict]:
    """The configured jar in portable dict form, bound to the start URL's
    host like the reference's jar.SetCookies(u, cookies)
    (scraper/cookies.go:39-59, scraper/scraper.go:106-109)."""
    from ..functions.urlnorm import parse_url

    host = (parse_url(config.url).host or "").partition(":")[0]
    out = []
    for c in config.cookies:
        exp = int(c.expires.timestamp()) if c.expires is not None else None
        out.append({"name": c.name, "value": c.value, "domain": host,
                    "path": "/", "expires": exp})
    return out


def fixture_fetch_df(rows: DataFrame, pages: DataFrame,
                     max_retries: int) -> DataFrame:
    """Fetch every row's URL from the ``pages`` fixture
    (url, body, resp_url, retry_after): one left join, whose plan Spark's
    own size rule picks (a fixture below ``autoBroadcastJoinThreshold`` is
    broadcast).  Same contract as :func:`http_fetch_df`; ``set_cookies``
    is always null.

    ``retry_after`` is the number of leading 429 responses.  The reference
    retries them inline with linear backoff (scraper/http.go:50-96), so the
    outcome is a column, not a wait: ok after ``retry_after + 1`` attempts
    when ``retry_after <= max_retries``, else exhausted after
    ``max_retries + 1``.  A URL the fixture lacks is missing after one."""
    carried = [c for c in rows.columns if c != "url"]
    fx = pages.select("url", F.col("body").alias("_fx_body"),
                      F.col("resp_url").alias("_fx_resp_url"),
                      F.coalesce("retry_after", F.lit(0)).alias("_fx_retry"))
    missing = F.col("_fx_body").isNull()
    exhausted = F.col("_fx_retry") > max_retries
    return rows.join(fx, "url", "left").select(
        "url",
        F.when(~missing & ~exhausted, F.col("_fx_body")).alias("body"),
        F.coalesce("_fx_resp_url", "url").alias("resp_url"),
        F.when(missing, F.lit("missing"))
         .when(exhausted, F.lit("exhausted"))
         .otherwise(F.lit("ok")).alias("status"),
        F.when(missing, F.lit(1))
         .when(exhausted, F.lit(max_retries + 1))
         .otherwise(F.col("_fx_retry") + 1).alias("attempts"),
        F.lit(None).cast("array<string>").alias("set_cookies"),
        *carried)


def http_fetch_df(frontier: DataFrame, config: CrawlConfig,
                  order: list[str],
                  session_cookies: list[dict] | None = None) -> DataFrame:
    """Fetch every frontier URL over real HTTP, one batch per host.

    Each input row comes back with the fetch columns added; the input's
    other columns ride through the host batch unchanged.  A batch sends
    its URLs in ``order`` (columns of the input), each distinct URL once,
    its outcome shared by its rows.  Every row carries ``not_before_ms``:
    a request starts no earlier than the previous request's start plus the
    difference of their ``not_before_ms``, so no two requests are sent
    closer together than the schedule logs them.

    Cookies ride a REAL per-batch http.cookiejar: the batch's jar starts
    from the configured cookies (+ ``session_cookies`` accumulated by the
    crawl loop from earlier epochs' Set-Cookie responses), absorbs
    Set-Cookie mid-batch exactly like the reference's shared
    cookiejar.Jar on the http.Client (scraper/scraper.go:106-118), and
    snapshots its final state into the ``set_cookies`` column so the driver
    can carry the session forward and persist it (main.go:183,231-246)."""
    max_retries = config.max_retries
    retry_delay = config.retry_delay_ms / 1000.0
    timeout = config.timeout or 30
    proxy = config.proxy
    headers = dict(config.headers)
    if config.user_agent:
        headers["User-Agent"] = config.user_agent
    if config.username:
        cred = f"{config.username}:{config.password}"
        headers["Authorization"] = "Basic " + base64.b64encode(
            cred.encode()).decode()
    # S4: base jar state; session_cookies (keyed by domain/path/name) win
    # over the static config jar — they are the crawl's newer state
    base_cookies: dict[tuple, dict] = {
        (d["domain"], d.get("path", "/"), d["name"]): d
        for d in config_cookie_dicts(config)}
    for d in (session_cookies or []):
        base_cookies[(d["domain"], d.get("path", "/"), d["name"])] = d
    base_list = list(base_cookies.values())

    # the input's other columns (none may share a fetch column's name)
    carried = [f for f in frontier.schema.fields if f.name != "url"]
    carried_names = [f.name for f in carried]
    schema = FETCHED_SCHEMA + "".join(
        f", `{f.name}` {f.dataType.simpleString()}" for f in carried)
    src = frontier.select("url", *carried_names) \
                  .withColumn("_fetch_host", col_host(F.col("url")))

    def fetch_host(key, pdf):
        import http.cookiejar
        import json as _json
        import urllib.error
        import urllib.parse
        import urllib.request

        import pandas as pd

        jar = http.cookiejar.CookieJar()
        for d in base_list:
            jar.set_cookie(_jar_cookie(d))
        # every redirect hop's host counts as "contacted" for tombstone
        # scoping below — an intermediate hop (a -> B -> c) can delete its
        # own cookie, and only resp.geturl() (the final hop) is otherwise
        # visible
        hop_hosts: set[str] = set()

        class _HopTracker(urllib.request.HTTPRedirectHandler):
            def redirect_request(self, req, fp, code, msg, hdrs, newurl):
                h = urllib.parse.urlsplit(newurl).hostname
                if h:
                    hop_hosts.add(h)
                return super().redirect_request(req, fp, code, msg, hdrs,
                                                newurl)

        # S5: proxy transport (scraper/scraper.go:111-115) — one opener per
        # host batch, routing both schemes through the configured proxy;
        # the cookie processor presents + absorbs per standard jar matching
        handlers = [_HopTracker(),
                    urllib.request.HTTPCookieProcessor(jar)]
        if proxy:
            handlers.append(
                urllib.request.ProxyHandler({"http": proxy, "https": proxy}))
        opener = urllib.request.build_opener(*handlers)

        rows = {"url": [], "body": [], "resp_url": [], "status": [],
                "attempts": []}
        sends = pdf.sort_values(order).drop_duplicates("url")
        prev = None  # (start, not_before_ms) of the previous request
        for url, not_before in zip(sends["url"], sends["not_before_ms"]):
            if prev is not None:
                wait = prev[0] + (not_before - prev[1]) / 1000.0 \
                    - _time.monotonic()
                if wait > 0:
                    _time.sleep(wait)
            prev = (_time.monotonic(), not_before)
            body, resp_url, status, attempts = None, url, "missing", 0
            for retries in range(max_retries + 2):
                if retries == max_retries + 1:
                    # exhausted: max_retries+1 requests were actually made —
                    # matches the mock join and the sequential oracle
                    status = "exhausted"
                    attempts = max_retries + 1
                    break
                attempts = retries + 1
                req = urllib.request.Request(url, headers=headers)
                try:
                    with opener.open(req, timeout=timeout) as resp:
                        body = resp.read()
                        resp_url = resp.geturl()
                        status = "ok"
                        break
                except urllib.error.HTTPError as e:
                    if e.code == 429:
                        # linear backoff (scraper/http.go:70-75)
                        _time.sleep((retries + 1) * retry_delay)
                        continue
                    status = "missing"
                    break
                except Exception:
                    status = "missing"
                    break
            rows["url"].append(url)
            rows["body"].append(body)
            rows["resp_url"].append(resp_url)
            rows["status"].append(status)
            rows["attempts"].append(attempts)

        # Snapshot DELTAS only, on the batch's first row (None elsewhere).
        # The jar starts from the whole base jar (cookie matching needs
        # it), but emitting the full jar back would let a batch for an
        # unrelated asset host clobber a same-round Set-Cookie update from
        # the cookie's own host at the driver's last-write-wins merge.  So:
        # * a live cookie is emitted only if it is new or its
        #   (value, expires) changed vs the batch's base jar;
        # * an expiry tombstone (expires=0) is emitted only for base
        #   cookies whose domain this batch actually contacted (the
        #   grouped host, plus redirect targets) — only those servers
        #   could have deleted them.
        contacted = {str(key[0]).partition(":")[0]} | hop_hosts
        for ru in rows["resp_url"]:
            h = urllib.parse.urlsplit(ru).hostname
            if h:
                contacted.add(h)

        def domain_contacted(dom: str) -> bool:
            d = dom.lstrip(".")
            return any(h == d or h.endswith("." + d) for h in contacted)

        snap = {(c.domain, c.path, c.name): {
                    "name": c.name, "value": c.value, "domain": c.domain,
                    "path": c.path, "expires": c.expires}
                for c in jar}
        deltas = {}
        for k, c in snap.items():
            b = base_cookies.get(k)
            if b is None or (c["value"], c["expires"]) != \
                    (b["value"], b.get("expires")):
                deltas[k] = c
        for k, d in base_cookies.items():
            if k not in snap and domain_contacted(d["domain"]):
                deltas[k] = dict(d, expires=0)
        rows["set_cookies"] = [None] * len(rows["url"])
        if rows["set_cookies"]:
            rows["set_cookies"][0] = [_json.dumps(d, sort_keys=True)
                                      for d in deltas.values()]
        # one row per input row: the outcome of its URL + its own columns
        # (the jar snapshot stays on the first fetched URL's rows only)
        out = pdf[["url", *carried_names]].merge(
            pd.DataFrame(rows), on="url", how="left", sort=False)
        return out[list(rows) + carried_names]

    return src.groupBy("_fetch_host").applyInPandas(fetch_host,
                                                    schema=schema)

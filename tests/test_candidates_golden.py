"""The fused page pass emits admission candidates in the crawl's exact
consideration order, with each asset's output path.

``tests/golden/candidates.json.gz`` holds the candidate rows of the JVM-built
plan this pass replaced (per-tag ``array_distinct`` + ``array_sort`` of the
resolved refs, ``transform`` to stage-ranked structs, ``explode``), with the
asset file paths the column/``mapInPandas`` path attached before the
fileExists check.  The site is the synthetic one plus a hand-written page of
edge cases: dot segments, ``%`` escapes, ``//``, a >200-character basename,
an external host, query strings, fragment duplicates, and refs whose UTF-16
order differs from their code-point order (U+FF5E vs U+1F600: Spark sorts
UTF-8 bytes, which agrees with Python's code-point sort, not with Java's
UTF-16 ``String.compareTo``).  A ref-less page and a binary page contribute
no rows.  Regenerate the file only from a build whose candidates are known
to be right."""

import gzip
import json
from pathlib import Path

from pyspark.sql import Window
from pyspark.sql import functions as F

HOST = "bench.example.org"
OUTDIR = "out"
GOLDEN = Path(__file__).parent / "golden" / "candidates.json.gz"

LONG = "b" * 230
HAND_BODY = f"""<html><head>
<link href="/css/./site.css" rel="stylesheet">
<link href="../css/a/../site.css" rel="stylesheet">
<link href="https://cdn.other.net//lib//x.css?v=2#top" rel="stylesheet">
<script src="/js/app.js?v=1"></script>
<script src="/js/app.js?v=2"></script>
<script src="https://cdn.other.net/lib.js#a"></script>
<script src="https://cdn.other.net/lib.js#b"></script>
<style>p {{ background: url(/img/%2E%2E/esc%20aped.png); }}
div {{ background: url("/img/d//x.png"); }}</style>
</head><body background="/img/dir/">
<img src="/img/{LONG}.png" srcset="/img/s.png#one 1x, /img/s.png#two 2x">
<img src="/img/～.png"><img src="/img/😀.png">
<img src="/img/a/."><img src="/img/p%20q.png?x=1">
<a href="/q?k=～">a</a><a href="/q?k=😀">b</a>
<a href="/p/1#frag">c</a><a href="/p/1#other">d</a><a href="/p/1">e</a>
<a href="https://other.example.net/ext/page?x=1#f">f</a>
<a href="mailto:x@y.z">g</a><a href="/dots/./x/../y/">h</a>
</body></html>""".encode("utf-8")


def site(spark):
    """The synthetic site plus a ref-less page, a binary page and the
    hand-written edge-case page."""
    from goscrape_spark.sources.synth import synthetic_site

    pages = synthetic_site(spark, n_pages=300, fanout=4, n_assets=40,
                           n_ext_hosts=3)
    extra = spark.createDataFrame(
        [(f"https://{HOST}/plain", b"<html><p>no refs</p></html>", None, 0),
         (f"https://{HOST}/bin.png", b"\x89PNG\r\n\x1a\nxx", None, 0),
         (f"https://{HOST}/hand/page", HAND_BODY, None, 0)],
        "url string, body binary, resp_url string, retry_after int")
    return pages.unionByName(extra).localCheckpoint(eager=True)


def page_bodies(pages):
    """(url, body, seq) of every seed-host page, seq in url order."""
    rows = (pages.filter(F.col("url").startswith(f"https://{HOST}"))
            .select("url", F.row_number().over(Window.orderBy("url"))
                           .cast("long").alias("seq")))
    return rows.join(pages, "url").select("url", "body", "seq")


def order_key(row):
    return (row[1], row[2], row[3], row[4], row[5], row[6])


def load_golden():
    with gzip.open(GOLDEN, "rt", encoding="utf-8") as f:
        return json.load(f)


def test_candidates_match_golden(spark):
    from goscrape_spark.operators.extract import process_pages_df
    from goscrape_spark.plans.crawl import CAND_SCHEMA, page_candidate_rows

    golden = load_golden()
    cols = [c.split()[0] for c in CAND_SCHEMA.split(", ")]
    # the golden rows were built with a depth column, from pages at depth
    # 1; a candidate's depth is now its epoch, so the column goes
    d = golden["columns"].index("depth")
    assert {r[d] for r in golden["rows"]} == {1}
    assert golden["columns"][:d] + golden["columns"][d + 1:] == cols

    processed = process_pages_df(page_bodies(site(spark)), HOST, OUTDIR)
    cands = page_candidate_rows(processed)
    assert cands.columns == cols
    got = sorted((list(r) for r in cands.collect()), key=order_key)
    want = [r[:d] + r[d + 1:] for r in golden["rows"]]
    assert len(got) == len(want) > 2000
    for g, w in zip(got, want):
        assert g == w
    # every asset carries its output path; links carry none
    fp = cols.index("file_path")
    assert all((r[fp] is not None) == r[cols.index("is_asset")] for r in got)
    # the hand-written page's edge cases are all in the golden rows
    hand = [r for r in got if r[0] == f"https://{HOST}/hand/page"]
    assert [r[6] for r in hand if r[2] == 5][-2:] == [
        f"https://{HOST}/img/～.png", f"https://{HOST}/img/😀.png"]
    assert any(len(r[fp].rsplit("/", 1)[1]) == 200 for r in hand if r[fp])

"""Fused per-page pass (process_pages_df) must agree with the separate
extract / rewrite / sniff / path operators it replaces, and emit each
page's admission candidates from the oracle's per-tag ref lists."""

from pyspark.sql import functions as F

from goscrape_spark.functions.filetype import sniff_extension
from goscrape_spark.functions.urlmath import get_file_path
from goscrape_spark.functions.urlnorm import parse_url
from goscrape_spark.operators.extract import (
    extract_spans,
    process_pages_df,
    ref_dedup_key,
    tag_urls,
)
from goscrape_spark.operators.rewrite import rewrite_document

HOST = "fused.example.org"

PAGES = [
    (f"https://{HOST}/", b'<html><a href="/p1">x</a>'
     b'<img src="/i.png" srcset="/s1.png 480w, /s2.png 800w">'
     b'<link href="/css/a.css" rel="stylesheet">'
     b'<style>h1 { background: url(/bg.png); }</style></html>', 0),
    (f"https://{HOST}/p1", b'<html><body background="b.gif">'
     b'<a href="https://other.net/ext">e</a><a href="/z#2">z</a>'
     b'<a href="/z#1">z</a><a href="mailto:a@b.c">m</a></body></html>',
     1),
    (f"https://{HOST}/logo.png", b"\x89PNG\r\n\x1a\nrawbytes", 2),
    (f"https://{HOST}/empty", b"", 3),
]

# (tag, stage_rank, is_asset, stage) in consideration order
STAGES = [("link", 1, True, "link"), ("script", 2, True, "script"),
          ("body", 3, True, "body"), ("style", 4, True, "style"),
          ("img", 5, True, "image"), ("a", 6, False, "a")]


def want_cands(text, url):
    """Per tag, the oracle's distinct sorted refs (with their fragment),
    http(s) only, stage-ranked and numbered within the tag."""
    spans = extract_spans(text, url)
    out = []
    for tag, rank, is_asset, stage in STAGES:
        refs = [r for r in tag_urls(spans, tag)
                if parse_url(r).scheme in ("http", "https")]
        for i, ref in enumerate(refs):
            u, nf = parse_url(ref), ref.split("#", 1)[0]
            out.append({
                "stage_rank": rank, "sub_rank": 0, "intra1": i, "intra2": 0,
                "url": nf, "scheme": u.scheme, "host": u.host,
                "path": u.path, "is_asset": is_asset, "stage": stage,
                "dedup_key": ref_dedup_key(nf, u.host, u.path, HOST),
                "file_path": get_file_path(parse_url(nf), HOST, "out", False)
                if is_asset else None})
    return out


def test_fused_matches_components(spark):
    df = spark.createDataFrame(
        PAGES, "url string, body binary, seq bigint")
    out = process_pages_df(df, HOST, "out")
    assert "depth" not in out.columns
    got = {r.url: r for r in out.collect()}
    assert set(got) == {u for u, _, _ in PAGES}
    for url, body, seq in PAGES:
        r = got[url]
        text = body.decode("utf-8", errors="replace")
        is_page = sniff_extension(body) == ""
        assert r.seq == seq
        assert r.is_page == is_page
        assert r.file_path == get_file_path(parse_url(url), HOST, "out",
                                            is_page)
        assert [row.asDict() for row in r.cands] == want_cands(text, url)
        if is_page:
            new_text, changed = rewrite_document(text, url, HOST)
            want = new_text.encode("utf-8") if changed else body
        else:
            want = body
        assert bytes(r.body) == want
    # the binary page keeps its raw bytes and original path
    png = got[f"https://{HOST}/logo.png"]
    assert not png.is_page and bytes(png.body).startswith(b"\x89PNG")
    assert png.file_path.endswith("/logo.png")


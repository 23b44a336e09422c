"""The crawl's page pass (extract.process_page): its refs are the
oracle's per-tag lists, its rewrite is pinned per body (the ignored-prefix
node-abort quirk, srcset handling, style blocks, duplicate attrs,
unparsable refs, binary/empty bodies), and it scans each body once."""

from goscrape_spark.functions.urlnorm import parse_url
from goscrape_spark.operators import extract, rewrite
from goscrape_spark.operators.extract import (
    TAG_BY_KIND,
    extract_spans,
    process_page,
    tag_urls,
)

HOST = "fused.example.org"

BODIES = [
    # the synthetic-bench page shape: style urls + img/srcset + links
    '<html><head><title>p</title>\n'
    "<style>h1 { background: url('/img/bg3.png'); } "
    ".x { background: url(/img/tile7.png); }</style></head>\n"
    '<body background="/img/body-bg.png">\n<p>lorem ipsum</p>\n'
    '<img src="https://a1.assets.example.com/img/9.png" '
    'srcset="/img/s9-480.png 480w, /img/s9-800.png 800w">\n'
    '<a href="/p/1">l</a>\n<a href="/p/2">l</a>\n</body></html>',
    # ignored-prefix node abort: earlier attr rewritten, then # aborts node
    '<img data-src="/real.png" src="#frag"><a href="/x">k</a>',
    '<a href="data:text/plain,hi">d</a><a href="mailto:x@y">m</a>'
    '<a href="/#top">t</a>',
    # duplicate attr (first wins), unquoted + single-quoted values
    "<img src=/a.png src=/b.png><a href='/q?x=1#f'>q</a>",
    # unparsable ref (control char) + empty value + external link/asset
    '<a href="">e</a><img src="ht tp://bad\x00url">'
    '<a href="https://other.net/page">ext</a>'
    '<img src="https://other.net/pic.jpg">',
    # entities in attrs, srcset with descriptors and spacing
    '<a href="/p?a=1&amp;b=2">amp</a>'
    '<img srcset=" s1.png  2x , /abs/s2.png ">',
    # style with no rewrites needed (already-relative refs stay)
    "<style>.a { background: url(rel.png); }</style>",
    # nested/raw-text edge: style inside comment is skipped by the scanner
    "<!-- <style>.c{background:url(/no.png)}</style> --><a href=/ok>o</a>",
    "",  # empty body
]


# rewrite_document's (text, changed) per body.  Body 4's src holds a NUL
# before any '#': url.Parse rejects it, so resolveURL rewrites it to ""
# (scraper/url.go:10-65).
WANT = [
    ('<html><head><title>p</title>\n'
     "<style>h1 { background: url('../img/bg3.png'); } "
     ".x { background: url('../img/tile7.png'); }</style></head>\n"
     '<body background="../img/body-bg.png">\n<p>lorem ipsum</p>\n'
     '<img src="../_a1.assets.example.com/img/9.png" '
     'srcset="../img/s9-480.png 480w, ../img/s9-800.png 800w">\n'
     '<a href="../p/1.html">l</a>\n<a href="../p/2.html">l</a>\n'
     '</body></html>', True),
    ('<img data-src="../real.png" src="#frag"><a href="../x.html">k</a>',
     True),
    ('<a href="data:text/plain,hi">d</a><a href="mailto:x@y">m</a>'
     '<a href="/#top">t</a>', False),
    ("<img src=../a.png src=/b.png><a href='../q.html?x=1#f'>q</a>", True),
    ('<a href="">e</a><img src="">'
     '<a href="https://other.net/page">ext</a>'
     '<img src="../_other.net/pic.jpg">', True),
    ('<a href="../p.html?a=1&amp;b=2">amp</a>'
     '<img srcset="s1.png  2x, ../abs/s2.png">', True),
    ("<style>.a { background: url(rel.png); }</style>", False),
    ("<!-- <style>.c{background:url(/no.png)}</style> -->"
     "<a href=../ok.html>o</a>", True),
    ("", False),
]


def page_url(i):
    return f"https://{HOST}/p/{i}" if i % 2 else f"https://{HOST}/d{i}/"


def test_process_page_rewrite_pinned():
    for i, text in enumerate(BODIES):
        _, got_text, got_changed = process_page(text, page_url(i), HOST)
        assert (got_text, got_changed) == WANT[i], f"body {i}"
        assert rewrite.rewrite_document(text, page_url(i), HOST) == WANT[i]


def test_process_page_refs_are_oracle_tag_lists():
    for i, text in enumerate(BODIES):
        refs, _, _ = process_page(text, page_url(i), HOST)
        spans = extract_spans(text, page_url(i))
        for tag in set(TAG_BY_KIND.values()):
            got = sorted({full for kind, full, *_ in refs
                          if TAG_BY_KIND[kind] == tag})
            assert got == tag_urls(spans, tag), f"body {i}, <{tag}>"
        for _, full, no_frag, scheme, host, path in refs:
            u = parse_url(full)
            assert (no_frag, scheme, host, path) == \
                (full.split("#", 1)[0], u.scheme, u.host, u.path)


def test_process_page_scans_once(monkeypatch):
    calls = []
    real = extract.scan_tags

    def counting(text):
        calls.append(text)
        return real(text)

    monkeypatch.setattr(extract, "scan_tags", counting)
    monkeypatch.setattr(rewrite, "scan_tags", counting)
    for i, text in enumerate(BODIES):
        calls.clear()
        process_page(text, page_url(i), HOST)
        assert len(calls) == 1, f"body {i}"


def test_process_page_no_rewrite_mode():
    text = '<a href="/x">k</a><img src="/i.png">'
    url = f"https://{HOST}/p"
    refs, out, changed = process_page(text, url, HOST, do_rewrite=False)
    assert refs == process_page(text, url, HOST)[0]
    assert out == text and changed is False

"""Ports of htmlindex/htmlindex_test.go + scraper/download_test.go fixtures."""

from goscrape_spark.functions.urlnorm import parse_url
from goscrape_spark.operators.cssx import css_extract, replace_css_urls
from goscrape_spark.operators.extract import extract_spans, tag_urls


def test_index_basic():
    # TestIndex (htmlindex/htmlindex_test.go:14-55)
    html = """
<html lang="es">
<a href="https://domain.com/wp-content/uploads/document.pdf" rel="doc">Guide</a>
<img src="/test.jpg"/>
</html>
"""
    spans = extract_spans(html, "https://domain.com/")
    assert tag_urls(spans, "a") == ["https://domain.com/wp-content/uploads/document.pdf"]
    assert tag_urls(spans, "img") == ["https://domain.com/test.jpg"]
    assert tag_urls(spans, "not-existing") == []
    # span sequence (media spans interleaved with text)
    media = [(s.kind, s.text, s.media_ref) for s in spans if s.kind != "text"]
    assert media == [
        ("a", "https://domain.com/wp-content/uploads/document.pdf",
         "https://domain.com/wp-content/uploads/document.pdf"),
        ("img", "/test.jpg", "https://domain.com/test.jpg"),
    ]
    texts = [s.text for s in spans if s.kind == "text"]
    assert texts == ["Guide"]


def test_index_img_srcset_and_body():
    # TestIndexImg (htmlindex/htmlindex_test.go:57-80)
    html = """
<html lang="es">
<body background="bg.jpg"></body>
<img src="test.jpg" srcset="test-480w.jpg 480w, test-800w.jpg 800w"/>
</body>
</html>
"""
    spans = extract_spans(html, "https://domain.com/")
    assert tag_urls(spans, "img") == [
        "https://domain.com/test-480w.jpg",
        "https://domain.com/test-800w.jpg",
        "https://domain.com/test.jpg",
    ]
    assert tag_urls(spans, "body") == ["https://domain.com/bg.jpg"]


def test_comments_and_data_uri_skipped_from_fetch_but_indexed():
    html = """
<body>
<!--embedded image-->
<img src='data:image/gif;base64,R0lGODlhAQABAAD/ACwAAAAAAQABAAACADs%3D=' />
</body>
"""
    spans = extract_spans(html, "https://example.org/")
    imgs = [s for s in spans if s.kind == "img"]
    # data URI is indexed (resolves to itself); admission rejects it later
    assert len(imgs) == 1 and imgs[0].media_ref.startswith("data:image/gif")
    # comment content must not appear as text span
    assert all("embedded image" not in s.text for s in spans)


def test_link_with_leading_space_and_fragment():
    # from TestScraperLinks fixture (scraper/scraper_test.go:48-55)
    html = ("<html><head>\n<link href=' https://example.org/style.css#fragment'"
            " rel='stylesheet' type='text/css'>\n</head><body>"
            "<a href=\"https://example.org/page2\">Example</a></body></html>")
    spans = extract_spans(html, "https://example.org/")
    assert tag_urls(spans, "link") == ["https://example.org/style.css#fragment"]
    assert tag_urls(spans, "a") == ["https://example.org/page2"]


def test_control_byte_ref_skipped():
    # htmlindex skips a ref url.Parse rejects (htmlindex/htmlindex.go:108-115)
    spans = extract_spans('<img src="/a\nb.png">', "https://h.org/")
    assert [s for s in spans if s.kind == "img"] == []


def test_style_tag_css_urls():
    # TestScraperInternalCss fixture (scraper/scraper_test.go:135-155)
    html = """
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
"""
    spans = extract_spans(html, "https://example.org/")
    assert tag_urls(spans, "style") == [
        "https://example.org/background.jpg",
        "https://example.org/bg3.jpg",
        "https://example.org/img/bg.jpg",
    ]
    # document order of style-url spans (token order, not sorted)
    style_spans = [s.text for s in spans if s.kind == "style-url"]
    assert style_spans == ["https://example.org/background.jpg", "/img/bg.jpg",
                           "bg3.jpg"]


def test_css_extract_cases():
    # TestCSSProcessor (scraper/download_test.go:12-46)
    base = parse_url("http://localhost")
    cases = [
        ("url('http://localhost/uri/between/single/quote')",
         "http://localhost/uri/between/single/quote"),
        ('url("http://localhost/uri/between/double/quote")',
         "http://localhost/uri/between/double/quote"),
        ("url(http://localhost/uri)", "http://localhost/uri"),
        ("url(data:image/gif;base64,R0lGODl)", ""),
        ("""div#gopher {
            background: url(/doc/gopher/frontpage.png) no-repeat;
            height: 155px;
            }""", "http://localhost/doc/gopher/frontpage.png"),
    ]
    for css, expected in cases:
        refs = css_extract(css, base)
        if expected == "":
            assert refs == []
        else:
            assert refs and refs[0].resolved == expected


def test_css_urls_in_comments_and_strings_skipped():
    base = parse_url("http://localhost")
    assert css_extract("/* url(a.png) */ body{}", base) == []
    assert css_extract('content: "url(a.png)";', base) == []
    assert [r.resolved for r in css_extract("b{background:url(a.png)}", base)] == [
        "http://localhost/a.png"]


def test_replace_css_urls():
    # golden from TestScraperInternalCss (scraper/scraper_test.go:190-194)
    css = ("url('https://example.org/background.jpg') url('/img/bg.jpg') "
           "url(bg3.jpg)")
    out = replace_css_urls("https://example.org/background.jpg",
                           "background.jpg", css)
    out = replace_css_urls("/img/bg.jpg", "img/bg.jpg", out)
    assert "url('background.jpg')" in out
    assert "url('img/bg.jpg')" in out
    assert "url(bg3.jpg)" in out  # unchanged refs stay untouched

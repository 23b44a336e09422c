"""Ports of scraper/checks_test.go (normalize + dedup) fixtures."""

import pytest

from goscrape_spark.functions.urlnorm import (
    GoURL,
    dedup_key,
    normalize_url_path,
    parse_url,
    resolve_reference,
    strip_fragment_str,
)

# TestNormalizeURLPath (scraper/checks_test.go:14-34)
NORMALIZE_CASES = [
    ("", "/"),
    ("/", "/"),
    ("/path", "/path"),
    ("/path/", "/path"),
    ("/path/to/resource", "/path/to/resource"),
    ("/path/to/resource/", "/path/to/resource"),
    ("/category/blog-post", "/category/blog-post"),
    ("/category/blog-post/", "/category/blog-post"),
]


def test_normalize_url_path():
    for inp, expected in NORMALIZE_CASES:
        assert normalize_url_path(inp) == expected, inp


def test_dedup_key_same_host_vs_external():
    seed_host = "example.com"
    # same host -> normalized path (checks_test.go:37-95)
    assert dedup_key(parse_url("https://example.com/category/blog-post"), seed_host) == "/category/blog-post"
    assert dedup_key(parse_url("https://example.com/category/blog-post/"), seed_host) == "/category/blog-post"
    # root (checks_test.go:97-128)
    assert dedup_key(parse_url("https://example.com/"), seed_host) == "/"
    assert dedup_key(parse_url("https://example.com"), seed_host) == "/"
    # external -> full URL string normalized (checks_test.go:130-161)
    assert dedup_key(parse_url("https://external.com/path.css"), seed_host) == "https://external.com/path.css"
    assert dedup_key(parse_url("https://external.com/path.css/"), seed_host) == "https://external.com/path.css"
    # same-host query ignored (key is Path only, checks.go:33-35)
    assert dedup_key(parse_url("https://example.com/p?q=1"), seed_host) == "/p"


def test_strip_fragment():
    assert strip_fragment_str("https://example.org/#fragment") == "https://example.org/"
    assert strip_fragment_str("https://example.org/a#b#c") == "https://example.org/a"
    assert strip_fragment_str("https://example.org/x") == "https://example.org/x"


def test_parse_url_components():
    u = parse_url("https://example.org/style.css#fragment")
    assert u == GoURL(scheme="https", host="example.org", path="/style.css",
                      fragment="fragment")
    d = parse_url("data:image/gif;base64,R0lGODlhAQABAAD%3D=")
    assert d.scheme == "data" and d.opaque.startswith("image/gif")
    assert d.string() == "data:image/gif;base64,R0lGODlhAQABAAD%3D="


def test_parse_url_rejects_control_bytes():
    # Go's url.Parse: "invalid control character in URL" before the first
    # '#' (urlsplit would silently drop \t\r\n and keep the rest)
    for raw in ("/a\nb.png", "/a\tb", "/a\x01b"):
        with pytest.raises(ValueError):
            parse_url(raw)
    # the fragment is cut off before the check
    assert parse_url("/a.png#x\x01") == GoURL(path="/a.png", fragment="x\x01")


def test_resolve_reference_basics():
    base = parse_url("https://example.org/")
    assert resolve_reference(base, parse_url("/sub/#fragment")).string() == "https://example.org/sub/#fragment"
    assert resolve_reference(base, parse_url("page2")).string() == "https://example.org/page2"
    # pathless base + relative ref roots the path
    assert resolve_reference(parse_url("https://petpic.xyz"), parse_url("brasil/index.html")).string() == "https://petpic.xyz/brasil/index.html"
    # absolute ref replaces
    assert resolve_reference(base, parse_url("https://other.com/x")).string() == "https://other.com/x"
    # data URI passes through
    assert resolve_reference(base, parse_url("data:image/gif;base64,AA")).string() == "data:image/gif;base64,AA"
    # dot segments
    assert resolve_reference(parse_url("https://x/a/b/"), parse_url("../c")).string() == "https://x/a/c"

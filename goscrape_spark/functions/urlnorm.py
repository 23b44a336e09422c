"""URL parsing, resolution, and admission-key normalization.

Pure-Python kernels mirroring Go's ``net/url`` for the subset of behavior the
reference exercises, plus Spark column-expression fast paths.

Reference semantics ported here:

- fragment strip at seed/enqueue/asset time (scraper/scraper.go:86,227,
  scraper/download.go:69): everything after the FIRST ``#``;
- trailing-slash normalization ``normalizeURLPath``
  (scraper/checks.go:13-22);
- dedup-key projection: same-host URL -> normalized *path*, external URL ->
  normalized full URL string, empty path -> "/" (scraper/checks.go:31-40);
- RFC 3986 reference resolution equivalent to Go
  ``(*url.URL).ResolveReference`` (used by htmlindex/htmlindex.go:108-115 and
  scraper/url.go:10-31).

Everything here is called either driver-side or inside Arrow/pandas UDF
batches — never as a row-at-a-time Python UDF.
"""

from __future__ import annotations

import re
from typing import NamedTuple
from urllib.parse import urlsplit

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Pure-Python kernel (simulator + UDF batches)
# ---------------------------------------------------------------------------


class GoURL(NamedTuple):
    """Component view of a URL matching Go ``net/url.URL`` closely enough for
    the reference's fixtures: scheme, host (netloc), path, query, fragment.

    ``opaque`` carries the scheme-specific part of non-hierarchical URIs
    (``data:``, ``mailto:``) so they round-trip unmodified.

    NamedTuple rather than a frozen dataclass: these are constructed ~85x
    per page inside the hot Arrow stage, and frozen-dataclass ``__init__``
    (object.__setattr__ per field) measurably lags tuple construction.
    """

    scheme: str = ""
    host: str = ""
    path: str = ""
    query: str = ""
    fragment: str = ""
    opaque: str = ""

    def string(self) -> str:
        """Go ``(*url.URL).String()`` for the cases we produce."""
        out = []
        if self.scheme:
            out.append(self.scheme + ":")
        if self.opaque:
            out.append(self.opaque)
        else:
            if self.host or (self.scheme and self.path.startswith("//")):
                out.append("//" + self.host)
            out.append(self.path)
        if self.query:
            out.append("?" + self.query)
        if self.fragment:
            out.append("#" + self.fragment)
        return "".join(out)


_HIER_SCHEMES = ("http", "https", "ftp", "file", "")

# a control byte (< 0x20 or 0x7f) before the first '#'
_CTL_BEFORE_FRAGMENT_RE = re.compile(r"[^#\x00-\x1f\x7f]*[\x00-\x1f\x7f]")


def parse_url(raw: str) -> GoURL:
    """Parse like Go ``url.Parse`` (no decoding; fixtures are pre-escaped).

    Raises ``ValueError`` on a control byte (< 0x20 or 0x7f) before the
    first ``#``, as Go does; ``urlsplit`` would drop ``\t\r\n`` instead."""
    if _CTL_BEFORE_FRAGMENT_RE.match(raw):
        raise ValueError("net/url: invalid control character in URL")
    s = urlsplit(raw)
    scheme = s.scheme
    # urlsplit treats "page2:..." colons conservatively; good enough here.
    if scheme and scheme not in _HIER_SCHEMES and not raw.startswith(scheme + "://"):
        # Opaque (non-hierarchical) URI: data:, mailto:, javascript: ...
        return GoURL(scheme=scheme, opaque=raw[len(scheme) + 1 :].split("#", 1)[0],
                     fragment=s.fragment)
    return GoURL(scheme=scheme, host=s.netloc, path=s.path, query=s.query,
                 fragment=s.fragment)


def _remove_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4, matching Go's ``resolvePath`` output (always rooted,
    preserves trailing slash for "." / ".." final segments)."""
    if path and path[0] == "/" and "/." not in path and "//" not in path:
        return path  # no dot-segments or empty segments: already clean
    out: list[str] = []
    segs = path.split("/")
    trailing_slash = path.endswith("/") or (segs and segs[-1] in (".", ".."))
    for seg in segs:
        if seg == "" or seg == ".":
            continue
        if seg == "..":
            if out:
                out.pop()
        else:
            out.append(seg)
    res = "/" + "/".join(out)
    if trailing_slash and not res.endswith("/"):
        res += "/"
    if res == "//":
        res = "/"
    return res


def resolve_reference(base: GoURL, ref: GoURL) -> GoURL:
    """Go ``base.ResolveReference(ref)``."""
    if ref.scheme != "" or ref.host != "":
        scheme = ref.scheme or base.scheme
        if ref.opaque:
            return ref._replace(scheme=scheme)
        path = _remove_dot_segments(ref.path) if ref.path else ""
        return GoURL(scheme=scheme, host=ref.host, path=path,
                     query=ref.query, fragment=ref.fragment)
    if ref.opaque:
        return ref
    query = ref.query
    if ref.path == "" and ref.query == "":
        query = base.query
    if ref.path == "":
        path = base.path
        if path and not path.startswith("/") and base.host:
            path = "/" + path
    elif ref.path.startswith("/"):
        path = _remove_dot_segments(ref.path)
    else:
        # merge paths (RFC 3986 §5.2.3)
        if base.host and base.path == "":
            merged = "/" + ref.path
        else:
            merged = base.path[: base.path.rfind("/") + 1] + ref.path
        path = _remove_dot_segments(merged)
    return GoURL(scheme=base.scheme, host=base.host, path=path,
                 query=query, fragment=ref.fragment)


def strip_fragment_str(url: str) -> str:
    """Everything after the first ``#`` is the fragment (scraper/scraper.go:86)."""
    return url.split("#", 1)[0]


def normalize_url_path(path: str) -> str:
    """Port of ``normalizeURLPath`` (scraper/checks.go:13-22)."""
    if path == "":
        return "/"
    if path != "/" and path.endswith("/"):
        return path[:-1]
    return path


def dedup_key(u: GoURL, seed_host: str) -> str:
    """Port of the key projection in ``shouldURLBeDownloaded``
    (scraper/checks.go:31-40): path for same-host, full URL string for
    external hosts, then trailing-slash normalization."""
    p = u.string() if u.host != seed_host else u.path
    if p == "":
        p = "/"
    return normalize_url_path(p)


# ---------------------------------------------------------------------------
# Spark column-expression fast paths (JVM-side, no Python)
# ---------------------------------------------------------------------------


def col_strip_fragment(url: Column) -> Column:
    """C2: fragment strip as a column expression (first '#')."""
    return F.substring_index(url, "#", 1)


def col_scheme(url: Column) -> Column:
    """Scheme of a URL column ('' when scheme-less)."""
    return F.when(url.rlike("^[A-Za-z][A-Za-z0-9+.-]*:"),
                  F.lower(F.regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*):", 1))
                  ).otherwise(F.lit(""))


def col_host(url: Column) -> Column:
    """Host (netloc) of an absolute URL column."""
    return F.regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)


def col_path(url: Column) -> Column:
    """Path of an absolute URL column (may be '')."""
    return F.regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)


def col_scheme_ok(scheme: Column) -> Column:
    """F1: keep only http/https (scraper/checks.go:27-29)."""
    return scheme.isin("http", "https")


def col_normalize_path(path: Column) -> Column:
    """F3: trailing-slash normalization as a column expression."""
    return (
        F.when(path == "", F.lit("/"))
        .when((path != "/") & path.endswith("/"),
              path.substr(F.lit(1), F.length(path) - 1))
        .otherwise(path)
    )


def col_dedup_key(url_no_frag: Column, host: Column, path: Column,
                  seed_host: Column) -> Column:
    """F2+F3: dedup-key projection as a column expression.

    ``url_no_frag`` must already be fragment-stripped; for external hosts the
    key is the full URL string which (for fragment-free URLs) equals the Go
    ``u.String()``.
    """
    base = F.when(host == seed_host, path).otherwise(url_no_frag)
    base = F.when(base == "", F.lit("/")).otherwise(base)
    return col_normalize_path(base)

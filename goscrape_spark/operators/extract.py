"""HTML → interleaved span extraction (C17, C10, C12).

Re-expresses the reference's htmlindex DOM walk (htmlindex/htmlindex.go:33-64,
101-155) as a single offset-tracking scan over the raw document text, emitting
the ``documents`` span schema of BASELINE.json:input_hint:

    (kind, text, media_ref, offset)

kinds: ``text`` (text runs), ``a``, ``img``, ``img-srcset``, ``link``,
``script``, ``body-bg``, ``style-url``.

The scanner also records raw value offsets (vstart/vend) so the rewrite stage
(operators/rewrite.py) can splice adjusted references into the ORIGINAL bytes
— sidestepping x/net/html's re-render normalization entirely (SURVEY §2.8
C18: parity target is span-sequence equality, not byte-identical renders).

Parser notes: the reference uses golang.org/x/net/html (a full HTML5 tree
builder).  For the extraction semantics that matter — start tags with their
attributes in document order, raw text content of style/script, comments
skipped — a tolerant scanner is equivalent on non-pathological markup and is
far cheaper inside Arrow batches.  Entities in attribute values and text are
decoded like x/net/html does.

Two walks read the scanned tags: :func:`extract_spans` (the oracle's) and
:func:`media_refs` (the crawl's).  The crawl's :func:`process_page` scans a
body once and hands its tags to :func:`media_refs` and to the rewrite.

Spark surface: :func:`process_pages_df` (the crawl's page pass),
:func:`extract_spans_df` (exploded span rows) and :func:`documents_table`
(span-array form), each running the scanner inside Arrow batches.
"""

from __future__ import annotations

import html as _htmlmod
import re
from typing import Iterator, NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.urlmath import get_file_path, split_srcset
from ..functions.urlnorm import GoURL, parse_url, resolve_reference
from .cssx import css_extract

# Tags and their URL-bearing attributes (htmlindex/attributes.go:54-81).
NODES: dict[str, list[str]] = {
    "a": ["href"],
    "body": ["background"],
    "img": ["src", "data-src", "srcset", "data-srcset"],
    "link": ["href"],
    "script": ["src"],
    "style": [],  # css text content, parsed by the style parser
}

SRCSET_ATTRIBUTES = {"srcset", "data-srcset"}

# kind emitted per (tag, attr-class)
_KIND_BY_TAG = {"a": "a", "body": "body-bg", "img": "img", "link": "link",
                "script": "script"}

# tag that owns each span kind, for rebuilding per-tag URL lists (A1/A2)
TAG_BY_KIND = {"a": "a", "img": "img", "img-srcset": "img", "link": "link",
               "script": "script", "body-bg": "body", "style-url": "style"}

# Raw-text elements: content is not parsed for tags (x/net/html behavior).
_RAW_TEXT_TAGS = {"script", "style", "textarea", "title", "xmp", "iframe",
                  "noembed", "noframes"}

_ATTR_RE = re.compile(
    r"""\s*([^\s/>=]+)(?:\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s>]*)))?"""
)


# NamedTuples, not frozen dataclasses: constructed per attr/tag/span in the
# hot Arrow stage, where frozen-dataclass __init__ overhead is measurable.
class Attr(NamedTuple):
    name: str
    value: str      # entity-decoded raw value (NOT trimmed)
    vstart: int     # raw value span in document text (excludes quotes)
    vend: int
    quote: str      # '"', "'", or '' for unquoted/value-less


class Tag(NamedTuple):
    name: str
    attrs: tuple[Attr, ...]
    start: int
    end: int        # end of the start tag ('>' + 1)
    tag_idx: int
    content_start: int = -1  # raw-text content range (style/script), else -1
    content_end: int = -1


class Span(NamedTuple):
    kind: str
    text: str
    media_ref: str
    offset: int
    tag_idx: int = -1
    attr: str = ""
    vstart: int = -1
    vend: int = -1
    token: str = ""  # full css token for style-url spans


# one scanner dispatch regex: comments, declarations/PIs, close tags, or a
# start tag name — searched from the current position (C-speed skipping)
_MARKUP_RE = re.compile(
    r"<(?:(?P<comment>!--)|(?P<decl>[!?])|(?P<close>/)"
    r"|(?P<name>[a-zA-Z][a-zA-Z0-9:-]*))")

# skip a start tag's body (respecting quoted '>' inside attribute values)
_TAG_BODY_RE = re.compile(r"""(?:"[^"]*"|'[^']*'|[^>"'])*""")

# tags whose attributes we actually need to parse (URL-bearing, NODES)
_PARSE_ATTR_TAGS = frozenset(NODES)

_CLOSE_RES = {t: re.compile(r"</" + t + r"[\s>/]", re.I)
              for t in _RAW_TEXT_TAGS}


def scan_tags(text: str) -> tuple[list[Tag], list[tuple[int, int]]]:
    """Scan document text; return (tags in document order, text runs).

    Regex-driven: markup boundaries and attribute lists are matched by
    compiled patterns (C speed); per-attribute Python work happens only for
    the six URL-bearing tags."""
    tags: list[Tag] = []
    text_runs: list[tuple[int, int]] = []
    pos, n = 0, len(text)
    tag_idx = 0
    run_start = 0

    def flush_run(end: int) -> None:
        nonlocal run_start
        if end > run_start:
            text_runs.append((run_start, end))

    while pos < n:
        m = _MARKUP_RE.search(text, pos)
        if m is None:
            flush_run(n)
            break
        lt = m.start()
        kind = m.lastgroup
        if kind == "comment":
            flush_run(lt)
            close = text.find("-->", m.end())
            pos = n if close == -1 else close + 3
            run_start = pos
            continue
        if kind != "name":  # declaration/PI or close tag
            flush_run(lt)
            close = text.find(">", lt)
            pos = n if close == -1 else close + 1
            run_start = pos
            continue
        flush_run(lt)
        name = m.group("name").lower()
        bm = _TAG_BODY_RE.match(text, m.end())
        body_end = bm.end()
        self_closing = body_end > m.end() and text[body_end - 1] == "/"
        end = body_end + 1 if body_end < n else n  # consume '>'

        attrs: list[Attr] = []
        if name in _PARSE_ATTR_TAGS and body_end > m.end():
            seen_names: set[str] = set()
            for am in _ATTR_RE.finditer(text, m.end(), body_end):
                aname = am.group(1).lower()
                li = am.lastindex
                if li == 2:
                    raw, q, vstart = am.group(2), '"', am.start(2)
                elif li == 3:
                    raw, q, vstart = am.group(3), "'", am.start(3)
                elif li == 4:
                    raw, q, vstart = am.group(4), "", am.start(4)
                else:
                    raw, q, vstart = "", "", am.end()
                if aname not in seen_names:  # HTML5: first duplicate wins
                    seen_names.add(aname)
                    attrs.append(Attr(name=aname,
                                      value=_htmlmod.unescape(raw),
                                      vstart=vstart,
                                      vend=vstart + len(raw), quote=q))

        content_start = content_end = -1
        if name in _RAW_TEXT_TAGS and not self_closing:
            cm = _CLOSE_RES[name].search(text, end)
            if cm:
                content_start, content_end = end, cm.start()
                gt = text.find(">", cm.start())
                end = n if gt == -1 else gt + 1
            else:
                content_start, content_end = end, n
                end = n
        tags.append(Tag(name=name, attrs=tuple(attrs), start=lt, end=end,
                        tag_idx=tag_idx, content_start=content_start,
                        content_end=content_end))
        tag_idx += 1
        pos = end
        run_start = pos
    return tags, text_runs


def extract_spans(text: str, base_url: str) -> list[Span]:
    """C17: document text -> span sequence in document order.

    ``media_ref`` is the reference resolved against ``base_url`` exactly as
    htmlindex does (htmlindex/htmlindex.go:108-115); unresolvable refs are
    skipped (ibid:110).
    """
    base = parse_url(base_url)
    tags, text_runs = scan_tags(text)
    events: list[tuple[int, Span]] = []
    offset = 0  # assigned after sorting by position
    for tag in tags:
        if tag.name == "style":
            # styleParser (htmlindex/htmlindex.go:175-191): css refs of the
            # text child, resolved against the page URL.
            if tag.content_start < 0 or tag.content_end <= tag.content_start:
                continue
            css_text = text[tag.content_start : tag.content_end]
            for ref in css_extract(css_text, base):
                events.append(((tag.content_start + ref.start, 0), Span(
                    kind="style-url", text=ref.src, media_ref=ref.resolved,
                    offset=-1, tag_idx=tag.tag_idx, attr="",
                    vstart=tag.content_start, vend=tag.content_end,
                    token=ref.token)))
            continue
        attrlist = NODES.get(tag.name)
        if attrlist is None:
            continue
        for attr in tag.attrs:
            if attr.name not in attrlist:
                continue
            value = attr.value.strip()  # TrimSpace (htmlindex.go:128)
            if attr.name in SRCSET_ATTRIBUTES:
                for k, cand in enumerate(split_srcset(value)):
                    ref = _resolve_or_none(base, cand)
                    if ref is None:
                        continue
                    events.append(((attr.vstart, k), Span(
                        kind="img-srcset", text=cand, media_ref=ref,
                        offset=-1, tag_idx=tag.tag_idx, attr=attr.name,
                        vstart=attr.vstart, vend=attr.vend)))
            else:
                ref = _resolve_or_none(base, value)
                if ref is None:
                    continue
                events.append(((attr.vstart, 0), Span(
                    kind=_KIND_BY_TAG[tag.name], text=value, media_ref=ref,
                    offset=-1, tag_idx=tag.tag_idx, attr=attr.name,
                    vstart=attr.vstart, vend=attr.vend)))
    for rs, re_ in text_runs:
        raw = text[rs:re_]
        if raw.strip() == "":
            continue
        events.append(((rs, 0), Span(kind="text", text=_htmlmod.unescape(raw),
                                     media_ref="", offset=-1,
                                     vstart=rs, vend=re_)))
    events.sort(key=lambda e: e[0])
    out = []
    for offset, (_, sp) in enumerate(events):
        out.append(Span(kind=sp.kind, text=sp.text, media_ref=sp.media_ref,
                        offset=offset, tag_idx=sp.tag_idx, attr=sp.attr,
                        vstart=sp.vstart, vend=sp.vend, token=sp.token))
    return out


def _resolve_or_none(base: GoURL, reference: str) -> str | None:
    try:
        return resolve_reference(base, parse_url(reference)).string()
    except ValueError:
        return None


def media_refs(text: str, tags: list[Tag], base: GoURL) -> list[tuple]:
    """The crawl's refs of a page, one ``(kind, media_ref, ref_no_frag,
    scheme, host, path)`` per ref :func:`extract_spans` resolves, over tags
    scanned from ``text`` and the parsed page URL ``base``.  Offsets and
    text runs are dead weight for :func:`page_candidates`; the URL parts
    fall out of the resolver and spare admission three JVM regexes a row.
    """
    out: list[tuple] = []

    def emit(kind: str, u) -> None:
        full = u.string()
        no_frag = full.split("#", 1)[0]
        out.append((kind, full, no_frag, u.scheme, u.host, u.path))

    for tag in tags:
        if tag.name == "style":
            if tag.content_start < 0 or tag.content_end <= tag.content_start:
                continue
            for ref in css_extract(text[tag.content_start:tag.content_end],
                                   base):
                try:
                    emit("style-url", parse_url(ref.resolved))
                except ValueError:
                    continue
            continue
        attrlist = NODES.get(tag.name)
        if attrlist is None:
            continue
        for attr in tag.attrs:
            if attr.name not in attrlist:
                continue
            value = attr.value.strip()
            if attr.name in SRCSET_ATTRIBUTES:
                for cand in split_srcset(value):
                    try:
                        emit("img-srcset",
                             resolve_reference(base, parse_url(cand)))
                    except ValueError:
                        continue
            else:
                try:
                    emit(_KIND_BY_TAG[tag.name],
                         resolve_reference(base, parse_url(value)))
                except ValueError:
                    continue
    return out


def process_page(text: str, page_url: str, seed_host: str,
                 do_rewrite: bool = True) -> tuple[list[tuple], str, bool]:
    """``(refs, new_text, changed)``: :func:`media_refs` and, unless
    ``do_rewrite`` is false (binary bodies: ``text`` and False come back),
    :func:`rewrite.rewrite_tags`, both over ONE :func:`scan_tags` pass (the
    scan was ~46% of the pass's Python cost, OPTIMIZATION_r06.md)."""
    from .rewrite import rewrite_tags  # rewrite imports this module
    base = parse_url(page_url)
    tags, _ = scan_tags(text)
    refs = media_refs(text, tags, base)
    if not do_rewrite:
        return refs, text, False
    return (refs, *rewrite_tags(text, tags, base, seed_host))


def tag_urls(spans: list[Span], tag: str) -> list[str]:
    """A1/A2: distinct, lexicographically sorted reference URLs for a tag
    (htmlindex/htmlindex.go:67-89)."""
    refs = {s.media_ref for s in spans
            if TAG_BY_KIND.get(s.kind) == tag and s.media_ref}
    return sorted(refs)


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------

SPAN_FIELDS = ("kind string, text string, media_ref string, offset int, "
               "tag_idx int, attr string, vstart int, vend int, token string")

EXPLODED_SCHEMA = "url string, " + SPAN_FIELDS


def _decode(body) -> str:
    if body is None:
        return ""
    if isinstance(body, (bytes, bytearray, memoryview)):
        return bytes(body).decode("utf-8", errors="replace")
    return str(body)


PROCESSED_SCHEMA = (
    "url string, seq bigint, file_path string, body binary, "
    "is_page boolean, cands array<struct<stage_rank:int, sub_rank:int, "
    "intra1:int, intra2:int, url:string, scheme:string, host:string, "
    "path:string, is_asset:boolean, stage:string, dedup_key:string, "
    "file_path:string>>")

# the per-page candidate stages in the sequential loop's consideration
# order (scraper/download.go:19-65, scraper/scraper.go:219-233):
# (tag, stage_rank, is_asset, stage).  Rank 5 carries ONLY the img refs,
# although the sequential loop also re-enqueues the body-bg refs at the
# head of the images queue (scraper/download.go:28-31): a body ref at
# (P, rank 5) always loses first-wins to the SAME key at (P, rank 3), so
# those rows are unobservable.  Rank 5's css-discovered refs come later,
# at sub_rank 1 (plans/crawl._css_candidates).
CAND_STAGES = (("link", 1, True, "link"), ("script", 2, True, "script"),
               ("body", 3, True, "body"), ("style", 4, True, "style"),
               ("img", 5, True, "image"), ("a", 6, False, "a"))


def ref_dedup_key(ref_no_frag: str, host: str, path: str,
                  seed_host: str) -> str:
    """The shouldURLBeDownloaded key projection (scraper/checks.go:31-40)
    on pre-split URL parts: path for same-host, full fragment-free URL for
    external, '' -> '/', trailing slash dropped.  Mirrors
    functions.urlnorm.dedup_key / col_dedup_key exactly."""
    base = path if host == seed_host else ref_no_frag
    if base == "":
        base = "/"
    if base != "/" and base.endswith("/"):
        base = base[:-1]
    return base


def page_candidates(refs: list[tuple], seed_host: str,
                    outdir: str) -> list[dict]:
    """A page's admission candidates in consideration order, built from
    its :func:`process_page` refs.

    Per tag (CAND_STAGES), the distinct refs sorted by (media_ref,
    ref_no_frag, scheme, host, path, dedup_key): htmlindex's distinct,
    lexicographically sorted per-tag URL lists (htmlindex/htmlindex.go:
    67-89, A2/O1).  media_ref leads, so refs sort by the full reference
    WITH fragment like the index's sort.Strings; fragment duplicates stay
    separate candidates for first-wins admission to collapse.  Python
    orders str by code point, which is the UTF-8 byte order Spark uses to
    sort strings.  ``intra1`` is the index in the tag's list.

    Non-http(s) refs are dropped: the reference's scheme check precedes
    the seen insert (scraper/checks.go:27-29), so they are observable
    nowhere.  Each asset carries the output path its fileExists check
    compares (scraper/fileutil.go:25-53, scraper/download.go:76-79); a
    link's ``file_path`` is None."""
    by_tag: dict[str, set] = {}
    for kind, full, no_frag, scheme, host, path in refs:
        if scheme in ("http", "https"):
            by_tag.setdefault(TAG_BY_KIND[kind], set()).add(
                (full, no_frag, scheme, host, path,
                 ref_dedup_key(no_frag, host, path, seed_host)))
    out = []
    for tag, rank, is_asset, stage in CAND_STAGES:
        for i, (_, url, scheme, host, path, key) in enumerate(
                sorted(by_tag.get(tag, ()))):
            out.append({
                "stage_rank": rank, "sub_rank": 0, "intra1": i, "intra2": 0,
                "url": url, "scheme": scheme, "host": host, "path": path,
                "is_asset": is_asset, "stage": stage, "dedup_key": key,
                "file_path": get_file_path(parse_url(url), seed_host,
                                           outdir, False)
                if is_asset else None})
    return out


def process_pages_df(pages: "DataFrame", seed_host: str,
                     outdir: str) -> "DataFrame":
    """FUSED per-page pass: media-ref extraction (C17/A1), binary sniff
    (F11), offline rewrite (C4-C18), output paths (C7/C8) and the page's
    admission candidates in ONE Arrow stage — each page body crosses the
    JVM->Python boundary exactly once per epoch (separate extract/rewrite/
    path stages shipped it three times; the boundary copy, not the
    parsing, dominates at ~KB-sized pages).

    ``cands`` is already in admission order (:func:`page_candidates`):
    stage-ranked, per-tag distinct and sorted, each with its precomputed
    ``dedup_key`` and, for assets, its output ``file_path``.  The crawl
    turns it into candidate rows with one JVM-side ``explode``
    (plans/crawl.page_candidate_rows); the work a UDF has already done is
    not re-derived around its boundary.

    Input: (url, body, seq).  Output: PROCESSED_SCHEMA, one row per
    page, ``body`` already rewritten for pages / raw for binaries
    (scraper/scraper.go:240-273 storeDownload semantics)."""
    from ..functions.filetype import sniff_extension

    def run(batches) -> Iterator:
        import pandas as pd

        for pdf in batches:
            fps, outs, isp, cands = [], [], [], []
            for url, body in zip(pdf["url"], pdf["body"]):
                raw = bytes(body) if body is not None else b""
                is_page = sniff_extension(raw) == ""
                refs, new_text, changed = process_page(
                    _decode(raw), url, seed_host, do_rewrite=is_page)
                fps.append(get_file_path(parse_url(url), seed_host, outdir,
                                         is_page))
                outs.append(new_text.encode("utf-8") if changed else raw)
                isp.append(is_page)
                cands.append(page_candidates(refs, seed_host, outdir))
            yield pd.DataFrame({"url": pdf["url"], "seq": pdf["seq"],
                                "file_path": fps, "body": outs,
                                "is_page": isp, "cands": cands})

    return pages.select("url", "body", "seq") \
                .mapInPandas(run, schema=PROCESSED_SCHEMA)


def extract_spans_df(fetched: DataFrame) -> DataFrame:
    """url+body rows -> exploded span rows, one Arrow batch at a time.

    Input: DataFrame with (url string, body binary).  Output: one row per
    span with the internal schema (url, kind, text, media_ref, offset,
    tag_idx, attr, vstart, vend, token).
    """

    def run(batches) -> Iterator:
        import pandas as pd

        cols = ("url", "kind", "text", "media_ref", "offset", "tag_idx",
                "attr", "vstart", "vend", "token")
        for pdf in batches:
            data: dict[str, list] = {c: [] for c in cols}
            for url, body in zip(pdf["url"], pdf["body"]):
                text = _decode(body)
                for s in extract_spans(text, url):
                    data["url"].append(url)
                    data["kind"].append(s.kind)
                    data["text"].append(s.text)
                    data["media_ref"].append(s.media_ref)
                    data["offset"].append(s.offset)
                    data["tag_idx"].append(s.tag_idx)
                    data["attr"].append(s.attr)
                    data["vstart"].append(s.vstart)
                    data["vend"].append(s.vend)
                    data["token"].append(s.token)
            yield pd.DataFrame(data)

    return fetched.select("url", "body").mapInPandas(
        run, schema=EXPLODED_SCHEMA)


def documents_table(fetched: DataFrame) -> DataFrame:
    """The BASELINE.json:input_hint table: (doc_id, spans array<struct>)."""
    exploded = extract_spans_df(fetched)
    return (
        exploded
        .groupBy(F.col("url").alias("doc_id"))
        .agg(F.array_sort(F.collect_list(F.struct(
            F.col("offset"), F.col("kind"), F.col("text"), F.col("media_ref"),
        ))).alias("_spans"))
        .select("doc_id", F.transform(
            "_spans", lambda s: F.struct(
                s["kind"].alias("kind"), s["text"].alias("text"),
                s["media_ref"].alias("media_ref"), s["offset"].alias("offset"))
        ).alias("spans"))
    )

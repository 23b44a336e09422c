"""Offline link rewriting: splice adjusted references into original bytes.

Ports the reference's rewrite stage (scraper/html.go:26-179):

- ``fixURLReferences``/``fixHTMLNodeURLs`` — per-node attribute rewrite via
  ``resolveURL`` (C4) / ``resolveSrcSetURLs`` (C11);
- ``fixScriptNodeURL``  — <style> block rewrite via css extraction +
  ``replaceCSSUrls`` (C13/C14);
- F9 ignored prefixes (scraper/html.go:17-22): a value starting with
  ``#``, ``/#``, ``data:``, ``mailto:`` aborts rewriting of the WHOLE node
  (the reference returns from fixNodeURL inside its attr loop).

Unlike the reference we do not re-render a DOM: adjusted values are spliced
into the original text at the scanner-recorded offsets, so unrelated bytes
are preserved exactly (the reference's ``html.Render`` normalizes markup —
SURVEY §2.8 C18 sets span-sequence equality as the parity target instead).

The reference's CSS-FILE rewrite (cssProcessor, scraper/download.go:104-131)
is knowingly dead code: it keys its rewrite map by the full ``url(...)``
token and ``replaceCSSUrls`` wraps the key in ``url(...)`` again, so no
replacement ever matches.  Downloaded CSS assets are therefore stored
byte-identical; only asset DISCOVERY works.  We reproduce that (see
plans/simulator.py and plans/crawl.py).

This module is the only rewrite.  The simulator calls
:func:`rewrite_document`; the crawl's page pass
(operators/extract.process_page) calls :func:`rewrite_tags` on the tags
of the one scan it also extracts the page's refs from.
"""

from __future__ import annotations

from ..functions.urlmath import (
    resolve_srcset_urls,
    resolve_url,
    url_relative_to_root,
)
from ..functions.urlnorm import GoURL, parse_url
from .cssx import css_extract, rewrite_style_content
from .extract import NODES, SRCSET_ATTRIBUTES, Tag, scan_tags

# scraper/html.go:17-22
IGNORED_URL_PREFIXES = ("#", "/#", "data:", "mailto:")


def _escape_attr(value: str, quote: str) -> str:
    """Minimal escaping for splicing a value back into its quoting context."""
    value = value.replace("&", "&amp;")
    if quote == '"':
        value = value.replace('"', "&#34;")
    elif quote == "'":
        value = value.replace("'", "&#39;")
    return value


def rewrite_document(text: str, page_url: str, main_page_host: str) -> tuple[str, bool]:
    """C16+C14: rewrite all URL references of a page to relative offline
    paths.  Returns (new_text, changed) — ``changed`` mirrors the
    reference's hasChanges (scraper/html.go:31-39)."""
    return rewrite_tags(text, scan_tags(text)[0], parse_url(page_url),
                        main_page_host)


def rewrite_tags(text: str, tags: list[Tag], base: GoURL,
                 main_page_host: str) -> tuple[str, bool]:
    """:func:`rewrite_document` over tags already scanned from ``text``
    (``scan_tags(text)[0]``) and its parsed page URL ``base``."""
    relative_to_root = url_relative_to_root(base)
    edits: list[tuple[int, int, str]] = []
    changed = False

    for tag in tags:
        if tag.name == "style":
            if tag.content_start < 0 or tag.content_end <= tag.content_start:
                continue
            css_text = text[tag.content_start : tag.content_end]
            rewrites: dict[str, str] = {}
            for ref in css_extract(css_text, base):
                adjusted = resolve_url(base, ref.src, main_page_host, False,
                                       relative_to_root)
                if adjusted != ref.src:
                    rewrites[ref.src] = adjusted
            if rewrites:
                new_css = rewrite_style_content(css_text, rewrites)
                edits.append((tag.content_start, tag.content_end, new_css))
                changed = True
            continue

        attrlist = NODES.get(tag.name)
        if attrlist is None:
            continue
        is_hyperlink = tag.name == "a"
        node_changed = False
        for attr in tag.attrs:
            if attr.name not in attrlist:
                continue
            value = attr.value.strip()
            if value == "":
                continue
            if value.startswith(IGNORED_URL_PREFIXES):
                # Reference quirk (scraper/html.go:87-91): an ignored prefix
                # returns false from fixNodeURL for the WHOLE node — earlier
                # attrs of this node stay mutated in the tree but do not
                # count toward hasChanges.
                node_changed = False
                break
            if attr.name in SRCSET_ATTRIBUTES:
                adjusted = resolve_srcset_urls(base, value, main_page_host,
                                               is_hyperlink, relative_to_root)
            else:
                adjusted = resolve_url(base, value, main_page_host,
                                       is_hyperlink, relative_to_root)
            if adjusted == value:
                continue
            edits.append((attr.vstart, attr.vend,
                          _escape_attr(adjusted, attr.quote)))
            node_changed = True
        changed = changed or node_changed

    if not edits or not changed:
        return text, False
    edits.sort(key=lambda e: e[0])
    out: list[str] = []
    pos = 0
    for start, end, repl in edits:
        if start < pos:
            continue  # overlapping edit (duplicate attr) — first wins
        out.append(text[pos:start])
        out.append(repl)
        pos = end
    out.append(text[pos:])
    return "".join(out), changed

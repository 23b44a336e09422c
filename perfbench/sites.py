"""Deterministic benchmark web sites, derived only from (shape, seed).

A site is a dict ``url -> body bytes``.  The root links to ``n_pages``
pages and to ``n_gone`` planted missing pages; every other page links back
to the root and to a sibling (already-seen URLs, so admission has
duplicates to reject).  Every page carries relative and absolute image
references.  Missing URLs are simply absent from the dict: the mock fetch
reports them as ``missing`` and the live server answers them with 404.

The seed picks which page shows which image, the filler words and the
missing pages' names.  Every image is shown by at least one page, so the
set of fetched URLs has the same size and mix for every seed, as do the
page count and page size: every seed costs the same amount of work.

This module imports nothing from the package under test, so a change to
the package cannot change the workload.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

WORDS = ("lorem ipsum dolor sit amet consectetur adipiscing elit sed do "
         "eiusmod tempor incididunt ut labore et dolore magna aliqua enim "
         "minim veniam quis nostrud exercitation ullamco laboris nisi "
         "aliquip commodo consequat duis aute irure").split()


@dataclass(frozen=True)
class Shape:
    n_pages: int          # pages the root links to
    n_gone: int           # planted missing pages the root links to
    n_assets: int         # image ids shared by all pages; at most n_pages + 1
    filler_words: int     # text words per page (fixes the page size)


# Both sites are two levels deep (the root and the pages it links), so a
# crawl runs two epochs: on a 4-core host the first crawl in a fresh JVM
# costs 25-60 s, mostly fixed per-epoch work, and the benchmark's whole
# time budget allows about one such crawl per run.  No page links a
# stylesheet: CSS discovery adds an admission round (about 10 s of a cold
# crawl), which the budget does not allow.
SHAPES = {
    "wide": Shape(n_pages=1024, n_gone=4, n_assets=400, filler_words=220),
    "live": Shape(n_pages=100, n_gone=4, n_assets=80, filler_words=220),
}


def shape_key(shape_name: str) -> str:
    """Changes whenever the site of ``shape_name`` may change: a hash of its
    Shape and of this module's source."""
    with open(__file__, "rb") as f:
        src = f.read()
    return hashlib.sha256(repr(SHAPES[shape_name]).encode() + src) \
        .hexdigest()[:16]


def page_path(i: int) -> str:
    return "/" if i == 0 else f"/p/{i}"


def build_site(shape_name: str, seed: int, seed_base: str,
               asset_bases: list[str]) -> tuple[dict[str, bytes], set[str]]:
    """Return ``(resources, planted)``: every URL the site serves with its
    body, and the referenced URLs that are deliberately missing.  Image
    ``a`` lives on asset host ``a % len(asset_bases)``."""
    shape = SHAPES[shape_name]
    rng = random.Random(f"{shape_name}:{seed}")
    n = shape.n_pages
    res: dict[str, bytes] = {}
    planted = {f"{seed_base}/gone/{g}"
               for g in rng.sample(range(10 * n), shape.n_gone)}

    def asset(url: str) -> None:
        res[url] = PNG_MAGIC + url.encode()

    # page i shows image shown[i]: every id once in the first n_assets
    # pages, then again in a seeded order, so ids repeat across pages
    shown = [a for _ in range(-(-(n + 1) // shape.n_assets))
             for a in rng.sample(range(shape.n_assets), shape.n_assets)]
    for i in range(n + 1):
        if i == 0:
            targets = [page_path(k) for k in range(1, n + 1)] + sorted(
                u[len(seed_base):] for u in planted)
        else:
            # the root and a sibling: both already seen when this is parsed
            targets = ["/", page_path(i % n + 1)]
        a = shown[i]
        words = " ".join(rng.choice(WORDS) for _ in range(shape.filler_words))
        links = "\n".join(f'<a href="{t}">link</a>' for t in targets)
        body = (f"<html><head><title>page {i}</title><style>h1 {{ background: "
                f"url('/img/bg{i % 17}.png'); }}</style></head>\n<body>\n"
                f"<h1>page {i}</h1>\n<p>{words}</p>\n"
                f'<img src="{asset_bases[a % len(asset_bases)]}/img/{a}.png" '
                f'srcset="/img/s{a}-480.png 480w, /img/s{a}-800.png 800w">\n'
                f"{links}\n</body></html>\n")
        res[seed_base + page_path(i)] = body.encode()

    for b in range(17):
        asset(f"{seed_base}/img/bg{b}.png")
    for a in range(shape.n_assets):
        asset(f"{asset_bases[a % len(asset_bases)]}/img/{a}.png")
        asset(f"{seed_base}/img/s{a}-480.png")
        if a % 13:
            asset(f"{seed_base}/img/s{a}-800.png")
        else:
            planted.add(f"{seed_base}/img/s{a}-800.png")
    return res, planted

"""Randomized crawl parity: seeded random mock sites, Spark vs oracle.

Generates small random webs (pages with random links/images/css, trailing
slashes, fragments, duplicates, external refs, missing targets) and asserts
exact seen-set + fetch-order equality between the epoch-synchronous Spark
crawler and the sequential oracle.  Deterministic via fixed seeds.
"""

import random

from goscrape_spark.config import CrawlConfig
from goscrape_spark.plans.crawl import crawl
from goscrape_spark.plans.simulator import crawl_sequential
from goscrape_spark.sources.fixtures import pages_df


def make_site(seed: int, n_pages: int = 12):
    rng = random.Random(seed)
    host = "rnd.example.org"
    urls = [f"https://{host}/"] + [
        f"https://{host}/p{i}" + ("/" if rng.random() < 0.3 else "")
        for i in range(1, n_pages)]
    pages = {}
    for i, u in enumerate(urls):
        parts = []
        for _ in range(rng.randint(1, 4)):
            t = rng.choice(urls)
            frag = "#f" if rng.random() < 0.3 else ""
            parts.append(f'<a href="{t}{frag}">x</a>')
        if rng.random() < 0.6:
            parts.append(f'<img src="/img/{rng.randint(0, 5)}.png">')
        if rng.random() < 0.4:
            parts.append(f'<link href="/css/{rng.randint(0, 2)}.css" rel="stylesheet">')
        if rng.random() < 0.3:
            parts.append(f'<img src="https://ext{rng.randint(0, 2)}.com/x.png">')
        if rng.random() < 0.3:
            parts.append(f"<style>h1 {{ background: url('/img/{rng.randint(0, 5)}.png'); }}</style>")
        pages[u] = f"<html><body>{''.join(parts)}</body></html>"
    for i in range(6):
        if rng.random() < 0.8:  # some images 404
            pages[f"https://{host}/img/{i}.png"] = "px"
    for i in range(3):
        pages[f"https://{host}/css/{i}.css"] = \
            f"body {{ background: url(/img/{i}.png); }}"
    for i in range(3):
        if rng.random() < 0.5:
            pages[f"https://ext{i}.com/x.png"] = "ext"
    return pages


def test_random_sites_parity(spark):
    for seed in (7, 23, 99):
        pages = make_site(seed)
        cfg = CrawlConfig(url="https://rnd.example.org/")
        sim = crawl_sequential(cfg, pages)
        res = crawl(spark, cfg, pages_df(spark, pages))
        assert res.seen_set() == sim.seen, f"seed {seed}: seen mismatch"
        assert [(r.url, r.kind, r.status, r.depth)
                for r in res.ordered_fetches()] == \
               [(f.url, f.kind, f.status, f.depth) for f in sim.fetches], \
               f"seed {seed}: order mismatch"


def test_random_site_parity_with_depth_and_regex(spark):
    pages = make_site(41, n_pages=15)
    cfg = CrawlConfig(url="https://rnd.example.org/", max_depth=2,
                      excludes=["p1$"])
    sim = crawl_sequential(cfg, pages)
    res = crawl(spark, cfg, pages_df(spark, pages))
    assert res.seen_set() == sim.seen
    assert [(r.url, r.kind, r.depth) for r in res.ordered_fetches()] == \
           [(f.url, f.kind, f.depth) for f in sim.fetches]

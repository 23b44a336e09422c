"""Round-5 regression tests: seen/written union-chain compaction and the
fixpoint signature."""

from goscrape_spark.config import CrawlConfig
from goscrape_spark.plans.crawl import Crawler
from goscrape_spark.sources.fixtures import pages_df


def test_union_chain_compaction_bounds_plan_depth(spark, monkeypatch):
    """A deep chain crawl must keep the per-epoch seen/written plans
    O(COMPACT_EVERY), not O(epoch): the union chain collapses into one
    checkpointed table every K epochs, with unchanged crawl semantics.

    Semantics are asserted directly (compaction is load-bearing here: the
    crawl joins candidates against `seen` EVERY epoch, so a key lost in
    compaction would re-admit its page and a phantom key would cut the
    chain short — epoch count, one-fetch-per-page, and the exact final
    key membership all pin it)."""
    n = 12
    chain = {f"https://example.org/p{i}":
             f'<html><a href="/p{i + 1}">next</a></html>' for i in range(n)}
    chain[f"https://example.org/p{n}"] = "<html>end</html>"
    cfg = CrawlConfig(url="https://example.org/p0")  # max_depth 0 = unlimited

    monkeypatch.setattr(Crawler, "COMPACT_EVERY", 4)
    res = Crawler(spark, cfg, pages_df(spark, chain)).run()
    assert res.epochs == n + 1                       # chain fully walked
    seen_rows = res.seen.collect()
    assert len(seen_rows) == n + 1                   # no dup, no phantom
    assert {r.dedup_key for r in seen_rows} == \
        {f"/p{i}" for i in range(n + 1)}  # same-host keys are path-scoped
    assert res.fetch_log.count() == n + 1            # each page once
    # final seen plan: at most ~(epochs % K) union legs, not ~epochs
    plan = res.seen._jdf.queryExecution().analyzed().toString()
    assert plan.count("Union") <= Crawler.COMPACT_EVERY + 1


def test_fixpoint_signature_many_link_assets(spark):
    """64 stylesheets surviving in one epoch: the fixpoint signature must
    not overflow (the pre-round-5 sum of xxhash64 values raised
    ARITHMETIC_OVERFLOW under ANSI mode with enough link assets; the
    bit_xor observation cannot).  Full parity: every sheet and every
    absolute url() image is fetched exactly once, in reference order."""
    from goscrape_spark.plans.crawl import crawl
    from goscrape_spark.plans.simulator import crawl_sequential

    links = "".join(f'<link rel="stylesheet" href="/c{i}.css">'
                    for i in range(64))
    pages = {"https://example.org/": f"<html>{links}</html>"}
    for i in range(64):
        pages[f"https://example.org/c{i}.css"] = \
            f"h1 {{ background: url(https://example.org/img{i}.png) }}"
        pages[f"https://example.org/img{i}.png"] = f"P{i}"
    cfg = CrawlConfig(url="https://example.org/")

    sim = crawl_sequential(cfg, pages)
    res = crawl(spark, cfg, pages_df(spark, pages))
    assert res.seen_set() == sim.seen
    assert [(r.url, r.status) for r in res.ordered_fetches()] == \
        [(f.url, f.status) for f in sim.fetches]
    assert len(sim.seen) == 1 + 64 + 64

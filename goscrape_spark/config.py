"""Crawl configuration (port of scraper.Config, scraper/scraper.go:25-42).

The reference's network/session settings (auth, cookies, proxy, user
agent, headers, timeout) configure the live fetcher (sources/fetch.py
``http_fetch_df``), which sends every request of a crawl with them: pages,
assets, stylesheets, sitemaps and robots.txt alike.  A crawl over a
``pages`` fixture table (the reference's own test seam,
scraper/scraper_test.go:35-42) reads the fixture instead and ignores them.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field


@dataclass
class CrawlConfig:
    url: str
    includes: list[str] = field(default_factory=list)
    excludes: list[str] = field(default_factory=list)
    image_quality: int = 0      # 0 disables re-encoding (scraper/images.go)
    max_depth: int = 0          # 0 = unlimited (scraper/checks.go:57-60)
    timeout: int = 0
    output_directory: str = ""
    username: str = ""
    password: str = ""
    user_agent: str = ""
    proxy: str = ""
    headers: dict[str, str] = field(default_factory=dict)
    # session cookie jar (S4): list of functions.cookies.Cookie, attached to
    # every live fetch as a Cookie: header (scraper/scraper.go:106-109,
    # scraper/cookies.go:39-59); loaded/saved by the CLI (main.go:214-246)
    cookies: list = field(default_factory=list)

    # scale knobs (rebuild-only; north_rule extensions)
    max_retries: int = 10               # scraper/http.go:19
    retry_delay_ms: int = 1500          # scraper/http.go:20
    politeness_delay_ms: int = 0        # per-host minimum fetch spacing (J5)
    # RFC 9309 robots (J4): host -> raw robots.txt text, parsed with
    # functions.robotstxt.parse_robots for the crawler's product token
    # (user_agent's first word, or '*').  fetch_robots=True additionally
    # fetches the /robots.txt of the seed host at crawl start and of every
    # other host when its first URL is admitted.
    robots_txt: dict[str, str] = field(default_factory=dict)
    fetch_robots: bool = False
    # sitemap-seeded frontier: at crawl start, fetch the seed host's
    # sitemaps (robots.txt ``Sitemap:`` lines, else /sitemap.xml), follow
    # <sitemapindex> fan-out (bounded depth), and admit same-host page
    # <loc> entries as extra depth-1 candidates after the seed's own links
    use_sitemaps: bool = False

    def compiled_includes(self) -> list[re.Pattern]:
        return [re.compile(p) for p in self.includes]

    def compiled_excludes(self) -> list[re.Pattern]:
        return [re.compile(p) for p in self.excludes]

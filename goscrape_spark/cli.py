"""CLI entry point with the reference's flag surface (main.go:26-116).

    python -m goscrape_spark.cli URL [URL...] \
        --output DIR --depth N --include RE --exclude RE \
        --header "K:V" --cookies FILE --user user:pass --useragent UA \
        --timeout SEC --proxy P --imagequality Q \
        [--pages-parquet PATH]   # mock web instead of live HTTP (tests/bench)
        [--serve DIR --port P]   # serve a previously exported tree

Each seed URL gets its own crawl (main.go:163-190); results are exported to
an offline-browsable tree under --output (sources/export.py).
"""

from __future__ import annotations

import argparse
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="goscrape-spark",
        description="Scrape websites into offline-browsable trees, on Spark.")
    p.add_argument("urls", nargs="*", help="seed URLs to scrape")
    p.add_argument("--output", default="", help="output directory")
    p.add_argument("--depth", type=int, default=10,
                   help="download depth, 0 for unlimited (reference "
                        "default 10, main.go:32)")
    p.add_argument("--include", action="append", default=[],
                   help="include URL path regex (repeatable)")
    p.add_argument("--exclude", action="append", default=[],
                   help="exclude URL path regex (repeatable)")
    p.add_argument("--header", action="append", default=[],
                   help='extra header "Key:Value" (repeatable)')
    p.add_argument("--cookies", default="", help="cookie JSON file")
    p.add_argument("--savecookiefile", default="",
                   help="save the session cookie jar to this JSON file "
                        "after the crawl (main.go:183,231-246)")
    p.add_argument("--user", default="", help="user[:password] for basic auth")
    p.add_argument("--useragent", default="", help="User-Agent string")
    p.add_argument("--timeout", type=int, default=0, help="request timeout sec")
    p.add_argument("--proxy", default="", help="proxy URL")
    p.add_argument("--imagequality", type=int, default=0,
                   help="image recode quality 1-99, 0=off")
    p.add_argument("--politeness-ms", type=int, default=0,
                   help="per-host politeness delay (rebuild extension)")
    p.add_argument("--robots", action="store_true",
                   help="fetch and honor each crawled host's robots.txt "
                        "(RFC 9309; rebuild extension)")
    p.add_argument("--sitemaps", action="store_true",
                   help="seed the frontier from the site's sitemaps "
                        "(robots.txt Sitemap: lines, else /sitemap.xml; "
                        "rebuild extension)")
    p.add_argument("--bloom", action="store_true",
                   help="enable the distributed Bloom seen-set pre-filter "
                        "(certifies ~84-92%% of candidates definitely-new "
                        "before the seen anti-join; rebuild extension)")
    p.add_argument("--pages-parquet", default="",
                   help="mock web parquet (url, body, resp_url, retry_after)")
    p.add_argument("--checkpoint", default="", help="epoch checkpoint dir")
    p.add_argument("--resume", action="store_true",
                   help="resume from the last committed epoch")
    p.add_argument("--serve", default="", help="serve this directory and exit")
    p.add_argument("--port", type=int, default=8080)
    return p


def run(argv: list[str], spark=None) -> int:
    args = build_parser().parse_args(argv)

    if args.serve:
        import functools
        from http.server import SimpleHTTPRequestHandler, ThreadingHTTPServer

        class Handler(SimpleHTTPRequestHandler):
            # S9: .asp would otherwise download instead of render
            # (scraper/server.go:13-16)
            extensions_map = {
                **SimpleHTTPRequestHandler.extensions_map,
                ".asp": "text/html; charset=utf-8",
            }

        handler = functools.partial(Handler, directory=args.serve)
        print(f"serving {args.serve} on :{args.port}")
        ThreadingHTTPServer(("", args.port), handler).serve_forever()
        return 0

    if not args.urls:
        print("no URLs given", file=sys.stderr)
        return 2

    from .config import CrawlConfig
    from .functions.cookies import parse_headers, read_cookie_file
    from .plans.crawl import crawl
    from .session import get_spark
    from .sources.export import export_output_tree
    from .sources.storage import CrawlCheckpoint

    username, _, password = args.user.partition(":")
    quality = args.imagequality if 1 <= args.imagequality <= 99 else 0
    # S4: load the cookie jar once; it rides into every live fetch session
    # (main.go:137-140, 214-230)
    cookies = []
    if args.cookies:
        try:
            cookies = read_cookie_file(args.cookies)
        except (OSError, ValueError) as e:
            print(f"reading cookie file {args.cookies!r}: {e}",
                  file=sys.stderr)
            return 2

    own_session = spark is None
    if own_session:
        spark = get_spark("goscrape-spark-cli")
    try:
        for url in args.urls:
            cfg = CrawlConfig(
                url=url, includes=args.include, excludes=args.exclude,
                max_depth=args.depth, output_directory=args.output,
                username=username, password=password,
                user_agent=args.useragent, timeout=args.timeout,
                proxy=args.proxy, image_quality=quality,
                politeness_delay_ms=args.politeness_ms,
                fetch_robots=args.robots, use_sitemaps=args.sitemaps,
                headers=parse_headers(args.header), cookies=cookies)
            pages = spark.read.parquet(args.pages_parquet) \
                if args.pages_parquet else None
            ckpt = CrawlCheckpoint(args.checkpoint) if args.checkpoint else None
            res = crawl(spark, cfg, pages, use_bloom=args.bloom,
                        checkpoint=ckpt, resume=args.resume)
            n = export_output_tree(res.output, args.output or ".")
            if args.savecookiefile:
                # S4 save-back (main.go:183,231-246): persist the seed
                # host's live jar — config cookies plus absorbed
                # Set-Cookie state; a no-op on an empty jar like saveCookies
                from datetime import datetime, timezone

                from .functions.cookies import Cookie, save_cookies
                seed_host = res.seed_host.partition(":")[0]

                def matches_seed(domain: str) -> bool:
                    # RFC 6265 domain-match like Go's jar.Cookies(s.URL):
                    # http.cookiejar stores Domain-attribute cookies with a
                    # leading dot ('.example.org') — those match the seed
                    # host and its subdomains; HOST-ONLY cookies (no dot)
                    # match only their exact host
                    if domain.startswith("."):
                        d = domain[1:]
                        return seed_host == d or seed_host.endswith("." + d)
                    return seed_host == domain

                jar = [Cookie(
                        name=d["name"], value=d["value"],
                        expires=(datetime.fromtimestamp(
                            d["expires"], timezone.utc)
                            if d.get("expires") else None))
                       for d in res.cookies if matches_seed(d["domain"])]
                if jar:
                    save_cookies(args.savecookiefile, jar)
            print(f"{url}: {res.epochs} epochs, "
                  f"{res.seen.count()} URLs seen, {n} files written")
    finally:
        if own_session:
            spark.stop()
    return 0


def main() -> None:  # pragma: no cover
    sys.exit(run(sys.argv[1:]))


if __name__ == "__main__":  # pragma: no cover
    main()

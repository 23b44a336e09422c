"""Epoch-synchronous distributed crawl (the flagship plan).

Re-expresses the reference's sequential BFS loop (scraper/scraper.go:152-236)
as a DataFrame iteration that provably reproduces its crawl order and URL
seen-set (SURVEY §3.4):

* each **epoch** = one BFS level; the frontier is a DataFrame of pages with a
  global discovery sequence number (``url, seq``).  A page's depth is its
  epoch, so no frame carries a depth column: admission's depth rule (F6)
  is a literal per epoch (operators/admission.should_download), and the
  fetch log and documents tables get their ``depth`` as the epoch;
* fetching has **one contract and two sources** (sources/fetch.py): rows
  in, the same rows plus ``body, resp_url, status, attempts`` out, read
  from a ``pages`` fixture table (J2, the reference's own test seam,
  scraper/scraper_test.go:35-42) or fetched per host over HTTP (S1/S2).
  The crawler picks the source once; every fetch, the fileExists check
  and every checkpoint after it run the same way for both.  Every fetch
  input carries its J5 politeness slot ``not_before_ms``
  (``Crawler._schedule``) and a crawl order (PAGE_ORDER, ORDER_COLS for
  assets, BOOT_ORDER for robots.txt and sitemaps); the live source sends
  each host's requests in that order, spaced by those slots, so the wire
  runs the schedule the fetch log records.  An epoch still fetches all
  its pages before their assets, where the reference fetches page i's
  assets before page i+1;
* per-page candidates (assets + links) come out of the fused page pass
  (operators/extract.process_pages_df) already stage-ranked in the
  sequential loop's consideration order — link -> script -> body -> style
  assets (each distinct and lexicographically sorted, A2/O1), then the
  images queue (img refs, CSS-discovered refs), then a-links
  (scraper/download.go:19-65, scraper/scraper.go:219-233) — with each
  asset's output path; the crawl turns them into rows with one ``explode``;
* admission is the first-wins window + seen anti-join (operators/admission);
* CSS-discovered images (cssProcessor, scraper/download.go:104-131) create an
  in-epoch discovery dependency: link assets must be fetched before their
  ``url()`` refs become candidates.  As the reference's cssProcessor runs
  on the bytes ``downloadAsset`` fetched, discovery reads the ok link rows
  of the fileExists chain, run first for the paths that hold a link asset.
  A fixpoint loop re-runs admission with the discovered candidates added
  until they stop changing; it converges immediately unless a
  css-discovered image steals a dedup key from a later page's link asset
  (possible but degenerate; the loop handles it exactly, one more round
  per stolen key in a chain of them).

Scale design (north_rule): frontier/seen shuffles hash on ``dedup_key`` /
``host``; per-epoch state is checkpointed (localCheckpoint for tests,
parquet snapshots + manifest via sources/storage.py for resumability).  The
optional Bloom pre-filter (operators/seen.py) does not keep the seen table
out of the shuffle: its probe is only a residual condition of the same
``dedup_key`` anti-join, so every candidate and every seen key still goes
through the join's exchange; it only spares certified-new rows the key
comparison.

Driver-built frames (the seed ``seen`` row and frontier, the empty
``written`` table, the empty result tables when no epoch ran, the sitemap
``done`` set, the robots.txt URLs and rules) are built with
``session.local_frame``, never from a Python list: a list-built frame is a
PythonRDD leaf, and every scan of it runs one Python-worker task per core
even with zero rows.  A warm ``count()`` of a one-row list-built frame took
~0.35 s and ~0.85 Python CPU-s on a 4-core host, against ~0.1 s and none
for ``local_frame``.  tests/test_local_frames.py fails on any other
``createDataFrame`` call in plans/, sources/ or operators/politeness.py.

An epoch stage is materialized once (``_localckpt``).  Counts and
driver-side harvests ride a pyspark ``Observation`` on that checkpoint
(``_observed``): the deferred asset counts and link signature on
``assets_allowed``, the inserted-key count on ``inserts``, the frontier
count on ``next_pages``, the Set-Cookie snapshots on the fetch checkpoint,
the seed's response URL (the depth-0 redirect rebase) on epoch 0's
``fetched`` — never a separate
``count``/``isEmpty``/``first``/``collect`` job.  A fetch returns its input
rows with the fetch columns added, so no join puts the outcomes back, and
its one checkpoint carries the caller's label (``fetched``,
``asset_round``, ``sitemap_fetch``, ``robots_fetch``).

Overlap.  ``Crawler.run`` starts helper threads for work whose result is
needed later.  ``_deferred`` runs each one on a pyspark
``InheritableThread``, so its jobs keep the caller's job group, and returns
a ``concurrent.futures.Future`` that the thread completes:

* the **warm-up**, started on run()'s first line: one job of ``n``
  one-row partitions through a ``mapInPandas`` that imports the page pass's
  module, with ``n`` the first epoch's page-pass width
  (``page_pass_width``).  The Python workers start while the driver runs
  the prologue and the first fetch; under ``get_spark`` on a local master
  each is a fork of the crawl's daemon (goscrape_spark/daemon.py), which
  has the page pass's modules imported already.  Nothing takes its result;
  run()'s final wait covers it;
* the two **post-admission branches** (asset fetch + written delta, the
  next frontier's sequence), plus the Bloom build when Bloom is on, taken
  before the epoch ends;
* the **commit** of epoch N (``CrawlCheckpoint.commit_epoch``), which runs
  while epoch N+1 runs.  Its arguments are bound when it is scheduled, and
  commit N is waited for before commit N+1 starts, so commits run one at a time
  in epoch order.  A commit writes its epoch directory under a temporary
  name and then replaces MANIFEST.json, so the manifest only ever names a
  fully written epoch: a driver killed while commit N is in flight resumes
  from epoch N-1 or N, and both are committed states the crawl can go on
  from.

run() waits for every helper in its ``finally``, before it restores the
session's AQE and shuffle partitions, so no job of the crawl runs under the
restored conf.  A helper's failure surfaces from run(); when the loop raised
too, the loop's error is raised with the helper's as its cause.
"""

from __future__ import annotations

import time
from concurrent.futures import Future, wait
from dataclasses import dataclass, field
from functools import partial, reduce
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..config import CrawlConfig
from ..functions.urlmath import get_file_path
from ..functions.urlnorm import GoURL, parse_url
from ..operators.admission import ORDER_COLS, admit, should_download
from ..operators.cssx import css_extract
from ..operators.extract import (
    extract_spans_df,
    process_pages_df,
    ref_dedup_key,
)
from ..operators.seen import SeenSet
from ..session import local_frame

# admission candidate rows; ``file_path`` is an asset's output path (the
# fileExists key, scraper/download.go:76-79), NULL for links
CAND_SCHEMA = ("page_url string, parent_seq bigint, stage_rank int, "
               "sub_rank int, intra1 int, intra2 int, url string, "
               "scheme string, host string, path string, "
               "is_asset boolean, stage string, "
               "dedup_key string, file_path string")

# the result tables (CrawlResult): every epoch appends frames in exactly
# these columns; the DDL builds a table only when no epoch ran
FETCH_LOG_SCHEMA = ("url string, kind string, not_before_ms bigint, "
                    "status string, attempts int, parent_seq bigint, "
                    "stage_rank int, sub_rank int, intra1 int, intra2 int, "
                    "depth int, epoch int, stage string")
DOCUMENTS_SCHEMA = ("url string, kind string, text string, "
                    "media_ref string, offset int, tag_idx int, "
                    "attr string, vstart int, vend int, token string, "
                    "depth int, epoch int")
OUTPUT_SCHEMA = ("url string, file_path string, body binary, "
                 "is_page boolean, epoch int, wpos struct<epoch:int, "
                 "pos:struct<parent_seq:bigint, stage_rank:int, "
                 "sub_rank:int, intra1:int, intra2:int>>")

# each fetch kind's crawl order, to schedule and to send (assets: ORDER_COLS)
PAGE_ORDER = ["seq"]
BOOT_ORDER = ["url"]  # robots.txt and sitemaps


def page_candidate_rows(processed: DataFrame) -> DataFrame:
    """The fused pass's per-page ``cands`` arrays as CAND_SCHEMA rows: one
    JVM-side ``explode``, no shuffle, no plan built per tag."""
    return (processed
            .select(F.col("url").alias("page_url"),
                    F.col("seq").alias("parent_seq"),
                    F.explode("cands").alias("c"))
            .select("page_url", "parent_seq", "c.stage_rank", "c.sub_rank",
                    "c.intra1", "c.intra2", "c.url", "c.scheme", "c.host",
                    "c.path", "c.is_asset", "c.stage",
                    "c.dedup_key", "c.file_path"))


def page_pass_width(n_frontier: int, default_parts: int) -> int:
    """Tasks an epoch's page pass fans out to: one per 50 frontier pages,
    at least 2, at most the session's shuffle partitions."""
    return max(2, min(default_parts, n_frontier // 50 + 1))


def _warm_python_workers(spark: SparkSession, n: int) -> None:
    """Start ``n`` Python workers with the page pass's modules imported: one
    job of ``n`` one-row partitions through a ``mapInPandas``.  Under
    ``get_spark`` on a local master each worker is a fork of the crawl's
    daemon (goscrape_spark/daemon.py), which has imported them already and
    the import here is a lookup; a session that keeps Spark's daemon imports
    them here.  Spark reuses idle workers, so the first page pass (and a
    live crawl's first fetch) finds them running instead of starting them
    cold."""
    def run(batches) -> Iterator:
        import goscrape_spark.operators.extract  # noqa: F401
        for _ in batches:
            pass
        return iter(())

    spark.range(n, numPartitions=n).mapInPandas(run, "id long").collect()


@dataclass
class CrawlResult:
    """Spark-side analogue of the library-embedding return surface
    (SURVEY §3.2)."""

    seen: DataFrame          # dedup_key, epoch
    fetch_log: DataFrame     # ordered fetch records
    documents: DataFrame     # exploded spans of fetched pages
    output: DataFrame        # url, file_path, kind, is_page, epoch
    epochs: int = 0
    seed_host: str = ""
    # final session cookie jar (S4): configured cookies + every Set-Cookie
    # absorbed during the crawl, as portable dicts {name, value, domain,
    # path, expires(epoch|None)} — the analogue of Scraper.Cookies()
    # (scraper/cookies.go:20-37); persisted by the CLI's --savecookiefile
    cookies: list = field(default_factory=list)

    def seen_set(self) -> set[str]:
        return {r.dedup_key for r in self.seen.select("dedup_key").collect()}

    def ordered_fetches(self) -> list:
        return (self.fetch_log
                .orderBy("epoch", "parent_seq", "stage_rank", "sub_rank",
                         "intra1", "intra2")
                .collect())


class Crawler:
    """Distributed crawler.  One fetch contract, two sources
    (sources/fetch.py): a mock-web ``pages`` DataFrame (J2, the reference's
    own test seam) or, when none is given, real per-host HTTP.  The source
    is chosen here, once; the crawl loop never asks which it has: page,
    asset, stylesheet, sitemap and robots.txt requests all go through
    ``_fetch_observed``."""

    # collapse the seen/written union chains into one checkpointed table
    # every K epochs (bounded per-epoch plan depth)
    COMPACT_EVERY = 16

    def __init__(self, spark: SparkSession, config: CrawlConfig,
                 pages: DataFrame | None = None, use_bloom: bool = False,
                 checkpoint=None, max_epochs: int = 1000):
        self.spark = spark
        self.config = config
        if pages is None:
            self._source = self._http_source
        else:
            from ..sources.fetch import fixture_fetch_df
            self._source = lambda rows, order: fixture_fetch_df(
                rows, pages, config.max_retries)
        self.use_bloom = use_bloom
        self.bloom = None  # set in run()
        # RFC 9309 robots (full Allow/Disallow/wildcard form): rules table
        # built from configured robots.txt texts; fetch_robots=True adds
        # each crawled host's fetched robots.txt (_ingest_host_robots)
        self.robots_rfc = None
        self._robots_parsed: dict[str, list] = {}
        # robots Crawl-delay per host (ms), merged max-wise with the
        # configured politeness_delay_ms by _schedule (J5)
        self._host_delay_ms: dict[str, int] = {}
        # hosts whose robots.txt has been fetched (or failed) this crawl —
        # each host is contacted for robots at most once
        self._robots_fetched: set[str] = set()
        # robots.txt Sitemap: lines per host (host-wide, sitemaps.org)
        self._sitemap_lines: dict[str, list[str]] = {}
        if config.robots_txt:
            for host, text in config.robots_txt.items():
                self._add_robots_txt(host, text)
            self._rebuild_rfc_rules()
        self.checkpoint = checkpoint
        self.max_epochs = max_epochs
        # futures of the helpers started by _deferred that are still running
        # or failed; run() waits for them before it returns or raises
        self._helpers: list[Future] = []
        # S4: session cookie jar state, keyed (domain, path, name); starts
        # from the configured cookies and absorbs live Set-Cookie snapshots
        # per fetch round (the reference's shared cookiejar.Jar,
        # scraper/scraper.go:106-118)
        from ..sources.fetch import config_cookie_dicts
        self._session_cookies: dict[tuple, dict] = {
            (d["domain"], d["path"], d["name"]): d
            for d in config_cookie_dicts(config)}

        u = parse_url(config.url)
        u = GoURL(scheme=u.scheme or "http", host=u.host, path=u.path,
                  query=u.query)  # fragment strip + scheme default
        self.seed = u
        self.seed_host = u.host

    # ------------------------------------------------------------------
    def _robots_agent(self) -> str:
        """RFC 9309 product token for group selection: the first token of
        the configured User-Agent (before any '/version'), else '*'."""
        ua = self.config.user_agent.strip()
        return ua.split("/")[0].split(" ")[0].lower() if ua else "*"

    def _add_robots_txt(self, host: str, text: str,
                        apply_rules: bool = True) -> None:
        from ..functions.robotstxt import (
            parse_crawl_delay,
            parse_robots,
            parse_sitemap_urls,
        )
        sm = parse_sitemap_urls(text)
        if sm:
            self._sitemap_lines.setdefault(host, []).extend(sm)
        if not apply_rules:
            # --sitemaps alone reads robots.txt only to DISCOVER sitemaps;
            # exclusion rules and Crawl-delay apply only with --robots
            return
        agent = self._robots_agent()
        delay = parse_crawl_delay(text, agent=agent)
        if delay is not None:
            self._host_delay_ms[host] = int(delay * 1000)
        rules = parse_robots(text, agent=agent)
        if not rules:
            return
        self._robots_parsed[host] = rules
        # callers rebuild the broadcast rules table ONCE per batch
        # (_rebuild_rfc_rules), not per host

    def _rebuild_rfc_rules(self) -> None:
        from ..operators.politeness import rfc_rules_df
        if self._robots_parsed:
            self.robots_rfc = rfc_rules_df(self.spark, self._robots_parsed)

    def _ingest_host_robots(self, hosts: list[tuple[str, str]]) -> None:
        """Fetch + install robots.txt for a batch of (host, scheme), each
        host AT MOST ONCE per crawl (failures included).  The /robots.txt
        URLs go through the fetch seam like every other URL: one fetch
        for the batch, with the crawl's auth, headers, proxy, cookie jar
        and 429 retries (a mock crawl reads the fixture's rows).  Its
        Observation brings the first 500 KiB (RFC 9309 §2.5, cut in the
        JVM) of each ok body to the driver; any other outcome means "no
        restrictions" (§2.3.1).  A live fetch runs one batch per host, so
        a dead host's robots.txt costs what that host's asset fetch costs
        right after it, in the same per-host group.  The broadcast rules
        table is rebuilt once per batch, not per host."""
        wanted: dict[str, str] = {}
        for h, sc in sorted(hosts):
            if h and h not in self._robots_fetched:
                wanted.setdefault(h, sc)
        if not wanted:
            return
        self._robots_fetched.update(wanted)
        rows = local_frame(self.spark,
                           [(f"{sc}://{h}/robots.txt", h, 0)
                            for h, sc in wanted.items()],
                           "url string, robots_host string, "
                           "not_before_ms bigint")
        _, obs = self._fetch_observed(
            rows, "robots_fetch", BOOT_ORDER, F.collect_list(F.when(
                F.col("status") == "ok",
                F.struct("robots_host",
                         F.substring("body", 1, 500 * 1024).alias("body"))
            )).alias("robots"))
        for r in sorted(obs.get["robots"], key=lambda r: r.robots_host):
            self._add_robots_txt(r.robots_host,
                                 bytes(r.body).decode("utf-8", "replace"),
                                 apply_rules=self.config.fetch_robots)
        self._rebuild_rfc_rules()

    def _sitemap_candidates(self) -> DataFrame | None:
        """Sitemap-seeded frontier bootstrap (sitemaps.org; no reference
        analog).  Sitemap files are fetched DISTRIBUTED through the normal
        fetch seam (fixture or live per-host batches — politeness and
        cookies apply), ``<loc>`` extraction is a JVM-side column regex
        (functions/sitemap.py), and ``<sitemapindex>`` fan-out is followed
        for up to 3 rounds (urlset / index→urlset / index→index→urlset);
        loc extraction and dedup stay DataFrame-side at any volume, with
        one documented cap: the final deterministic ordering uses
        CAND_SCHEMA's 32-bit intra1, so >2^31-1 distinct locs raise
        loudly instead of overflowing (no real site approaches this; the
        protocol caps one index level at 50k×50k = 2.5e9 only in theory).

        Page locs become candidate rows at ``stage_rank 7`` (after the seed
        page's own 'a' refs, rank 6), ordered lexicographically via
        global_sequence — deterministic like every other stage.
        Cross-host / non-http locs are NOT special-cased: normal admission
        (F1/F5, insert-before-reject) drops them exactly like link
        candidates.  Sitemap fetches themselves are bootstrap machinery and
        do not enter the fetch log or the seen set."""
        spark = self.spark
        from ..functions.sitemap import col_is_sitemap_index, col_sitemap_locs
        from ..functions.urlnorm import (
            col_dedup_key,
            col_host,
            col_path,
            col_scheme,
            col_scheme_ok,
            col_strip_fragment,
        )
        from ..operators.ranking import global_sequence

        urls = list(dict.fromkeys(
            self._sitemap_lines.get(self.seed_host, []))) or \
            [f"{self.seed.scheme}://{self.seed_host}/sitemap.xml"]
        done = local_frame(spark, [(u,) for u in sorted(set(urls))],
                           "url string")
        cur = done
        loc_frames: list[DataFrame] = []
        for _ in range(3):
            fetched = self._fetch_observed(
                self._schedule(cur.withColumn("host", col_host(F.col("url"))),
                               BOOT_ORDER),
                "sitemap_fetch", BOOT_ORDER)[0].select("url", "body", "status")
            # cast, not decode: Spark 4's decode() THROWS on any invalid
            # UTF-8 byte (a .xml.gz sitemap or latin-1 bytes would abort
            # the crawl); binary->string cast substitutes U+FFFD like the
            # robots paths' Python decode(..., 'replace')
            body = F.col("body").cast("string")
            ok = self._localckpt(
                fetched.filter(F.col("status") == "ok").select(
                    col_sitemap_locs(body).alias("locs"),
                    col_is_sitemap_index(body).alias("is_idx")),
                "sitemap_fetch")
            loc_frames.append(ok.filter(~F.col("is_idx"))
                              .select(F.explode("locs").alias("loc")))
            subs = (ok.filter(F.col("is_idx"))
                    .select(F.explode("locs").alias("url")).distinct()
                    .join(done, "url", "left_anti"))
            subs, obs = _observed(subs, F.count(F.lit(1)).alias("n"))
            subs = self._localckpt(subs, "sitemap_index")
            if obs.get["n"] == 0:
                break
            cur = subs
            done = done.unionByName(subs)
        locs = loc_frames[0]
        for f in loc_frames[1:]:
            locs = locs.unionByName(f)
        u = col_strip_fragment(F.col("loc"))
        parsed = (locs.distinct()
                  .select(u.alias("url"), col_scheme(u).alias("scheme"),
                          col_host(u).alias("host"),
                          col_path(u).alias("path"))
                  # the protocol requires absolute URLs; relative locs have
                  # no host and cannot be resolved reliably — drop them
                  .filter(col_scheme_ok(F.col("scheme"))
                          & (F.col("host") != "")))
        keyed, obs = _observed(
            parsed.withColumn(
                "dedup_key", col_dedup_key(F.col("url"), F.col("host"),
                                           F.col("path"),
                                           F.lit(self.seed_host))),
            F.count(F.lit(1)).alias("n"))
        keyed = self._localckpt(keyed, "sitemap_locs")
        n = obs.get["n"]
        if n == 0:
            return None
        if n > 2**31 - 1:
            # CAND_SCHEMA's intra1 is 32-bit (every other stage's intra
            # counters are per-page positions); a >2^31-loc sitemap set
            # would overflow the cast below — refuse loudly rather than
            # corrupt the deterministic candidate order
            raise ValueError(
                f"sitemap loc set ({n} rows) exceeds the 2^31-1 intra1 "
                "ordering capacity; widen CAND_SCHEMA intra1 to bigint")
        seqd = global_sequence(keyed, ["url"], out_col="_i")
        return seqd.select(
            F.lit(self.seed.string()).alias("page_url"),
            F.lit(0).cast("bigint").alias("parent_seq"),
            F.lit(7).alias("stage_rank"), F.lit(0).alias("sub_rank"),
            F.col("_i").cast("int").alias("intra1"),
            F.lit(0).alias("intra2"),
            "url", "scheme", "host", "path",
            F.lit(False).alias("is_asset"),
            F.lit("sitemap").alias("stage"), "dedup_key",
            F.lit(None).cast("string").alias("file_path"))

    def run(self, resume: bool = False) -> CrawlResult:
        spark = self.spark
        # the last committed epoch's record, read once (None: a fresh crawl)
        record = (self.checkpoint.resume(spark)
                  if resume and self.checkpoint is not None else None)
        # the first epoch's page pass finds its Python workers running: they
        # start while the driver runs the prologue and the first fetch
        n_frontier = record[0]["frontier_rows"] if record else 1
        default_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        aqe_prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
        self._deferred(lambda: _warm_python_workers(
            spark, page_pass_width(n_frontier, default_parts)))
        loop_err = None
        try:
            return self._crawl(record, default_parts)
        except BaseException as e:
            loop_err = e
            raise
        finally:
            # every helper's jobs end before the shared session's conf is
            # restored, also when the loop raised; a helper's failure
            # surfaces here, chained to the loop's own when there is one
            wait(self._helpers)
            errs = [h.exception() for h in self._helpers]
            self._helpers = []
            helper_err = next((e for e in errs
                               if e is not None and e is not loop_err), None)
            spark.conf.set("spark.sql.shuffle.partitions", str(default_parts))
            spark.conf.set("spark.sql.adaptive.enabled", aqe_prev)
            if helper_err is not None:
                if loop_err is None:
                    raise helper_err
                raise loop_err from helper_err

    def _crawl(self, record, default_parts: int) -> CrawlResult:
        """The epoch loop, from the seed or from ``record``, the last
        committed epoch's ``CrawlCheckpoint.resume``."""
        spark = self.spark
        cfg = self.config
        if cfg.fetch_robots or cfg.use_sitemaps:
            # --robots: fetch + honor; --sitemaps alone: fetch only to
            # discover Sitemap: lines (rules are not installed)
            self._ingest_host_robots([(self.seed_host, self.seed.scheme)])

        if record is None:
            # seed admission (scraper/scraper.go:157): the seed is one row;
            # its key is inserted before everything else.
            from ..functions.urlnorm import dedup_key as py_dedup_key
            seed_key = py_dedup_key(self.seed, self.seed_host)
            seen = local_frame(spark, [(seed_key, 0)],
                               "dedup_key string, epoch int")
            # the seed passes every candidate's checks (Java regex
            # included): an excluded seed reaches the first fetch as no
            # row, and _fetch raises
            u = self.seed
            frontier = local_frame(
                spark, [(u.string(), 0, u.scheme, u.host, u.path, False)],
                "url string, seq bigint, scheme string, host string, "
                "path string, is_asset boolean").filter(
                should_download(self.seed_host, 0, cfg.max_depth,
                                cfg.includes, cfg.excludes)
            ).select("url", "seq")
            # filesystem state for the fileExists asset skip
            # (scraper/download.go:76-79): one row per already-written path
            written = local_frame(spark, [], "file_path string")
            epoch, next_seq, n_frontier = 0, 1, 1
        else:
            # north_rule: resume at the last committed frontier epoch; seen
            # and written are the unions of the committed deltas (the
            # epoch-0 seen delta holds the seed key), Bloom is rebuilt from
            # seen below.
            metrics, frontier, seen, written = record
            epoch = metrics["epoch"] + 1
            next_seq = metrics["next_seq"]
            n_frontier = metrics["frontier_rows"]
            self.seed_host = metrics["seed_host"]

        self.bloom = SeenSet() if self.use_bloom else None
        if self.bloom is not None:
            self.bloom.enable_stats(spark.sparkContext)
            if record is None:
                self.bloom.add_keys([seed_key])  # seen's one row, no job
            else:
                self.bloom.add_keys_df(seen)  # rebuild from committed table

        fetch_logs: list[DataFrame] = []
        documents: list[DataFrame] = []
        outputs: list[DataFrame] = []
        # AQE is disabled for the LOOP's duration: the loop sizes every
        # shuffle from per-epoch data volume itself, and the
        # post-aggregation join keys are unique (first-wins/fileExists
        # groups — nothing for AQE's skew split to do) — so AQE's
        # per-query-stage job submissions only added driver latency
        # (measured r6: 39.8 -> 18.3 jobs/epoch, wall flat-to-better;
        # OPTIMIZATION_r06.md).  run() restores AQE and the shuffle
        # partitions after the loop, also when it raises.
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        commit = None  # the in-flight commit_epoch helper

        while epoch < self.max_epochs:
            if n_frontier == 0:
                break

            # Adaptive parallelism, sized by DATA not cores: shuffle stages
            # in the loop move small metadata rows, so partition counts
            # follow row volume (per-task overhead otherwise dominates — a
            # 32-partition shuffle of 1k rows is pure scheduling cost).
            # The Python-heavy stages (extract/rewrite mapInPandas) are
            # fanned out separately to all cores below.  The frontier is
            # explicitly repartitioned because W2's global sequence window
            # necessarily emitted a single partition.
            parts = max(2, min(default_parts, n_frontier // 2000 + 1))
            cpu_parts = page_pass_width(n_frontier, default_parts)
            spark.conf.set("spark.sql.shuffle.partitions", str(parts))
            # pages are all on the seed host (F5)
            frontier = self._schedule(
                frontier.withColumn("host", F.lit(self.seed_host)), PAGE_ORDER
            ).repartition(parts, "url")

            # the fetch checkpointed the frontier rows it returns (and
            # rebased the seed at epoch 0)
            fetched = self._fetch(frontier, epoch)

            pages_ok = fetched.filter(F.col("status") == "ok")
            # FUSED per-page Arrow pass
            # (operators/extract.process_pages_df): media-ref extraction +
            # binary sniff + offline rewrite + output paths + the page's
            # admission candidates in ONE stage, so each body crosses the
            # JVM->Python boundary once per epoch; fanned out to all cores
            # regardless of the (data-sized) shuffle partitioning, always:
            # a live fetch returns each host's rows in one partition, and
            # an epoch's pages are all on the seed host.  The full
            # interleaved span table (with text runs) stays lazy and is
            # only computed if the caller materializes
            # CrawlResult.documents.
            page_bodies = pages_ok.select(
                F.col("page_url").alias("url"), "body", "seq"
            ).repartition(cpu_parts, "url")
            processed = self._localckpt(
                process_pages_df(page_bodies, self.seed_host,
                                 self.config.output_directory),
                "processed")

            # a page's depth is its epoch (one BFS level per epoch)
            documents.append(extract_spans_df(page_bodies).select(
                "*", F.lit(epoch).alias("depth"),
                F.lit(epoch).alias("epoch")))

            candidates = page_candidate_rows(processed)
            if epoch == 0 and cfg.use_sitemaps:
                sm_cands = self._sitemap_candidates()
                if sm_cands is not None:
                    candidates = candidates.unionByName(sm_cands)

            inserts, survivors, ranked, link_chain, counts = \
                self._admission_fixpoint(candidates, seen, processed,
                                         written, epoch)

            # record fetches: this epoch's page fetches + admitted assets
            page_log = fetched.select(
                F.col("req_url").alias("url"), F.lit("page").alias("kind"),
                "not_before_ms", F.col("status"), F.col("attempts"),
                F.col("seq").alias("parent_seq"),
                F.lit(0).alias("stage_rank"), F.lit(0).alias("sub_rank"),
                F.lit(0).alias("intra1"), F.lit(0).alias("intra2"),
                F.lit(epoch).alias("depth"), F.lit(epoch).alias("epoch"),
                F.lit("").alias("stage"))

            # Independent post-admission branches (all consume the
            # just-checkpointed inserts/assets_allowed): the asset fetch,
            # the next-frontier sequence assignment, and the Bloom build
            # when Bloom is on.  Overlapped (§2.6) so each branch's driver
            # latency and stage tails back-fill the others.
            delta = inserts.select("dedup_key") \
                           .withColumn("epoch", F.lit(epoch + 1))

            def _assets_branch():
                # every round is checkpointed by its fetch; the paths that
                # hold a link asset were fetched by CSS discovery
                af = self._fetch_assets(ranked, counts["n_deferred_rest"],
                                        False, epoch)
                if link_chain is not None:
                    af = link_chain.unionByName(af)
                # slim written-delta checkpoint: the lazy union chain used
                # to reference the BODY-bearing asset_fetch blocks, so
                # every later epoch's fileExists anti-join re-deserialized
                # all prior epochs' asset payloads just to read file_path.
                # One tiny checkpoint per epoch keeps the chain body-free.
                wd = self._localckpt(
                    processed.select("file_path").unionByName(
                        af.filter(F.col("status") == "ok")
                          .select("file_path")),
                    "written_delta")
                return af, wd

            def _seq_branch():
                # next frontier: page survivors ordered by the composite
                # key in one window (W2).  The row count rides the
                # checkpoint's job.
                from ..operators.ranking import global_sequence
                seq_df = global_sequence(
                    survivors.filter(~F.col("is_asset"))
                             .select("url", *ORDER_COLS),
                    ORDER_COLS, start=next_seq, out_col="seq")
                np_df, obs = _observed(seq_df.select("url", "seq"),
                                       F.count(F.lit(1)).alias("n"))
                np_df = self._localckpt(np_df, "next_pages")
                return np_df, obs.get["n"]

            branches = [self._deferred(_assets_branch),
                        self._deferred(_seq_branch)]
            if self.bloom is not None:
                # distributed per-partition build, OR-merged driver-side
                branches.append(self._deferred(
                    partial(self.bloom.add_keys_df, delta)))
            (asset_fetch, written_delta), (next_pages, n_next), *_ = \
                [b.result() for b in branches]
            fetch_logs.append(page_log)
            fetch_logs.append(
                asset_fetch.drop("body", "file_path", "page_url"))

            # output table: pages (already rewritten in the fused pass) +
            # fetched assets
            outputs.append(processed.select(
                "url", "file_path", "body", "is_page",
                F.lit(epoch).alias("epoch"),
                F.struct(F.lit(epoch).alias("epoch"),
                         self._page_pos().alias("pos")).alias("wpos")))
            outputs.append(self._asset_outputs(asset_fetch, epoch))

            # filesystem-state accumulation: every ok page write + every ok
            # (unblocked) asset write becomes an existing file for later
            # epochs' fileExists admission.  Slim per-epoch checkpoints
            # (built in _assets_branch) — duplicates are harmless for the
            # anti-join, so no distinct shuffle.
            written = written.unionByName(written_delta)

            # seen append (insert-before-reject: ALL admitted keys).  The
            # first-wins window already guarantees one row per key, so no
            # distinct; the union stays lazy — every branch is a
            # checkpoint, so lineage is shallow and nothing recomputes.
            seen = seen.unionByName(delta)
            next_seq += n_next
            frontier = next_pages
            n_frontier = n_next
            if self.checkpoint is not None:
                # the commit runs on a helper while the next epoch runs.
                # Its arguments are bound here (both row counts rode
                # checkpoints that already ran), and commits run one at a
                # time in epoch order, so MANIFEST.json only ever names a
                # fully written epoch.  Epoch 0's seen delta is the whole
                # seen table: the seed's pre-rebase key plus the inserts,
                # so a resume rebuilds seen purely from deltas.
                if commit is not None:
                    commit.result()
                commit = self._deferred(partial(
                    self.checkpoint.commit_epoch, epoch, frontier=frontier,
                    seen_delta=seen if epoch == 0 else delta,
                    written_delta=written_delta,
                    metrics={"next_seq": next_seq,
                             "seed_host": self.seed_host,
                             "frontier_rows": n_next,
                             "seen_delta_rows": counts["n"]
                             + (1 if epoch == 0 else 0)}))
            # plan-depth compaction: seen/written are lazy unionByName
            # chains over per-epoch checkpointed deltas — correct at BFS
            # depths, but the union tree (and Catalyst analysis time per
            # epoch) grows linearly with epochs.  Every K epochs collapse
            # the chain into ONE checkpointed table so a deep/continuous
            # crawl's per-epoch plan stays O(K), not O(epoch).  Children
            # are already materialized, so this re-reads checkpoint blocks
            # once per K epochs and recomputes nothing.
            if (epoch + 1) % self.COMPACT_EVERY == 0:
                seen = self._localckpt(seen, "seen_compact")
                written = self._localckpt(written, "written_compact")
            epoch += 1

        def table(frames: list[DataFrame], schema: str) -> DataFrame:
            return reduce(DataFrame.unionByName, frames) if frames \
                else local_frame(spark, [], schema)

        # final filesystem state: the LAST writer per path in sequential
        # write order wins, exactly like the reference's overwriting file
        # sink (pages always overwrite; assets only write unseen paths) —
        # one row per output file, order-insensitive.
        row = F.struct(*[F.col(c) for c in
                         ("url", "file_path", "body", "is_page", "epoch")])
        out = (table(outputs, OUTPUT_SCHEMA).groupBy("file_path")
               .agg(F.max_by(row, F.col("wpos")).alias("_r"))
               .select("_r.url", "file_path", "_r.body", "_r.is_page",
                       "_r.epoch"))
        return CrawlResult(seen=seen,
                           fetch_log=table(fetch_logs, FETCH_LOG_SCHEMA),
                           documents=table(documents, DOCUMENTS_SCHEMA),
                           output=out, epochs=epoch, seed_host=self.seed_host,
                           cookies=self._final_cookies())

    def _final_cookies(self) -> list[dict]:
        """Live (non-expired) session cookies, like Scraper.Cookies()
        filtering through the jar (scraper/cookies.go:20-37)."""
        now = time.time()
        return [dict(d) for d in self._session_cookies.values()
                if d.get("expires") is None or d["expires"] > now]

    # ------------------------------------------------------------------
    # Overlap INDEPENDENT epoch actions (guide §2.6: actions are only
    # sequential because driver code calls them sequentially): each helper's
    # jobs back-fill executors freed by the others' stage tails, and the
    # ~50-100 ms per-job driver latency of the epoch's bookkeeping actions
    # overlaps instead of summing.  InheritableThread propagates the JVM
    # thread-locals (job group), so job accounting still sees every job.
    def _deferred(self, fn) -> Future:
        """Start ``fn`` on an InheritableThread now; the returned Future
        holds its result or failure.  run() waits for every helper before
        it returns or raises."""
        from pyspark import InheritableThread

        fut: Future = Future()

        def work():
            try:
                fut.set_result(fn())
            except BaseException as e:
                fut.set_exception(e)

        InheritableThread(target=work).start()
        # a helper that finished cleanly needs no final wait
        self._helpers = [h for h in self._helpers
                         if not h.done() or h.exception() is not None]
        self._helpers.append(fut)
        return fut

    def _localckpt(self, df: DataFrame, label: str = "") -> DataFrame:
        # eager: truncate lineage AND materialize once — every epoch state is
        # consumed by several downstream actions, and without materialization
        # the whole epoch chain would re-execute per action.  ``label`` names
        # the stage for a tracer that wraps this method (perfbench/tracing.py)
        return df.localCheckpoint(eager=True)

    def _http_source(self, rows: DataFrame, order: list[str]) -> DataFrame:
        from ..sources.fetch import http_fetch_df
        return http_fetch_df(
            rows, self.config, order,
            session_cookies=list(self._session_cookies.values()))

    def _fetch_observed(self, rows: DataFrame, label: str, order: list[str],
                        *aggs):
        """The fetch seam: ``rows`` in; the same rows plus (body, resp_url,
        status, attempts) out, from the source chosen in ``__init__``
        (sources/fetch.py).  Every row carries its ``not_before_ms``; a
        live fetch sends each host's rows in ``order`` (crawl order), spaced
        by that schedule.  S2 retries are the fetch's own: the reference
        retries 429s inline with linear backoff (scraper/http.go:50-96),
        so retry outcomes never change crawl order.

        ONE checkpoint under the caller's ``label`` materializes the
        result: it pins a live fetch's network side effects, so no
        consumer re-runs the GETs and callers need no join back.

        Returns ``(fetched, obs)``: the caller's ``aggs`` over the fetched
        rows ride the checkpoint's job into the Observation ``obs``."""
        import json as _json

        fetched, obs = _observed(
            self._source(rows, order),
            F.collect_list(F.when(
                F.col("set_cookies").isNotNull(),
                F.struct("url", "set_cookies"))).alias("snaps"), *aggs)
        fetched = self._localckpt(fetched, label)
        # absorb the batches' final jar snapshots so cookies set in this
        # round (e.g. a login page's session id) are presented in later
        # rounds/epochs, like the reference's shared jar.  The snapshots
        # (one row per host batch) rode the checkpoint's job; applying
        # them in url order keeps the merge deterministic.
        for snap in sorted(obs.get["snaps"], key=lambda r: r.url):
            for c in snap.set_cookies:
                d = _json.loads(c)
                self._session_cookies[
                    (d["domain"], d["path"], d["name"])] = d
        return fetched.drop("set_cookies"), obs

    def _fetch(self, frontier: DataFrame, epoch: int) -> DataFrame:
        # the fetch returns the frontier rows themselves; at epoch 0 the
        # seed (the only row) rides the fetch's job for the rebase
        seed = [F.first(F.struct("url", "resp_url", "status")).alias("seed")
                ] if epoch == 0 else []
        fetched, obs = self._fetch_observed(frontier, "fetched", PAGE_ORDER,
                                            *seed)
        fetched = fetched.select(
            F.col("url").alias("req_url"), F.col("url").alias("page_url"),
            "body", "resp_url", "seq", "not_before_ms", "status",
            "attempts")
        return self._rebase_seed(fetched, obs.get["seed"]) if epoch == 0 \
            else fetched

    def _rebase_seed(self, fetched: DataFrame, row) -> DataFrame:
        """Depth-0 redirect rebase (scraper/scraper.go:193-198): the seed's
        response URL becomes the base URL and host for the whole crawl.
        ``row`` is the seed's fetched (url, resp_url, status), None when
        the seed failed its admission checks."""
        if row is None:
            raise ValueError("start page is excluded from downloading")
        if row.status != "ok":
            return fetched
        if row.resp_url and row.resp_url != row.url:
            new_u = parse_url(row.resp_url)
            self.seed = GoURL(scheme=new_u.scheme, host=new_u.host,
                              path=new_u.path, query=new_u.query)
            self.seed_host = new_u.host
            return fetched.withColumn(
                "page_url",
                F.when(F.col("page_url") == row.url,
                       F.lit(row.resp_url)).otherwise(F.col("page_url")))
        return fetched

    # ------------------------------------------------------------------
    def _admission_fixpoint(self, candidates: DataFrame, seen: DataFrame,
                            processed: DataFrame, written: DataFrame,
                            epoch: int):
        """Admission + in-epoch CSS discovery fixpoint (see module doc).
        ``processed`` is the epoch's page pass, whose ok pages' writes the
        fileExists check reads.

        Returns ``(inserts, survivors, ranked, link_chain, counts)``:
        survivors drive the seen inserts and the next frontier; ``ranked``
        is the fileExists check of the asset survivors (``_fs_admit``) and
        ``link_chain`` the fetched chain of its link-bearing paths (None
        when there are none), whose ok link rows CSS discovery reads: a
        stylesheet is fetched once, in the wave where the reference
        fetches it, and not at all when its file exists.  ``counts`` holds
        the inserted-key count ``n`` and ``n_deferred_rest``, the deferred
        rows outside the link-bearing paths (``_fetch_assets``).

        Stability is detected by an order-insensitive signature of every
        row on a link-bearing path, allowed or deferred (count + bit_xor
        of row hashes), observed during the assets_allowed checkpoint — no
        extra job and no driver-side materialization of the set itself.
        Paths do not interact in the chain, so when the signature repeats,
        the previous round's chain is the chain for these rows: the round
        is self-consistent, and only the sequential answer is.  The loop
        runs until then, or until the chain yields no CSS candidates, with
        no round cap.  A discovered image can only take the key of a link
        asset considered after its own stylesheet, so round k settles at
        least the first k link assets in consideration order, and the loop
        ends within (link assets + 1) rounds."""
        cfg = self.config
        css_cands = link_chain = prev_sig = None
        while True:
            all_cands = candidates if css_cands is None \
                else candidates.unionByName(css_cands)
            inserts, survivors = admit(all_cands, seen, self.seed_host,
                                       epoch, cfg.max_depth, cfg.includes,
                                       cfg.excludes, bloom=self.bloom)
            # the inserted-key count (the epoch's seen delta) rides the
            # checkpoint's job
            inserts, ins_obs = _observed(
                inserts, F.count(F.lit(1)).alias("n"))
            inserts = self._localckpt(inserts, "inserts")
            survivors = inserts.filter(F.col("survived"))
            if cfg.fetch_robots:
                # cross-host assets (and CSS-discovered refs) are gated by
                # THEIR host's robots.txt: each newly-seen host's file is
                # fetched once, all of them in one fetch.  The distinct
                # scan reads the just-checkpointed inserts (cheap) and the
                # collect is bounded by the crawl's distinct host count —
                # the same budget class as the per-epoch cookie harvest.
                self._ingest_host_robots(
                    [(r.host, r.scheme) for r in survivors
                     .select("host", "scheme").distinct().collect()])
            if self.robots_rfc is not None:
                from ..operators.politeness import apply_robots_rfc
                survivors = apply_robots_rfc(survivors, self.robots_rfc)
            ranked, m = self._fs_admit(survivors.filter(F.col("is_asset")),
                                       processed, written)
            counts = {"n": ins_obs.get["n"],
                      "n_deferred_rest": m["n_deferred_rest"]}
            sig = (m["n_link"], m["h_link"])
            if sig[0] == 0:
                return inserts, survivors, ranked, None, counts
            if sig == prev_sig:
                return inserts, survivors, ranked, link_chain, counts
            prev_sig = sig
            link_chain = self._fetch_assets(ranked, m["n_deferred_link"],
                                            True, epoch)
            css_cands = self._css_candidates(link_chain)
            if css_cands is None:
                return inserts, survivors, ranked, link_chain, counts

    # ------------------------------------------------------------------
    @staticmethod
    def _pos():
        """Consideration-order position of an asset row (comparable struct)."""
        return F.struct(*[F.col(c) for c in ORDER_COLS])

    @staticmethod
    def _page_pos():
        """A page's file write happens right before its own assets are
        considered and after every earlier page's: stage_rank -1 sorts it
        between page seq boundaries."""
        return F.struct(F.col("seq").alias("parent_seq"),
                        F.lit(-1).alias("stage_rank"),
                        F.lit(0).alias("sub_rank"),
                        F.lit(0).alias("intra1"),
                        F.lit(0).alias("intra2"))

    def _fs_admit(self, assets: DataFrame, processed: DataFrame,
                  written: DataFrame) -> tuple[DataFrame, dict]:
        """fileExists admission (scraper/download.go:76-79): drop admitted
        assets whose output path was already written by (a) any earlier
        epoch, (b) an ok page of this epoch stored before the asset's
        consideration point, or (c) an earlier-considered ok asset of this
        epoch.  Seen inserts are NOT affected — the reference adds the key
        in shouldURLBeDownloaded before the fileExists check.

        A fetch's outcome is unknown before it runs, so the check
        optimistically keeps the first-considered candidate per path and
        defers the rest; ``_fetch_assets`` re-admits deferred candidates
        whose predecessors all failed (the sequential chain, one wave per
        failure depth).

        Every asset row carries its output ``file_path`` from the pass
        that emitted it (operators/extract.page_candidates,
        ``_css_candidates``); the page writes are ``processed``'s rows.
        Returns ``(ranked, counts)``: ``ranked`` is the ``assets_allowed``
        checkpoint of the kept candidates, flagged ``_defer`` (not first on
        its path) and ``_link_path`` (its path keeps a link asset);
        ``counts`` holds the deferred rows inside and outside the
        link-bearing paths (``n_deferred_link``, ``n_deferred_rest``) and
        the fixpoint's signature (``n_link``, ``h_link``)."""
        pos = self._pos()
        page_w = processed.select("file_path", self._page_pos().alias("pos"))

        # ONE window over file_path on (assets whose path no earlier
        # epoch wrote) ∪ (this epoch's ok page writes).  Per path, every
        # asset considered after the first page write is dropped (that
        # page wrote the file first); of the remaining assets the
        # minimum-position one is allowed and the others are marked
        # _defer for _fetch_assets' failure-chain waves.  If the path's
        # first asset comes after its first page write, so do all the
        # others — hence min over ALL the path's assets is the first
        # remaining one, and likewise the path keeps a link asset iff its
        # first link asset precedes the first page write.
        by_path = Window.partitionBy("file_path")
        is_asset = F.col("_is_asset")
        rows = (assets.join(written, "file_path", "left_anti")
                .withColumn("_pos", pos).withColumn("_is_asset", F.lit(True))
                .unionByName(page_w.select("file_path",
                                           F.col("pos").alias("_pos"),
                                           F.lit(False).alias("_is_asset")),
                             allowMissingColumns=True))
        def first(cond):
            return F.min(F.when(cond, F.col("_pos"))).over(by_path)

        def before_page(c):
            return F.col("_first_page").isNull() | (c < F.col("_first_page"))

        # one select, so the three minima share one Window operator
        ranked = (rows.select(
                      "*", first(~is_asset).alias("_first_page"),
                      first(is_asset).alias("_first_asset"),
                      first(is_asset & (F.col("stage_rank") == 1))
                      .alias("_first_link"))
                  .withColumn("_defer", F.col("_pos") != F.col("_first_asset"))
                  .withColumn("_link_path",
                              F.col("_first_link").isNotNull()
                              & before_page(F.col("_first_link")))
                  .filter(is_asset & before_page(F.col("_pos")))
                  .drop("_pos", "_is_asset", "_first_page", "_first_asset",
                        "_first_link"))
        # free aggregates on the checkpoint's own job: the deferred counts
        # (is there a failure chain to run in each part?) and the fixpoint's
        # signature over every row on a link-bearing path.  bit_xor, not
        # sum: the signature only needs order-insensitivity, and summing
        # xxhash64 values overflows under ANSI mode.
        defer, link = F.col("_defer"), F.col("_link_path")
        ranked, obs = _observed(
            ranked,
            F.count(F.when(defer & link, 1)).alias("n_deferred_link"),
            F.count(F.when(defer & ~link, 1)).alias("n_deferred_rest"),
            F.count(F.when(link, 1)).alias("n_link"),
            F.bit_xor(F.when(link, F.xxhash64(*ORDER_COLS, "url")))
            .alias("h_link"))
        return self._localckpt(ranked, "assets_allowed"), obs.get

    def _css_candidates(self, chain: DataFrame) -> DataFrame | None:
        """cssProcessor discovery (scraper/download.go:104-131): the url()
        refs of every link asset the fileExists chain fetched ok, as image
        candidates.

        The reference enqueues the RAW parsed src (css/css.go:44-52 passes
        url.Parse(src), never resolved against the css file), so relative
        refs lack a scheme and are dropped by the scheme filter in admission
        WITHOUT a seen insert — only absolute http(s) url() refs are ever
        fetched.  Candidates get sub_rank 1 so they sort after the page's
        body+img image entries but before the next page's stages."""
        fetched = (chain.filter((F.col("status") == "ok")
                                & (F.col("stage_rank") == 1))
                   .select("url", "page_url", "parent_seq",
                           F.col("intra1").alias("link_intra"), "body"))

        seed_host = self.seed_host
        outdir = self.config.output_directory

        def run(batches) -> Iterator:
            import pandas as pd
            cols = [c.split()[0] for c in CAND_SCHEMA.split(", ")]
            for pdf in batches:
                rows = []
                for url, page_url, pseq, lintra, body in zip(
                        pdf["url"], pdf["page_url"], pdf["parent_seq"],
                        pdf["link_intra"], pdf["body"]):
                    text = (bytes(body) if body is not None else b"") \
                        .decode("utf-8", errors="replace")
                    base = parse_url(url)
                    for k, ref in enumerate(css_extract(text, base)):
                        ru = parse_url(ref.src)  # RAW src (css/css.go:44-52)
                        if ru.scheme not in ("http", "https"):
                            # scheme-rejected BEFORE any seen insert
                            # (checks.go:27-29): observable nowhere
                            continue
                        no_frag = ref.src.split("#", 1)[0]
                        rows.append((page_url, pseq, 5, 1, int(lintra), k,
                                     no_frag, ru.scheme, ru.host, ru.path,
                                     True, "css-image",
                                     ref_dedup_key(no_frag, ru.host, ru.path,
                                                   seed_host),
                                     get_file_path(parse_url(no_frag),
                                                   seed_host, outdir, False)))
                yield pd.DataFrame(rows, columns=cols)

        out, obs = _observed(fetched.mapInPandas(run, schema=CAND_SCHEMA),
                             F.count(F.lit(1)).alias("n"))
        out = self._localckpt(out, "css_cands")
        return out if obs.get["n"] else None

    # ------------------------------------------------------------------
    def _schedule(self, rows: DataFrame, order: list[str]) -> DataFrame:
        """``rows`` (with a ``host`` column) plus ``not_before_ms``: J5's
        per-host politeness schedule in ``order``, which the fetch logs and
        a live fetch executes.  No delay configured and no robots
        Crawl-delay known: every row is 0, and no window runs."""
        if self.config.politeness_delay_ms > 0 or self._host_delay_ms:
            from ..operators.politeness import schedule_politeness
            return schedule_politeness(rows, self.config.politeness_delay_ms,
                                       order, self._host_delay_ms)
        return rows.withColumn("not_before_ms", F.lit(0).cast("long"))

    def _fetch_assets(self, ranked: DataFrame, n_deferred: int, part: bool,
                      epoch: int) -> DataFrame:
        """Run the fileExists chain for the paths of ``ranked``
        (``_fs_admit``) that hold a kept link asset (``part`` True) or for
        the others: fetch the allowed assets, then re-admit deferred
        same-path candidates whose predecessors all failed, one wave per
        chain level — the exact sequential fileExists semantics.
        ``n_deferred`` is the part's deferred row count from ``_fs_admit``;
        at 0 the chain is one wave.  The first wave is scheduled over every
        allowed row, so a row's ``not_before_ms`` does not depend on the
        part that fetches it.  Returns the union of the waves' fetched
        rows."""
        defer = F.col("_defer")
        in_part = F.col("_link_path") if part else ~F.col("_link_path")
        deferred = ranked.filter(in_part & defer) if n_deferred else None
        rounds: list[DataFrame] = []
        cur = self._schedule(ranked.filter(~defer), ORDER_COLS) \
                  .filter(in_part)
        while True:
            # the fetch returns (and checkpoints) the scheduled rows
            # themselves: no join back, no second checkpoint.  Fetch log
            # columns, plus what the outputs and CSS discovery read.
            fetched = self._fetch_observed(
                cur, "asset_round", ORDER_COLS)[0].select(
                "url", F.lit("asset").alias("kind"), "not_before_ms",
                "status", "attempts", *ORDER_COLS,
                F.lit(epoch).alias("depth"), F.lit(epoch).alias("epoch"),
                "stage", "body", "file_path", "page_url")
            rounds.append(fetched)
            if deferred is None:
                break
            ok_paths = fetched.filter(F.col("status") == "ok") \
                              .select("file_path").distinct()
            deferred, obs = _observed(
                deferred.join(ok_paths, "file_path", "left_anti"),
                F.count(F.lit(1)).alias("n"))
            deferred = self._localckpt(deferred, "asset_deferred")
            if obs.get["n"] == 0:
                break
            pos = self._pos()
            j = deferred.withColumn(
                "_first", F.min(pos).over(Window.partitionBy("file_path")))
            cur = self._schedule(
                j.filter(pos == F.col("_first")).drop("_first"), ORDER_COLS)
            deferred = j.filter(pos != F.col("_first")).drop("_first")
        return reduce(DataFrame.unionByName, rounds)

    def _asset_outputs(self, asset_fetch: DataFrame, epoch: int) -> DataFrame:
        """One output row per ok asset fetch, written at its consideration
        position.  A url occurs at most once in an epoch's asset fetch:
        admission keeps one row per ``dedup_key``, and a url has one key."""
        quality = self.config.image_quality
        body = F.col("body")
        if 1 <= quality <= 99:
            @F.pandas_udf("binary")
            def recode(bodies, stages):
                import pandas as pd

                from ..operators.images import recode_image_bytes
                # C19: only the images-queue stage recodes
                # (scraper/download.go:58-63); quality 0 disables
                return pd.Series([
                    recode_image_bytes(bytes(b), quality)
                    if s in ("image", "css-image") else b
                    for b, s in zip(bodies, stages)])

            body = recode(body, F.col("stage"))
        return (asset_fetch.filter(F.col("status") == "ok")
                .select("url", "file_path", body.alias("body"),
                        F.lit(False).alias("is_page"),
                        F.lit(epoch).alias("epoch"),
                        F.struct(F.lit(epoch).alias("epoch"),
                                 self._pos().alias("pos")).alias("wpos")))


def _observed(df: DataFrame, *aggs):
    """``(df.observe(obs, *aggs), obs)``: the aggregates ride the job that
    materializes ``df`` (read ``obs.get`` after that job ran)."""
    from pyspark.sql import Observation

    obs = Observation()
    return df.observe(obs, *aggs), obs


def crawl(spark: SparkSession, config: CrawlConfig,
          pages: DataFrame | None, resume: bool = False,
          **kwargs) -> CrawlResult:
    """Library entry point (SURVEY §3.2): the Spark equivalent of
    ``scraper.New(...)`` + ``Start``.  ``pages=None`` crawls over HTTP."""
    return Crawler(spark, config, pages, **kwargs).run(resume=resume)

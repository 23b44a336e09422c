"""Sequential crawl oracle — a faithful Python re-implementation of the
reference's single-goroutine BFS loop (scraper/scraper.go:152-236,
scraper/download.go:26-131, scraper/checks.go:26-72).

This is NOT the Spark engine: it is the golden model the epoch-synchronous
Spark crawler (plans/crawl.py) is tested against for exact crawl-order and
URL-seen-set equality (BASELINE.json:metric).  Validated against the Go
tests' own golden values (scraper/scraper_test.go:47-195).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from ..config import CrawlConfig
from ..functions.filetype import sniff_extension
from ..functions.urlmath import get_file_path
from ..functions.urlnorm import GoURL, dedup_key, parse_url
from ..operators.cssx import css_extract
from ..operators.extract import extract_spans, tag_urls
from ..operators.images import recode_image_bytes
from ..operators.rewrite import rewrite_document


@dataclass
class PageFixture:
    """One row of the mock web (FIXTURES.md §1.1)."""

    body: bytes
    resp_url: str | None = None   # post-redirect URL (scraper.go:193-198)
    retry_after: int = 0          # number of leading 429 responses


@dataclass
class FetchRecord:
    seq: int
    url: str                      # fragment-free URL actually fetched
    kind: str                     # 'page' | 'asset'
    depth: int
    status: str                   # 'ok' | 'missing' | 'exhausted'
    attempts: int = 1
    parent: str = ""
    stage: str = ""               # link|script|body|style|image|css-image|seed|a


@dataclass
class SimResult:
    seen: set[str]
    fetches: list[FetchRecord]
    files: dict[str, bytes]
    documents: dict[str, list]    # url -> span list
    error: str | None = None


def _as_fixture(v) -> PageFixture:
    if isinstance(v, PageFixture):
        return v
    if isinstance(v, str):
        return PageFixture(body=v.encode("utf-8"))
    return PageFixture(body=bytes(v))


@dataclass
class Simulator:
    config: CrawlConfig
    pages: dict[str, PageFixture]

    # state (mirrors Scraper fields, scraper/scraper.go:52-75)
    processed: set[str] = field(default_factory=set)
    web_page_queue: list[GoURL] = field(default_factory=list)
    web_page_queue_depth: dict[str, int] = field(default_factory=dict)
    images_queue: list[GoURL] = field(default_factory=list)
    fetches: list[FetchRecord] = field(default_factory=list)
    files: dict[str, bytes] = field(default_factory=dict)
    documents: dict[str, list] = field(default_factory=dict)

    def __post_init__(self) -> None:
        self.pages = {k: _as_fixture(v) for k, v in self.pages.items()}
        u = parse_url(self.config.url)
        u = GoURL(scheme=u.scheme or "http", host=u.host, path=u.path,
                  query=u.query)  # fragment stripped (scraper.go:86,102-104)
        self.url = u  # mutable main URL (redirect rebase)
        self.includes = self.config.compiled_includes()
        self.excludes = self.config.compiled_excludes()
        self._seq = 0

    # ---- admission (scraper/checks.go:26-72) -----------------------------
    def should_download(self, u: GoURL, current_depth: int, is_asset: bool) -> bool:
        if u.scheme not in ("http", "https"):
            return False
        key = dedup_key(u, self.url.host)
        if key in self.processed:
            return False
        self.processed.add(key)
        if not is_asset:
            if u.host != self.url.host:
                return False
            if self.config.max_depth != 0 and current_depth == self.config.max_depth:
                return False
        if self.includes and not any(p.search(u.path) for p in self.includes):
            return False
        if self.excludes and any(p.search(u.path) for p in self.excludes):
            return False
        return True

    # ---- fetch w/ 429 retry (scraper/http.go:50-96) ----------------------
    def _fetch(self, u: GoURL) -> tuple[bytes | None, GoURL, str, int]:
        full = GoURL(scheme=u.scheme, host=u.host, path=u.path, query=u.query)
        fx = self.pages.get(full.string())
        if fx is None:
            return None, full, "missing", 1
        if fx.retry_after > self.config.max_retries:
            return None, full, "exhausted", self.config.max_retries + 1
        resp_url = parse_url(fx.resp_url) if fx.resp_url else full
        return fx.body, resp_url, "ok", fx.retry_after + 1

    # ---- crawl loop (scraper/scraper.go:152-175) -------------------------
    def start(self) -> SimResult:
        seed_ok = self.should_download(self.url, 0, False)
        if not seed_ok:
            return SimResult(self.processed, self.fetches, self.files,
                             self.documents,
                             error="start page is excluded from downloading")
        self.process_url(self.url, 0)
        while self.web_page_queue:
            ur = self.web_page_queue.pop(0)
            current_depth = self.web_page_queue_depth.get(ur.string(), 0)
            self.process_url(ur, current_depth + 1)
        return SimResult(self.processed, self.fetches, self.files,
                         self.documents)

    # ---- per page (scraper/scraper.go:177-236) ---------------------------
    def process_url(self, u: GoURL, current_depth: int) -> None:
        data, resp_url, status, attempts = self._fetch(u)
        self._seq += 1
        self.fetches.append(FetchRecord(
            seq=self._seq, url=u.string(), kind="page", depth=current_depth,
            status=status, attempts=attempts, stage="seed" if current_depth == 0 else "a"))
        if data is None:
            return

        file_extension = sniff_extension(data)
        if current_depth == 0:
            u = resp_url
            self.url = resp_url  # redirect rebase (scraper.go:193-198)

        text = data.decode("utf-8", errors="replace")
        spans = extract_spans(text, u.string())
        self.documents[u.string()] = spans

        # storeDownload (scraper/scraper.go:240-273)
        is_a_page = False
        out_data = data
        if file_extension == "":
            new_text, changed = rewrite_document(text, u.string(), self.url.host)
            if changed:
                out_data = new_text.encode("utf-8")
            is_a_page = True
        file_path = get_file_path(u, self.url.host,
                                  self.config.output_directory, is_a_page)
        self.files[file_path] = out_data  # pages always overwritten

        self.download_references(spans, u, current_depth)

        # a-tag links (scraper/scraper.go:219-233): parent depth semantics
        for ref in tag_urls(spans, "a"):
            ur = parse_url(ref.split("#", 1)[0])
            if self.should_download(ur, current_depth, False):
                self.web_page_queue.append(ur)
                self.web_page_queue_depth[ur.string()] = current_depth

    # ---- assets (scraper/download.go:26-65) ------------------------------
    def download_references(self, spans, page_u: GoURL, depth: int) -> None:
        self.images_queue.extend(parse_url(r) for r in tag_urls(spans, "body"))
        self.images_queue.extend(parse_url(r) for r in tag_urls(spans, "img"))

        for tag in ("link", "script", "body", "style"):
            processor = self._css_processor if tag == "link" else None
            for ref in tag_urls(spans, tag):
                self.download_asset(parse_url(ref), processor, page_u, depth,
                                    stage=tag)

        for image in self.images_queue:
            self.download_asset(image, self._recode_processor, page_u, depth,
                                stage="image")
        self.images_queue = []

    def download_asset(self, u: GoURL, processor: Callable | None,
                       page_u: GoURL, depth: int, stage: str) -> None:
        u = GoURL(scheme=u.scheme, host=u.host, path=u.path, query=u.query)  # strip fragment
        if not self.should_download(u, 0, True):
            return
        file_path = get_file_path(u, self.url.host,
                                  self.config.output_directory, False)
        if file_path in self.files:  # fileExists resume (download.go:76-79)
            return
        data, _, status, attempts = self._fetch(u)
        self._seq += 1
        self.fetches.append(FetchRecord(
            seq=self._seq, url=u.string(), kind="asset", depth=depth,
            status=status, attempts=attempts, parent=page_u.string(),
            stage=stage))
        if data is None:
            return
        if processor is not None:
            data = processor(u, data)
        self.files[file_path] = data

    # cssProcessor (scraper/download.go:104-131): discovers images; its
    # rewrite map is dead code (keys are full url(...) tokens), so the CSS
    # bytes are stored unmodified.  css.Process hands the processor the RAW
    # parsed src (css/css.go:44-52, url.Parse(src) — never resolved against
    # the css file), so relative url() refs have no scheme and fail the
    # scheme check in shouldURLBeDownloaded before any seen insert: only
    # absolute http(s) refs are ever fetched.
    def _css_processor(self, u: GoURL, data: bytes) -> bytes:
        text = data.decode("utf-8", errors="replace")
        for ref in css_extract(text, u):
            self.images_queue.append(parse_url(ref.src))
        return data

    def _recode_processor(self, u: GoURL, data: bytes) -> bytes:
        # checkImageForRecode (scraper/images.go): recode only when
        # image_quality in [1,99]; keep the recoded bytes only if smaller
        return recode_image_bytes(data, self.config.image_quality)


def crawl_sequential(config: CrawlConfig, pages: dict) -> SimResult:
    """Run the sequential oracle."""
    return Simulator(config=config, pages=pages).start()

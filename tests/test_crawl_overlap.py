"""The crawl loop's helper threads: ``Crawler.run`` waits for every helper
it started before it returns or raises, and the epoch commits that run in the
background stay serialized in epoch order and write what a synchronous
commit writes."""

import json
import os
import threading
import time

import pytest

from goscrape_spark.config import CrawlConfig
from goscrape_spark.plans import crawl as crawl_mod
from goscrape_spark.plans.crawl import Crawler, crawl
from goscrape_spark.sources.fixtures import (
    SITE_LINKS,
    SITE_LINKS_START,
    pages_df,
)
from goscrape_spark.sources.storage import CrawlCheckpoint

AQE = "spark.sql.adaptive.enabled"
PARTS = "spark.sql.shuffle.partitions"


def _conf(spark):
    return spark.conf.get(AQE), spark.conf.get(PARTS)


def _crawl(spark, ckpt=None, **kw):
    return crawl(spark, CrawlConfig(url=SITE_LINKS_START),
                 pages_df(spark, SITE_LINKS), checkpoint=ckpt, **kw)


def _committed(ckpt):
    """MANIFEST.json and every epoch's metrics.json, as parsed JSON."""
    def load(*parts):
        with open(os.path.join(ckpt.path, *parts)) as f:
            return json.load(f)

    manifest = load("MANIFEST.json")
    return manifest, [load(f"epoch={e}", "metrics.json")
                      for e in range(manifest["max_committed_epoch"] + 1)]


def test_failed_loop_waits_for_warm_up_before_restoring_conf(spark,
                                                             monkeypatch):
    """The loop raises while the warm-up helper still runs: run() still
    waits for that job, and restores the conf only after it."""
    before = _conf(spark)
    failed, done = threading.Event(), threading.Event()
    aqe_at_end = []
    orig = crawl_mod._warm_python_workers

    def blocked_warm_up(spark_, n):
        failed.wait(120)
        time.sleep(1)
        orig(spark_, n)
        aqe_at_end.append(spark.conf.get(AQE))
        done.set()

    def failing_fixpoint(self, *a, **kw):
        failed.set()
        raise RuntimeError("injected admission failure")

    monkeypatch.setattr(crawl_mod, "_warm_python_workers", blocked_warm_up)
    monkeypatch.setattr(Crawler, "_admission_fixpoint", failing_fixpoint)
    with pytest.raises(RuntimeError, match="injected admission"):
        _crawl(spark)
    assert done.is_set()
    assert aqe_at_end == ["false"]  # the loop's conf, not yet restored
    assert _conf(spark) == before


def test_background_commits_run_in_epoch_order(spark, tmp_path,
                                               monkeypatch):
    spans = []  # [epoch, thread, start, end], in start order
    orig = CrawlCheckpoint.commit_epoch

    def recorded(self, epoch, *a, **kw):
        rec = [epoch, threading.get_ident(), time.monotonic(), None]
        spans.append(rec)
        orig(self, epoch, *a, **kw)
        rec[3] = time.monotonic()

    with monkeypatch.context() as mp:
        mp.setattr(CrawlCheckpoint, "commit_epoch", recorded)
        ckpt = CrawlCheckpoint(path=str(tmp_path / "background"))
        res = _crawl(spark, ckpt)
        returned = time.monotonic()
    assert res.epochs >= 3
    assert [s[0] for s in spans] == list(range(res.epochs))
    assert all(s[1] != threading.get_ident() for s in spans)
    assert all(s[3] is not None and s[3] <= returned for s in spans)
    for prev, nxt in zip(spans, spans[1:]):
        assert prev[3] <= nxt[2]  # never overlap
    background = _committed(ckpt)
    assert background[0] == {"max_committed_epoch": res.epochs - 1}

    class _Done:
        """A helper that already ran on the caller's thread."""

        def __init__(self, fn):
            self._v = fn()

        def result(self):
            return self._v

    with monkeypatch.context() as mp:
        mp.setattr(Crawler, "_deferred", lambda self, fn: _Done(fn))
        ckpt = CrawlCheckpoint(path=str(tmp_path / "synchronous"))
        _crawl(spark, ckpt)
    assert background == _committed(ckpt)


@pytest.mark.parametrize("max_epochs", [1, 1000])
def test_commit_failure_surfaces_from_run(spark, tmp_path, monkeypatch,
                                          max_epochs):
    """A commit that fails at epoch 0 surfaces from run(): at the next
    commit when the crawl goes on, from run()'s final join when epoch 0 is
    the last one."""
    before = _conf(spark)
    orig = CrawlCheckpoint.commit_epoch

    def failing(self, epoch, *a, **kw):
        if epoch == 0:
            raise OSError("injected commit failure")
        return orig(self, epoch, *a, **kw)

    monkeypatch.setattr(CrawlCheckpoint, "commit_epoch", failing)
    ckpt = CrawlCheckpoint(path=str(tmp_path / "ckpt"))
    with pytest.raises(OSError, match="injected commit"):
        _crawl(spark, ckpt, max_epochs=max_epochs)
    assert ckpt.max_committed_epoch() is None
    assert _conf(spark) == before


def test_loop_error_wins_over_commit_error(spark, tmp_path, monkeypatch):
    """The loop fails while a failing commit is in flight: the loop's error
    is raised, with the commit's error as its cause."""
    orig_fetch = Crawler._fetch

    def failing_commit(self, epoch, *a, **kw):
        raise OSError("injected commit failure")

    def failing_fetch(self, frontier, epoch):
        if epoch == 1:
            raise RuntimeError("injected fetch failure")
        return orig_fetch(self, frontier, epoch)

    monkeypatch.setattr(CrawlCheckpoint, "commit_epoch", failing_commit)
    monkeypatch.setattr(Crawler, "_fetch", failing_fetch)
    ckpt = CrawlCheckpoint(path=str(tmp_path / "ckpt"))
    with pytest.raises(RuntimeError, match="injected fetch") as exc:
        _crawl(spark, ckpt)
    assert isinstance(exc.value.__cause__, OSError)

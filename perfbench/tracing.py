"""Span tracing of one crawl, from outside the package.

``Tracer.install()`` wraps the crawl's calls into each layer:

* ``Crawler.run``                    span ``crawl`` (the root)
* ``Crawler._localckpt(df, label)``  span ``<label>`` (every epoch stage is
                                     materialized through it)
* ``Crawler._fetch``                 epoch start marker
* ``Crawler._admission_fixpoint``    keeps its candidate and insert frames so
                                     they can be counted after the crawl
* ``SeenSet.add_keys_df``            span ``bloom_build``
* ``CrawlCheckpoint.commit_epoch``   span ``commit_epoch``
* ``export_output_tree``             span ``export``

Each span records (name, start, end, parent) and sets the Spark job
description to its name while it is open, so status-store stages can be
attributed to it.  Spans opened in the crawl's helper threads take the root
span as parent.  ``uninstall()`` restores the original functions; spans stay
in memory until ``dump()`` writes them out.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager

FETCH_LABELS = ("fetched", "fetched_meta", "asset_fetch", "asset_round",
                "asset_deferred", "css_fetch")
# span label -> layer, for the per-layer self-time table.  The fileExists
# layer holds the written-file state it reads (page_paths, written_delta)
# as well as the checks themselves.
LAYERS = {
    "crawl": "plans.crawl",
    "processed": "operators.extract",
    "inserts": "operators.admission",
    "asset_paths": "plans.crawl.fs_admit",
    "assets_allowed": "plans.crawl.fs_admit",
    "assets_deferred": "plans.crawl.fs_admit",
    "page_paths": "plans.crawl.fs_admit",
    "written_delta": "plans.crawl.fs_admit",
    "seen_compact": "plans.crawl.compact",
    "written_compact": "plans.crawl.compact",
    "sitemap_fetch": "plans.crawl.sitemap",
    "sitemap_index": "plans.crawl.sitemap",
    "sitemap_locs": "plans.crawl.sitemap",
    "next_pages": "operators.ranking",
    "bloom_build": "operators.seen",
    **{label: "sources.fetch" for label in FETCH_LABELS},
    "commit_epoch": "sources.storage",
    "export": "sources.export",
}
DESC = "spark.job.description"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.epoch_starts: list[tuple[int, float]] = []
        self.candidates: list = []
        self.inserts: list = []
        self.crawler = None
        self.export_files = 0
        self._tls = threading.local()
        self._root: int | None = None
        self._lock = threading.Lock()
        self._saved: list[tuple[object, str, object]] = []
        self.own_s = 0.0  # time spent in span bookkeeping

    @contextmanager
    def span(self, name: str):
        t_in = time.perf_counter()
        stack = getattr(self._tls, "stack", None)
        if stack is None:
            stack = self._tls.stack = []
        parent = stack[-1] if stack else self._root
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "parent": parent,
                   "thread": threading.get_ident(),
                   "start": time.time(), "end": None}
            self.spans.append(rec)
        if name == "crawl":
            self._root = sid
        prev = self.sc.getLocalProperty(DESC)
        self.sc.setLocalProperty(DESC, name)
        stack.append(sid)
        t_body = time.perf_counter()
        try:
            yield rec
        finally:
            t_out = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(DESC, prev)
            rec["end"] = time.time()
            if name == "crawl":
                self._root = None
            with self._lock:
                self.own_s += (t_body - t_in) + (time.perf_counter() - t_out)

    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._saved.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def install(self) -> None:
        from goscrape_spark.operators.seen import SeenSet
        from goscrape_spark.plans import crawl as crawl_mod
        from goscrape_spark.sources import export as export_mod
        from goscrape_spark.sources.storage import CrawlCheckpoint

        tr = self
        Crawler = crawl_mod.Crawler

        def traced(name):
            def make(orig):
                def wrapper(*a, **kw):
                    with tr.span(name):
                        return orig(*a, **kw)
                return wrapper
            return make

        def run(orig):
            def wrapper(crawler, *a, **kw):
                tr.crawler = crawler
                with tr.span("crawl"):
                    return orig(crawler, *a, **kw)
            return wrapper

        def localckpt(orig):
            def wrapper(crawler, df, label=""):
                with tr.span(label or "checkpoint"):
                    return orig(crawler, df, label)
            return wrapper

        def fetch(orig):
            def wrapper(crawler, frontier, epoch):
                tr.epoch_starts.append((epoch, time.time()))
                return orig(crawler, frontier, epoch)
            return wrapper

        def fixpoint(orig):
            def wrapper(crawler, candidates, *a, **kw):
                out = orig(crawler, candidates, *a, **kw)
                tr.candidates.append(candidates)
                tr.inserts.append(out[0])
                return out
            return wrapper

        def export(orig):
            def wrapper(*a, **kw):
                with tr.span("export"):
                    n = orig(*a, **kw)
                tr.export_files += n
                return n
            return wrapper

        self._patch(Crawler, "run", run)
        self._patch(Crawler, "_localckpt", localckpt)
        self._patch(Crawler, "_fetch", fetch)
        self._patch(Crawler, "_admission_fixpoint", fixpoint)
        self._patch(SeenSet, "add_keys_df", traced("bloom_build"))
        self._patch(CrawlCheckpoint, "commit_epoch", traced("commit_epoch"))
        self._patch(export_mod, "export_output_tree", export)

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "epochs": self.epoch_starts,
                       **(extra or {})}, f)


# ---------------------------------------------------------------------------
# Spark status store


def status_store(sc) -> tuple[list[dict], list[dict]]:
    """All retained jobs and stages of the status store, as plain dicts
    (serialized on the JVM side in one call each)."""
    jvm = sc._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala,
                        "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_mod, "MODULE$"))
    store = sc._jsc.sc().statusStore()
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    stages = json.loads(mapper.writeValueAsString(
        store.stageList(None, False, False, no_quantiles, None)))
    return jobs, stages


def spark_window(sc, start: float, end: float) -> dict:
    """Jobs submitted in [start, end] (epoch seconds) and the summed task
    metrics of their completed stages."""
    jobs, stages = status_store(sc)
    lo, hi = start * 1000 - 1, end * 1000 + 1
    win = [j for j in jobs if lo <= j["submissionTime"] <= hi]
    ids = {sid for j in win for sid in j["stageIds"]}
    done = [s for s in stages
            if s["stageId"] in ids and s["status"] == "COMPLETE"]
    busy = _union_len([(j["submissionTime"] / 1000.0,
                        (j.get("completionTime") or hi) / 1000.0)
                       for j in win])

    def total(key: str) -> float:
        return float(sum(s.get(key) or 0 for s in done))

    return {
        "jobs": len(win),
        "job_busy_s": busy,
        "tasks": total("numCompleteTasks"),
        "executor_run_s": total("executorRunTime") / 1e3,
        "executor_cpu_s": total("executorCpuTime") / 1e9,
        "gc_s": total("jvmGcTime") / 1e3,
        "input_mb": total("inputBytes") / 1e6,
        "shuffle_write_mb": total("shuffleWriteBytes") / 1e6,
        "shuffle_read_mb": total("shuffleReadBytes") / 1e6,
        "spill_mb": total("diskBytesSpilled") / 1e6,
        "by_label": _by_label(done),
    }


def python_sent_mb(spark, label: str) -> float:
    """MB that the SQL executions described as ``label`` sent to Python
    workers: the "data sent to Python workers" metric of their Python
    operators, read from the SQL status store."""
    jvm = spark.sparkContext._jvm
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    store = spark._jsparkSession.sharedState().statusStore()
    total = 0.0
    for ex in conv.asJava(store.executionsList()):
        if ex.description() != label:
            continue
        ids = {m.accumulatorId() for m in conv.asJava(ex.metrics())
               if m.name() == "data sent to Python workers"}
        values = conv.asJava(store.executionMetrics(ex.executionId()))
        total += sum(_size_bytes(v) for k, v in values.items() if k in ids)
    return total / 1e6


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _size_bytes(text: str) -> float:
    """Bytes of a formatted size metric: its total, e.g. ``1.5 MiB``, is
    the line after the ``total (min, med, max ...)`` header."""
    value, unit = text.strip().splitlines()[-1].split()[:2]
    return float(value) * _UNITS[unit]


def _by_label(stages: list[dict]) -> dict[str, float]:
    """Executor run seconds per job description (= span label)."""
    out: dict[str, float] = {}
    for s in stages:
        label = s.get("description") or "?"
        run_s = (s.get("executorRunTime") or 0) / 1e3
        out[label] = out.get(label, 0.0) + run_s
    return out


# ---------------------------------------------------------------------------
# summarizing


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span time minus the time covered by its child spans (children in
    helper threads may overlap each other; their union is subtracted)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - _union_len(kids.get(s["id"], []))
            for s in spans if s["end"] is not None}


def layer_table(spans: list[dict]) -> dict[str, dict]:
    """Per layer: span count, summed span time and summed self time."""
    selft = self_times(spans)
    out: dict[str, dict] = {}
    for s in spans:
        if s["end"] is None:
            continue
        layer = LAYERS.get(s["name"], "other")
        row = out.setdefault(layer, {"spans": 0, "total_s": 0.0,
                                     "self_s": 0.0})
        row["spans"] += 1
        row["total_s"] += s["end"] - s["start"]
        row["self_s"] += selft[s["id"]]
    return out


def label_total(spans: list[dict], *names: str) -> float:
    return sum(s["end"] - s["start"] for s in spans
               if s["name"] in names and s["end"] is not None)


def format_table(spans: list[dict], wall_s: float) -> str:
    rows = sorted(layer_table(spans).items(), key=lambda kv: -kv[1]["self_s"])
    lines = [f"{'layer':<26}{'spans':>6}{'total_s':>10}{'self_s':>10}"
             f"{'self%':>8}"]
    for layer, r in rows:
        share = 100.0 * r["self_s"] / wall_s if wall_s > 0 else 0.0
        lines.append(f"{layer:<26}{r['spans']:>6}{r['total_s']:>10.3f}"
                     f"{r['self_s']:>10.3f}{share:>7.1f}%")
    return "\n".join(lines)


def main(argv: list[str] | None = None) -> None:
    """Print the per-layer table of a written trace file:

        python3 perfbench/tracing.py .perfbench/trace-<workload>-<seed>.json
    """
    import argparse
    ap = argparse.ArgumentParser(description=main.__doc__)
    ap.add_argument("trace")
    args = ap.parse_args(argv)
    with open(args.trace) as f:
        data = json.load(f)
    print(format_table(data["spans"], data.get("wall_s", 0.0)))
    for k in ("overhead_ratio", "metrics"):
        if k in data:
            print(f"{k}: {json.dumps(data[k], indent=1, sort_keys=True)}")


if __name__ == "__main__":
    main()

"""Crawl benchmark: one workload per call, results as one JSON line.

    python3 perfbench/run.py --workload wide_crawl --seed 1 --seconds 30 \
        --trace 0

Run it from the root of a source tree that holds ``goscrape_spark``.
Workloads (see perfbench/README.md for why each was chosen):

  wide_crawl   mock k-ary site read from parquet (like ``cli
               --pages-parquet``), Bloom seen-set on
  live_export  ``goscrape_spark.cli.run`` with --output and --checkpoint
               against a local multi-host site server in its own process

Per call: generate (or reuse) the seeded inputs, work out their expected
results with the sequential oracle while Spark starts, then time
``--seconds // nominal_s`` crawls (at least one) and check every one
against the expected results.  ``--trace 0`` reports the end-to-end
metrics as medians over the timed crawls; ``--trace 1`` makes one traced
crawl and reports its per-layer metrics.  The last line of standard output
is the JSON result; a table for people goes to stderr.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import procs  # noqa: E402
import sites  # noqa: E402
import tracing  # noqa: E402

T_START = procs.process_start_time()

E2E_UNITS = {"setup_s": "s", "wall_s": "s", "urls_per_s": "1/s",
             "cpu_s": "s", "peak_rss_mb": "MB"}
LAYER_UNITS = {
    "plans.crawl.epochs": "count", "plans.crawl.epoch_s.p50": "s",
    "plans.crawl.epoch_s.max": "s", "plans.crawl.jobs_per_epoch": "count",
    "plans.crawl.driver_gap_s": "s", "plans.crawl.fs_admit_s": "s",
    "plans.crawl.css_rounds": "count",
    "operators.extract.busy_s": "s", "operators.extract.ms_per_page": "ms",
    "operators.extract.arrow_in_mb": "MB",
    "operators.admission.busy_s": "s",
    "operators.admission.candidates": "count",
    "operators.admission.inserts": "count",
    "operators.admission.insert_ratio": "ratio",
    "operators.seen.bloom_build_s": "s",
    "operators.seen.bloom_probed": "count",
    "operators.seen.certified_new_ratio": "ratio",
    "operators.ranking.busy_s": "s",
    "sources.fetch.busy_s": "s", "sources.fetch.requests": "count",
    "sources.fetch.useful_ratio": "ratio",
    "sources.fetch.concurrency_mean": "count", "sources.fetch.failed": "count",
    "sources.storage.commit_s": "s", "sources.export.s": "s",
    "sources.export.files": "count", "sources.export.mb": "MB",
    "sources.scan_mb": "MB",
    "spark.tasks": "count", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB", "spark.core_util": "ratio",
    "trace.overhead_ratio": "ratio",
}


# ---------------------------------------------------------------------------
# expected results


def digest(items) -> str:
    h = hashlib.sha256()
    for it in items:
        h.update(json.dumps(it).encode())
        h.update(b"\n")
    return h.hexdigest()


def expected_from_oracle(seed_url: str, resources: dict[str, bytes]) -> dict:
    """Digests of the sequential oracle's crawl of ``resources``."""
    from goscrape_spark.config import CrawlConfig
    from goscrape_spark.plans.simulator import crawl_sequential

    sim = crawl_sequential(CrawlConfig(url=seed_url), resources)
    fetches = [[f.url, f.kind, f.status] for f in sim.fetches]
    return {"seen": digest(sorted(sim.seen)), "n_seen": len(sim.seen),
            "fetches": digest(fetches), "n_fetches": len(fetches),
            "files": files_digest(sim.files.items()),
            "n_files": len(sim.files)}


def files_digest(items) -> str:
    return digest(sorted((p, hashlib.sha256(b).hexdigest()) for p, b in items))


def check(exp: dict, seen_keys, fetches, files) -> list[str]:
    """Names of the parts of a crawl result that differ from ``exp``."""
    got = {"seen": digest(sorted(seen_keys)),
           "fetches": digest([list(f) for f in fetches]),
           "files": files_digest(files)}
    return [k for k in got if got[k] != exp[k]]


# ---------------------------------------------------------------------------
# workloads


class Workload:
    name = ""
    seed_url = ""
    # length of one timed crawl on a 4-core host; a run makes
    # --seconds // nominal_s timed crawls, at least one
    nominal_s = 30.0
    # live fetches count as operations for fail_ratio; mock ones cannot fail
    fetch_ops = False
    server = None

    def __init__(self, seed: int, work: str, run_dir: str):
        self.seed, self.work, self.run_dir = seed, work, run_dir
        self.expected: dict = {}
        self.planted: set[str] = set()

    def crawls(self, seconds: float) -> int:
        return max(1, int(seconds // self.nominal_s))

    def prepare(self) -> None:
        """Input files and server, before Spark starts."""

    def compute_expected(self) -> None:
        """Run the oracle on every call: expected values are never cached,
        so they always come from the package under test."""
        self.expected = expected_from_oracle(self.seed_url, self.resources)

    def crawl(self, spark) -> tuple[float, object, dict]:
        """Run one crawl; return (wall seconds, CrawlResult, extras)."""
        raise NotImplementedError

    def verify(self, res, extras: dict) -> tuple[int, list[str], list]:
        """Check one crawl; return (rows, failed parts, fetch rows)."""
        raise NotImplementedError

    def fetch_failures(self, fetches) -> int:
        """Failed fetches of URLs the site did not plant as missing."""
        return sum(1 for url, _, status in fetches
                   if status != "ok" and url not in self.planted)

    def mark(self) -> dict:
        return {}

    def stop(self) -> dict:
        return {}


class WideCrawl(Workload):
    name = "wide_crawl"
    seed_url = "https://wide.bench.test/"
    asset_bases = ["https://a0.assets.bench.test",
                   "https://a1.assets.bench.test"]

    def prepare(self) -> None:
        # written once per (seed, shape): the file name holds a hash of the
        # Shape and of sites.py, so a changed generator never reuses an old
        # file.  Writing it takes well under a second.
        self.parquet = os.path.join(
            self.work, "inputs",
            f"wide-seed{self.seed}-{sites.shape_key('wide')}.parquet")
        self.resources, self.planted = sites.build_site(
            "wide", self.seed, self.seed_url.rstrip("/"), self.asset_bases)
        if os.path.exists(self.parquet):
            return
        import pyarrow as pa
        import pyarrow.parquet as pq
        os.makedirs(os.path.dirname(self.parquet), exist_ok=True)
        urls = sorted(self.resources)
        table = pa.table({
            "url": pa.array(urls, pa.string()),
            "body": pa.array([self.resources[u] for u in urls], pa.binary()),
            "resp_url": pa.array([None] * len(urls), pa.string()),
            "retry_after": pa.array([0] * len(urls), pa.int32())})
        pq.write_table(table, self.parquet + ".tmp")
        os.replace(self.parquet + ".tmp", self.parquet)

    def crawl(self, spark):
        from goscrape_spark.config import CrawlConfig
        from goscrape_spark.plans.crawl import Crawler

        t0 = time.time()
        pages = spark.read.parquet(self.parquet)
        res = Crawler(spark, CrawlConfig(url=self.seed_url), pages,
                      use_bloom=True).run()
        fetches = [(r.url, r.kind, r.status) for r in res.ordered_fetches()]
        seen = [r.dedup_key for r in res.seen.select("dedup_key").collect()]
        files = [(r.file_path, bytes(r.body)) for r in
                 res.output.select("file_path", "body").collect()]
        wall = time.time() - t0
        return wall, res, {"fetches": fetches, "seen": seen, "files": files}

    def verify(self, res, extras):
        bad = check(self.expected, extras["seen"], extras["fetches"],
                    extras["files"])
        return len(extras["fetches"]) + len(extras["seen"]), bad, \
            extras["fetches"]


class LiveExport(Workload):
    name = "live_export"
    nominal_s = 45.0
    fetch_ops = True

    def prepare(self) -> None:
        self.server = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "site_server.py"),
             "--seed", str(self.seed)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        ports = json.loads(self.server.stdout.readline())["ports"]
        bases = [f"http://127.0.0.1:{p}" for p in ports]
        self.seed_url = bases[0] + "/"
        self.resources, self.planted = sites.build_site(
            "live", self.seed, bases[0], bases[1:])
        self._n = 0

    def _server_cmd(self, cmd: str) -> dict:
        self.server.stdin.write(cmd + "\n")
        self.server.stdin.flush()
        return json.loads(self.server.stdout.readline())

    def mark(self) -> dict:
        return self._server_cmd("mark")

    def stop(self) -> dict:
        if self.server.poll() is not None:
            return {}
        try:
            report = self._server_cmd("quit")
        finally:
            self.server.stdin.close()
            self.server.wait(timeout=30)
        return report

    def crawl(self, spark):
        from goscrape_spark import cli
        from goscrape_spark.plans import crawl as crawl_mod

        self._n += 1
        out = os.path.join(self.run_dir, f"out{self._n}")
        ckpt = os.path.join(self.run_dir, f"ckpt{self._n}")
        captured: list = []
        orig = crawl_mod.crawl

        def keep(*a, **kw):
            captured.append(orig(*a, **kw))
            return captured[-1]

        crawl_mod.crawl = keep
        try:
            with contextlib.redirect_stdout(sys.stderr):
                t0 = time.time()
                rc = cli.run([self.seed_url, "--output", out,
                              "--checkpoint", ckpt], spark=spark)
                wall = time.time() - t0
        finally:
            crawl_mod.crawl = orig
        if rc != 0:
            raise RuntimeError(f"cli.run returned {rc}")
        return wall, captured.pop(), {"out": out, "ckpt": ckpt}

    def verify(self, res, extras):
        fetches = [(r.url, r.kind, r.status) for r in res.ordered_fetches()]
        seen = [r.dedup_key for r in res.seen.select("dedup_key").collect()]
        out = extras["out"]
        files = []
        for d, _, names in os.walk(out):
            for n in names:
                p = os.path.join(d, n)
                with open(p, "rb") as f:
                    files.append((os.path.relpath(p, out), f.read()))
        extras["export_bytes"] = sum(len(b) for _, b in files)
        bad = check(self.expected, seen, fetches, files)
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(extras["ckpt"], ignore_errors=True)
        return len(fetches) + len(seen), bad, fetches


WORKLOADS = {w.name: w for w in (WideCrawl, LiveExport)}


# ---------------------------------------------------------------------------
# Spark


def start_spark(work: str):
    """A session sized from the machine: local[nproc], driver heap from the
    available memory, no console progress bar, scratch dirs in ``work``.

    The young generation is fixed at a quarter of the heap: G1 otherwise
    sizes it from measured pause times, so the heap a crawl touches, and
    with it peak_rss_mb, varied by up to 20% between runs of one input.

    The JIT compiles with C1 only (-XX:TieredStopAtLevel=1).  The timed
    crawl is the first in its JVM, and with C2 its JIT threads used more
    CPU than the crawl's own tasks (about 88 CPU-s in a 30 s crawl on a
    4-core host, against about 50 CPU-s in 26 s with C1), competing with
    the crawl for the cores; a busy host then stretched the crawl more."""
    from goscrape_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        avail_mb = next(int(line.split()[1]) // 1024 for line in f
                        if line.startswith("MemAvailable:"))
    heap_mb = max(1024, min(3072, avail_mb // 4))
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    spark = get_spark(
        "goscrape-perfbench", master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": f"{heap_mb}m",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={local} -Xmn{heap_mb // 4}m "
                "-XX:TieredStopAtLevel=1",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.retainedJobs": "5000",
            "spark.ui.retainedStages": "20000",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cores


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM (and with it the
    Python workers it started) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def release(spark) -> None:
    """Collect garbage in the driver and the JVM before a timed crawl, so
    the crawl does not pay for earlier work's garbage."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


# ---------------------------------------------------------------------------
# one timed crawl


def timed_crawl(wl: Workload, spark, exclude: set[int],
                tracer: tracing.Tracer | None) -> dict:
    release(spark)
    wl.mark()
    if tracer is not None:
        tracer.install()
    sampler = procs.TreeSampler(exclude).start()
    t0 = time.time()
    try:
        wall, res, extras = wl.crawl(spark)
    except Exception as e:  # a crawl that raises is a failed operation
        sampler.stop()
        print(f"{wl.name}: crawl raised {e!r}", file=sys.stderr)
        return {"ok": False, "wall": time.time() - t0, "rows": 0,
                "cpu": 0.0, "rss": 0, "fetches": 0, "fetch_failed": 0}
    finally:
        if tracer is not None:
            tracer.uninstall()
    cpu, rss = sampler.stop()
    server = wl.mark()
    rows, bad, fetches = wl.verify(res, extras)
    if bad:
        print(f"{wl.name}: output check failed on {bad}", file=sys.stderr)
    fetch_failed = wl.fetch_failures(fetches) + \
        server.get("unexpected_failures", 0)
    return {"ok": not bad, "wall": wall, "rows": rows, "cpu": cpu,
            "rss": rss, "fetches": len(fetches), "fetch_failed": fetch_failed,
            "res": res, "extras": extras, "fetch_rows": fetches,
            "server": server}


# ---------------------------------------------------------------------------
# per-layer metrics of one traced crawl


def layer_metrics(wl: Workload, spark, tracer: tracing.Tracer, run: dict,
                  cores: int) -> dict:
    spans, wall = tracer.spans, run["wall"]
    root = next(s for s in spans if s["name"] == "crawl")
    sw = tracing.spark_window(spark.sparkContext, root["start"], root["end"])
    crawl_s = root["end"] - root["start"]
    starts = [t for _, t in tracer.epoch_starts] + [root["end"]]
    epoch_s = [b - a for a, b in zip(starts, starts[1:])]
    n_epochs = len(epoch_s)
    total = tracing.label_total

    cands = sum(df.count() for df in tracer.candidates)
    inserts = sum(df.count() for df in tracer.inserts)
    bloom = tracer.crawler.bloom if tracer.crawler is not None else None
    probed = bloom.probe_total.value if bloom is not None else 0
    hits = bloom.probe_hits.value if bloom is not None else 0

    pages_ok = sum(1 for _, kind, status in run["fetch_rows"]
                   if kind == "page" and status == "ok")
    server = run["server"]
    requests = server.get("requests", run["fetches"])
    distinct = server.get("distinct_urls", run["fetches"])
    extract_s = total(spans, "processed")

    return {
        "plans.crawl.epochs": n_epochs,
        "plans.crawl.epoch_s.p50": statistics.median(epoch_s),
        "plans.crawl.epoch_s.max": max(epoch_s),
        "plans.crawl.jobs_per_epoch": sw["jobs"] / n_epochs,
        "plans.crawl.driver_gap_s": max(0.0, crawl_s - sw["job_busy_s"]),
        "plans.crawl.fs_admit_s": total(spans, "assets_allowed"),
        "plans.crawl.css_rounds": sum(1 for s in spans
                                      if s["name"] == "inserts"),
        "operators.extract.busy_s": extract_s,
        "operators.extract.ms_per_page": 1000.0 * extract_s / pages_ok,
        "operators.extract.arrow_in_mb":
            tracing.python_sent_mb(spark, "processed"),
        "operators.admission.busy_s": total(spans, "inserts"),
        "operators.admission.candidates": cands,
        "operators.admission.inserts": inserts,
        "operators.admission.insert_ratio": inserts / cands if cands else 0.0,
        "operators.seen.bloom_build_s": total(spans, "bloom_build"),
        "operators.seen.bloom_probed": probed,
        "operators.seen.certified_new_ratio":
            1.0 - hits / probed if probed else 0.0,
        "operators.ranking.busy_s": total(spans, "next_pages"),
        "sources.fetch.busy_s": total(spans, *tracing.FETCH_LABELS),
        "sources.fetch.requests": requests,
        "sources.fetch.useful_ratio": distinct / requests if requests else 0.0,
        "sources.fetch.concurrency_mean": server.get("mean_in_flight", 0.0),
        "sources.fetch.failed": run["fetch_failed"],
        "sources.storage.commit_s": total(spans, "commit_epoch"),
        "sources.export.s": total(spans, "export"),
        "sources.export.files": tracer.export_files,
        "sources.export.mb": run["extras"].get("export_bytes", 0) / 1e6,
        "sources.scan_mb": sw["input_mb"],
        "spark.tasks": sw["tasks"],
        "spark.executor_run_s": sw["executor_run_s"],
        "spark.executor_cpu_s": sw["executor_cpu_s"],
        "spark.gc_s": sw["gc_s"],
        "spark.shuffle_write_mb": sw["shuffle_write_mb"],
        "spark.shuffle_read_mb": sw["shuffle_read_mb"],
        "spark.spill_mb": sw["spill_mb"],
        "spark.core_util": sw["executor_run_s"] / (wall * cores),
        # traced wall / untraced wall - 1, with the untraced wall taken as
        # the traced wall minus the time spent in the tracer's own code
        "trace.overhead_ratio": tracer.own_s / (wall - tracer.own_s),
    }, sw


# ---------------------------------------------------------------------------


def fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "goscrape_spark", "plans",
                                       "crawl.py")):
        fail(f"no goscrape_spark package under {root}; run from the root "
             "of the source tree")
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; one of "
             f"{', '.join(WORKLOADS)}")

    # everything the run writes stays under .perfbench/ in the tree;
    # Spark's Python workers import the package from the tree root
    work = os.path.join(root, ".perfbench")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    sys.path.insert(0, root)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=tmp)

    wl = WORKLOADS[args.workload](args.seed, work, run_dir)
    spark = None
    runs: list[dict] = []
    report: dict = {}
    try:
        wl.prepare()
        with ThreadPoolExecutor(1) as ex:
            # the oracle runs while the JVM boots
            booting = ex.submit(start_spark, work)
            wl.compute_expected()
            spark, cores = booting.result()
        exclude = {wl.server.pid} if wl.server is not None else set()

        wl.mark()
        setup_s = time.time() - T_START

        plan = [True] if args.trace else [False] * wl.crawls(args.seconds)
        for traced in plan:
            tracer = tracing.Tracer(spark) if traced else None
            run = timed_crawl(wl, spark, exclude, tracer)
            run["tracer"] = tracer
            runs.append(run)
            print(f"crawl {len(runs)}{' (traced)' if traced else ''}: "
                  f"{run['wall']:.2f}s ok={run['ok']}", file=sys.stderr)
            if "res" not in run:
                break

        if args.trace == 0:
            metrics = {
                "setup_s": setup_s,
                "wall_s": statistics.median(r["wall"] for r in runs),
                "urls_per_s": statistics.median(
                    r["rows"] / r["wall"] for r in runs),
                "cpu_s": statistics.median(r["cpu"] for r in runs),
                "peak_rss_mb": statistics.median(
                    r["rss"] / 2**20 for r in runs),
            }
            units = E2E_UNITS
        else:
            traced_run = runs[0]
            tracer = traced_run["tracer"]
            metrics, sw = layer_metrics(wl, spark, tracer, traced_run, cores)
            units = LAYER_UNITS
            trace_path = os.path.join(
                work, f"trace-{args.workload}-{args.seed}.json")
            tracer.dump(trace_path, {
                "wall_s": traced_run["wall"],
                "overhead_ratio": metrics["trace.overhead_ratio"],
                "spark_by_label": sw["by_label"], "metrics": metrics})
            print(tracing.format_table(tracer.spans, traced_run["wall"]),
                  file=sys.stderr)
            print(f"trace written to {trace_path}", file=sys.stderr)
    finally:
        report = wl.stop()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    ops = len(runs) + sum(r["fetches"] for r in runs if wl.fetch_ops)
    failed = sum(not r["ok"] for r in runs) + \
        sum(r["fetch_failed"] for r in runs)
    if report.get("unexpected_failures"):
        print(f"site server: {report}", file=sys.stderr)
    correct = all(r["ok"] for r in runs) and failed == 0
    print(f"{args.workload} seed={args.seed} crawls={len(runs)} "
          f"correct={correct} fail_ratio={failed / max(ops, 1):.4f} ratio",
          file=sys.stderr)
    for k, v in metrics.items():
        print(f"  {k:<40} {v:>12.4f} {units[k]}", file=sys.stderr)
    print(json.dumps({
        "correct": correct, "attempted": max(ops, 1), "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()

"""Supplementary benchmarks for the optimization rounds (guide §1.4).

NOT part of the driver contract — bench.py is frozen; numbers from here are
cited in OPTIMIZATION_r*.md.  Components:

* ``queries`` (default): time every declared query exactly like
  bench._sf_queries (construction + noop sink) in one session, N reps each,
  reporting per-rep seconds — rep 0 carries session/codegen warmup, the min
  approximates steady-state compute.
* ``plans``: dump .explain("formatted") for each declared query to
  plans/r06/<name>_{before,after}.txt (pass a suffix).

* ``bloom_crossover``: VERDICT r5 ask #7 — admission wall time and probe
  counts, Bloom on vs off, as the seen table grows (10^5..10^7 keys).
  The candidate side is fixed; what grows is the exact table the
  anti-join compares against.

Usage:
    python bench_extra.py queries [rep_count] [only,names]
    python bench_extra.py plans <suffix> [only,names]
    python bench_extra.py bloom_crossover
"""

from __future__ import annotations

import json
import os
import sys
import time

os.environ.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
os.environ.setdefault("SPARK_DRIVER_MEM", "16g")

SF_DIR = os.environ["SPARK_GRAFT_SF_DIR"]
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _session():
    from goscrape_spark.session import get_spark

    head_cores = min(CPUS, 16)
    spark = get_spark("bench-extra", master=f"local[{head_cores}]",
                      shuffle_partitions=head_cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run_queries(reps: int, only: set[str]) -> None:
    import __spark_entry__ as entry_mod

    spark = _session()
    qs = entry_mod.queries()
    names = [n for n in qs if not only or n in only]
    out: dict[str, list[float]] = {}
    for name in names:
        samples = []
        for _ in range(reps):
            spark.sparkContext.setJobDescription(f"bench_extra: {name}")
            t0 = time.time()
            df = qs[name](spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            samples.append(round(time.time() - t0, 3))
        out[name] = samples
        print(f"{name}: {samples} (min {min(samples)})", flush=True)
    print("BENCH_EXTRA " + json.dumps(out))
    spark.stop()


def dump_plans(suffix: str, only: set[str]) -> None:
    import __spark_entry__ as entry_mod

    spark = _session()
    qs = entry_mod.queries()
    os.makedirs("plans/r06", exist_ok=True)
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, SF_DIR)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        except Exception as e:  # crawl_fixture etc. may be heavy; never die
            txt = f"ERROR {type(e).__name__}: {e}"
        with open(f"plans/r06/{name}_{suffix}.txt", "w") as f:
            f.write(txt)
        print(f"wrote plans/r06/{name}_{suffix}.txt", flush=True)
    spark.stop()


def bloom_crossover() -> None:
    """Admission (admit()) wall time bloom-on vs bloom-off while the seen
    table grows, candidates fixed at 400k rows with ~16% true dupes —
    the bench headline's measured maybe-seen rate.  Each cell is
    min-of-3 re-executions of the same lazy plan (codegen paid by an
    untimed first run).  Also reports the probe accumulators (anti-join
    input reduction) for the on-arm."""
    import time

    from pyspark.sql import functions as F

    from goscrape_spark.operators.admission import admit
    from goscrape_spark.operators.seen import SeenSet

    spark = _session()
    n_cand = 400_000
    cand = spark.range(n_cand).select(
        F.concat(F.lit("/k"), (F.col("id") % int(n_cand * 0.84))
                 .cast("string")).alias("url"),
        F.lit("https").alias("scheme"), F.lit("h.example.com").alias("host"),
        F.concat(F.lit("/k"), (F.col("id") % int(n_cand * 0.84))
                 .cast("string")).alias("path"),
        F.lit(True).alias("is_asset"), F.lit(1).alias("depth"),
        F.col("id").alias("parent_seq"), F.lit(1).alias("stage_rank"),
        F.lit(0).alias("sub_rank"), F.col("id").cast("int").alias("intra1"),
        F.lit(0).alias("intra2"), F.lit("image").alias("stage"),
        F.concat(F.lit("/k"), (F.col("id") % int(n_cand * 0.84))
                 .cast("string")).alias("dedup_key"),
    ).localCheckpoint(eager=True)
    out = {"n_candidates": n_cand, "cells": []}
    for n_seen in (100_000, 1_000_000, 5_000_000, 10_000_000):
        seen = spark.range(n_seen).select(
            F.concat(F.lit("/k"), (F.col("id") % 16).cast("string"),
                     F.lit("s"), F.col("id").cast("string"))
             .alias("dedup_key"),
            F.lit(0).alias("epoch"))
        # plant true duplicates: ~16% of candidate keys are in seen
        seen = seen.unionByName(
            cand.filter(F.col("parent_seq") % 6 == 0)
                .select("dedup_key", F.lit(0).alias("epoch"))) \
            .localCheckpoint(eager=True)
        bloom = SeenSet(n_expected=max(n_seen, 1_000_000))
        bloom.enable_stats(spark.sparkContext)
        bloom.add_keys_df(seen)
        cell = {"n_seen": n_seen}
        for arm, bf in (("off", None), ("on", bloom)):
            inserts, _ = admit(cand, seen, "h.example.com", 0, max_depth=0,
                               includes=[], excludes=[], bloom=bf)
            inserts.write.format("noop").mode("overwrite").save()  # untimed
            secs = []
            for _ in range(3):
                t0 = time.time()
                inserts.write.format("noop").mode("overwrite").save()
                secs.append(round(time.time() - t0, 3))
            cell[f"{arm}_sec"] = min(secs)
            cell[f"{arm}_runs"] = secs
        if bloom.probe_total is not None:
            total, hits = bloom.probe_total.value, bloom.probe_hits.value
            cell["probed"] = total
            cell["maybe_seen"] = hits
            cell["certified_new_pct"] = round(
                100.0 * (total - hits) / max(total, 1), 2)
        out["cells"].append(cell)
        print(cell, flush=True)
    print("BLOOM_CROSSOVER " + json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    if mode == "plans":
        suffix = sys.argv[2]
        only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else set()
        dump_plans(suffix, only)
    elif mode == "bloom_crossover":
        bloom_crossover()
    else:
        reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
        only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else set()
        run_queries(reps, only)

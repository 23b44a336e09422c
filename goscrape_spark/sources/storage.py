"""Epoch checkpointing: parquet snapshots + a JSON manifest (S6-S8 analogue).

The reference's resume semantics are file-level: an asset already on disk is
skipped on a re-run (``fileExists``, scraper/download.go:76-79, README.md:19).
The rebuild's resume unit is the EPOCH (north_rule: "resumable from the last
committed frontier epoch with per-partition lineage + metrics"): after each
epoch we atomically commit one record,

    <dir>/epoch=N/frontier/      — the next frontier: url, seq
    <dir>/epoch=N/seen_delta/    — keys first seen this epoch: dedup_key, epoch
    <dir>/epoch=N/written_delta/ — paths written this epoch: file_path
    <dir>/epoch=N/metrics.json   — next_seq, seed_host and the row counts
    <dir>/MANIFEST.json          — written last; names the last epoch

(the three directories are parquet), and a killed run resumes from the
record of epoch N: its metrics, frontier N, and the unions of the seen and
written deltas 0..N (the written paths are the filesystem state the
fileExists asset skip starts from; the reference gets it by statting the
real output dir).  Parquet + manifest stands in for an Iceberg snapshot
commit (no Iceberg runtime jar ships with local PySpark 4.1.2 — the swap
is one config, same schemas; SURVEY §7 step 6).

Write atomicity: parquet dirs are written to a temp path then renamed;
MANIFEST.json is replaced via os.replace (atomic on POSIX).

The frontier stores no depth: its pages are at depth N+1, the epoch that
fetches them.  A frontier committed with a ``depth`` column by an older
build still resumes; the crawl reads only its ``url`` and ``seq``.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession

@dataclass
class CrawlCheckpoint:
    path: str

    def _epoch_dir(self, epoch: int) -> str:
        return os.path.join(self.path, f"epoch={epoch}")

    def commit_epoch(self, epoch: int, frontier: DataFrame,
                     seen_delta: DataFrame, written_delta: DataFrame,
                     metrics: dict) -> None:
        """Write epoch ``epoch``'s record.  ``metrics`` carries the row
        counts of ``frontier`` and ``seen_delta``, which the caller
        observed on its own checkpoints, so the commit runs no count."""
        edir = self._epoch_dir(epoch)
        tmp = edir + ".tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        frontier.write.mode("overwrite").parquet(os.path.join(tmp, "frontier"))
        seen_delta.write.mode("overwrite").parquet(os.path.join(tmp, "seen_delta"))
        # the in-epoch union can repeat a path (page + asset writers);
        # dedup before persisting so resumed `written` state doesn't
        # grow with epoch count
        written_delta.distinct().write.mode("overwrite").parquet(
            os.path.join(tmp, "written_delta"))
        with open(os.path.join(tmp, "metrics.json"), "w") as f:
            json.dump({"epoch": epoch, **metrics}, f)
        if os.path.exists(edir):
            shutil.rmtree(edir)
        os.rename(tmp, edir)
        manifest_tmp = os.path.join(self.path, "MANIFEST.json.tmp")
        with open(manifest_tmp, "w") as f:
            json.dump({"max_committed_epoch": epoch}, f)
        os.replace(manifest_tmp, os.path.join(self.path, "MANIFEST.json"))

    def max_committed_epoch(self) -> int | None:
        mpath = os.path.join(self.path, "MANIFEST.json")
        if not os.path.exists(mpath):
            return None
        with open(mpath) as f:
            return json.load(f)["max_committed_epoch"]

    def resume(self, spark: SparkSession) -> tuple[
            dict, DataFrame, DataFrame, DataFrame] | None:
        """``(metrics, frontier, seen, written)`` of the last committed
        epoch, or None when nothing is committed: its metrics.json and
        frontier, and the unions of every committed epoch's seen and
        written deltas (the epoch-0 seen delta holds the seed key)."""
        last = self.max_committed_epoch()
        if last is None:
            return None

        def read(e: int, name: str) -> DataFrame:
            return spark.read.parquet(os.path.join(self._epoch_dir(e), name))

        def union(name: str) -> DataFrame:
            return reduce(DataFrame.unionByName,
                          [read(e, name) for e in range(last + 1)])

        with open(os.path.join(self._epoch_dir(last), "metrics.json")) as f:
            metrics = json.load(f)
        return (metrics, read(last, "frontier"), union("seen_delta"),
                union("written_delta"))

"""Epoch checkpointing: parquet snapshots + a JSON manifest (S6-S8 analogue).

The reference's resume semantics are file-level: an asset already on disk is
skipped on a re-run (``fileExists``, scraper/download.go:76-79, README.md:19).
The rebuild's resume unit is the EPOCH (north_rule: "resumable from the last
committed frontier epoch with per-partition lineage + metrics"): after each
epoch we atomically commit

    <dir>/epoch=N/frontier/   — the next frontier (parquet)
    <dir>/epoch=N/seen_delta/ — dedup keys first seen this epoch (parquet)
    <dir>/epoch=N/metrics.json
    <dir>/MANIFEST.json       — written last; names the max committed epoch

A killed run resumes by reading MANIFEST.json, unioning seen deltas
0..N, and restarting the loop from frontier N.  Parquet + manifest stands in
for an Iceberg snapshot commit (no Iceberg runtime jar ships with local
PySpark 4.1.2 — the swap is one config, same schemas; SURVEY §7 step 6).

Write atomicity: parquet dirs are written to a temp path then renamed;
MANIFEST.json is replaced via os.replace (atomic on POSIX).
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SEEN_SCHEMA = "dedup_key string, epoch int"
FRONTIER_SCHEMA = "url string, depth int, seq bigint"


@dataclass
class CrawlCheckpoint:
    path: str

    def _epoch_dir(self, epoch: int) -> str:
        return os.path.join(self.path, f"epoch={epoch}")

    def commit_epoch(self, epoch: int, frontier: DataFrame,
                     seen_delta: DataFrame, metrics: dict | None = None,
                     written_delta: DataFrame | None = None) -> None:
        edir = self._epoch_dir(epoch)
        tmp = edir + ".tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        frontier.write.mode("overwrite").parquet(os.path.join(tmp, "frontier"))
        seen_delta.write.mode("overwrite").parquet(os.path.join(tmp, "seen_delta"))
        if written_delta is not None:
            # the in-epoch union can repeat a path (page + asset writers);
            # dedup before persisting so resumed `written` state doesn't
            # grow with epoch count
            written_delta.distinct().write.mode("overwrite").parquet(
                os.path.join(tmp, "written_delta"))
        m = dict(metrics or {})
        # callers that already counted these frames pass the numbers in the
        # metrics dict; only recount what is missing (each count is an
        # extra Spark action per epoch otherwise)
        if "frontier_rows" not in m:
            m["frontier_rows"] = frontier.count()
        if "seen_delta_rows" not in m:
            m["seen_delta_rows"] = seen_delta.count()
        with open(os.path.join(tmp, "metrics.json"), "w") as f:
            json.dump({"epoch": epoch, **m}, f)
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

    def resume_state(self, spark: SparkSession) -> tuple[int, DataFrame, DataFrame] | None:
        """Return (next_epoch, frontier, seen) from the last committed epoch,
        or None when nothing is committed."""
        last = self.max_committed_epoch()
        if last is None:
            return None
        frontier = spark.read.parquet(
            os.path.join(self._epoch_dir(last), "frontier"))
        seen = None
        for e in range(last + 1):
            delta = spark.read.parquet(
                os.path.join(self._epoch_dir(e), "seen_delta"))
            seen = delta if seen is None else seen.unionByName(delta)
        return last + 1, frontier, seen

    def resume_written(self, spark: SparkSession) -> DataFrame | None:
        """Union of committed written-path deltas: the filesystem state the
        resumed run's fileExists asset skip starts from (the reference gets
        this for free by statting the real output dir, download.go:76-79)."""
        last = self.max_committed_epoch()
        if last is None:
            return None
        written = None
        for e in range(last + 1):
            p = os.path.join(self._epoch_dir(e), "written_delta")
            if not os.path.exists(p):
                continue
            delta = spark.read.parquet(p)
            written = delta if written is None else written.unionByName(delta)
        return written

    def metrics(self) -> list[dict]:
        out = []
        last = self.max_committed_epoch()
        if last is None:
            return out
        for e in range(last + 1):
            with open(os.path.join(self._epoch_dir(e), "metrics.json")) as f:
                out.append(json.load(f))
        return out

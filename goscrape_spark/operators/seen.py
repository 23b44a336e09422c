r"""Distributed URL-seen set: exact table + Bloom pre-filter (A3/U2/J1).

The reference's seen set is an in-memory Go hash set (scraper/checks.go:42-49,
gotokit/set).  At 10^10 URLs that is ~1 TB of keys — far beyond one node.  The
rebuild keeps the AUTHORITATIVE set as a ``seen`` table partitioned by
``dedup_key`` hash (exactness comes from the left_anti join, J1) and adds a
Bloom probe to that join as a residual condition:

    candidates --bloom probe--> exchange(dedup_key) --\
                                                       left_anti on key-equal
    seen ---------------------> exchange(dedup_key) --/  AND might_contain

Every candidate and every seen key still goes through the join's exchange
(with broadcast off, a sort-merge join); the probe only spares
definitely-new rows the key comparison.  False positives only cost that
comparison; false negatives cannot occur, so the result is exact.  The
filter is built per-partition inside Arrow batches and merged with a
bitwise OR (a ``treeAggregate``-shaped reduction done driver-side
over per-partition bitmaps; at 10^10 keys you shard the filter by host-hash so
each executor holds only its shard — see SURVEY §4.2 sizing).

PySpark exposes no public DataFrame Bloom API, hence the NumPy implementation.
Hashing: two independent 64-bit halves of blake2b, combined as h1 + i*h2
(Kirsch-Mitzenmacher double hashing) — deterministic across processes.
"""

from __future__ import annotations

import hashlib
import math
from typing import Iterable, Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _hash_arrays(keys) -> tuple[np.ndarray, np.ndarray]:
    """Two independent uint64 halves of blake2b per key, parsed in bulk
    (one frombuffer for the whole batch; h2 forced odd for double hashing)."""
    digs = b"".join(hashlib.blake2b(k.encode("utf-8"), digest_size=16).digest()
                    for k in keys)
    arr = np.frombuffer(digs, dtype="<u8").reshape(-1, 2)
    return arr[:, 0].copy(), arr[:, 1] | np.uint64(1)


class BloomFilter:
    """Plain m-bit, k-hash Bloom filter over strings.

    Batch methods are the hot path (NumPy position matrices — one gather per
    probe batch, one scatter per build batch); positions use uint64
    wraparound arithmetic ((h1 + i*h2) mod 2^64 mod m), so scalar and batch
    paths are bit-identical."""

    def __init__(self, n_expected: int = 1_000_000, fp_rate: float = 0.01):
        m = max(64, int(-n_expected * math.log(fp_rate) / (math.log(2) ** 2)))
        self.m = ((m + 63) // 64) * 64
        self.k = max(1, round(self.m / n_expected * math.log(2)))
        self.bits = np.zeros(self.m // 64, dtype=np.uint64)

    def _positions(self, keys) -> np.ndarray:
        h1, h2 = _hash_arrays(keys)
        i = np.arange(self.k, dtype=np.uint64)[:, None]
        with np.errstate(over="ignore"):
            return (h1[None, :] + i * h2[None, :]) % np.uint64(self.m)

    def add_batch(self, keys) -> None:
        if len(keys) == 0:
            return
        pos = self._positions(keys)
        np.bitwise_or.at(self.bits, pos >> np.uint64(6),
                         np.uint64(1) << (pos & np.uint64(63)))

    def might_contain_batch(self, keys) -> np.ndarray:
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        pos = self._positions(keys)
        hit = (self.bits[pos >> np.uint64(6)]
               >> (pos & np.uint64(63))) & np.uint64(1)
        return hit.all(axis=0)

    def add(self, key: str) -> None:
        self.add_batch([key])

    def might_contain(self, key: str) -> bool:
        return bool(self.might_contain_batch([key])[0])

    def merge(self, other: "BloomFilter") -> None:
        assert self.m == other.m and self.k == other.k
        np.bitwise_or(self.bits, other.bits, out=self.bits)


class SeenSet:
    """Bloom wrapper used by the crawler; the exact seen TABLE lives in the
    crawl plan — this is only the pre-filter."""

    def __init__(self, n_expected: int = 1_000_000, fp_rate: float = 0.01):
        self.bloom = BloomFilter(n_expected, fp_rate)
        # optional probe counters (enable_stats): measure how many candidate
        # rows the pre-filter lets SKIP the anti-join, without extra jobs
        self.probe_total = None
        self.probe_hits = None

    def enable_stats(self, sc) -> None:
        """Attach Spark accumulators so every probe_df pass counts rows
        probed and rows flagged maybe-seen (the anti-join's real input).
        Accumulator semantics: task retries can double-count, so the value
        is evidence (a ratio), not an exact audit."""
        self.probe_total = sc.accumulator(0)
        self.probe_hits = sc.accumulator(0)

    def add_keys(self, keys: Iterable[str]) -> None:
        for k in keys:
            self.bloom.add(k)

    def add_keys_df(self, df: DataFrame, key_col: str = "dedup_key") -> None:
        """Build per-partition filters inside Arrow batches, OR-merge them.

        The per-partition build runs where the data is.  The merge is
        volume-gated: small bitmap sets collect straight to the driver
        (fewer stages — measured faster single-host); large ones reduce in
        a depth-2 executor-side ``treeAggregate`` (north_star wording) so
        the driver receives O(sqrt(P)) bitmaps instead of P — at a
        10^10-key sharded filter (SURVEY §4.2) the collect-all version
        makes the driver the merge bottleneck."""
        m, k = self.bloom.m, self.bloom.k

        def build(batches: Iterator) -> Iterator:
            import pandas as pd
            bf = BloomFilter.__new__(BloomFilter)
            bf.m, bf.k = m, k
            bf.bits = np.zeros(m // 64, dtype=np.uint64)
            any_rows = False
            for pdf in batches:
                if len(pdf):
                    bf.add_batch(list(pdf[key_col]))
                    any_rows = True
            if any_rows:
                yield pd.DataFrame({"bits": [bf.bits.tobytes()]})

        parts = df.select(key_col).mapInPandas(build, schema="bits binary")
        n_words = m // 64

        # merge strategy, gated on the merge volume P*m/8: 'collect' pulls
        # all P bitmaps to the driver in one job — fewer stages, measured
        # ~5% faster per crawl single-host (treeAggregate's extra stages
        # buy nothing when driver and executors share one JVM); past
        # ~128 MB of bitmaps the driver becomes the merge bottleneck and
        # 'tree' (reduce on executors, driver receives O(sqrt(P))
        # bitmaps) wins
        if parts.rdd.getNumPartitions() * (m // 8) <= (128 << 20):
            for row in parts.collect():
                self.bloom.bits |= np.frombuffer(row.bits, dtype=np.uint64)
            return

        def seq_op(acc: np.ndarray, row) -> np.ndarray:
            acc |= np.frombuffer(row.bits, dtype=np.uint64)
            return acc

        def comb_op(a: np.ndarray, b: np.ndarray) -> np.ndarray:
            a |= b
            return a

        merged = parts.rdd.treeAggregate(
            np.zeros(n_words, dtype=np.uint64), seq_op, comb_op, depth=2)
        self.bloom.bits |= merged

    def probe_df(self, df: DataFrame, key_col: str = "dedup_key",
                 out_col: str = "might_contain") -> DataFrame:
        """Add a boolean column: False rows are DEFINITELY new and skip the
        key comparison in the anti-join against the seen table."""
        m, k = self.bloom.m, self.bloom.k
        payload = self.bloom.bits.tobytes()
        spark = df.sparkSession
        bc = spark.sparkContext.broadcast(payload)
        acc_total, acc_hits = self.probe_total, self.probe_hits

        def probe(batches: Iterator) -> Iterator:
            bf = BloomFilter.__new__(BloomFilter)
            bf.m, bf.k = m, k
            bf.bits = np.frombuffer(bc.value, dtype=np.uint64)
            for pdf in batches:
                pdf = pdf.copy()
                hits = bf.might_contain_batch(list(pdf[key_col]))
                pdf[out_col] = hits
                if acc_total is not None:
                    acc_total.add(len(pdf))
                    acc_hits.add(int(hits.sum()))
                yield pdf

        schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                           for f in df.schema.fields) + f", {out_col} boolean"
        return df.mapInPandas(probe, schema=schema)

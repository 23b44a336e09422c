"""Deduplication operators for training-data pipelines.

Four tiers, each with a different cost/recall point at 100 TB:

* exact       — md5(text) hash-groupBy; one shuffle on the 16-byte digest.
* ngram-jaccard — exact n-gram-shingle Jaccard via a shingle self-join;
                  quadratic in the worst case, exact answers; the oracle tier.
* MinHash+LSH — signatures + banding: near-dup candidates meet in band
                buckets; only candidates are verified. The scale path:
                shuffle cost O(docs × bands), no pairwise blowup.
* SimHash     — 64-bit sign-sum sketch; near-dups = small Hamming distance,
                banded by 16-bit chunks (pigeonhole: ≤3 differing bits ⟹ one
                of 4 chunks equal).

Everything is DataFrame ops; the only Python is the NumPy SimHash batch
(Arrow-vectorized).  MinHash permutations use (a*h+b) mod p over the first
60 bits of md5 — deterministic, seedable, portable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .textops import shingles, words

_MERSENNE_P = (1 << 61) - 1


def exact_dedup(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Exact duplicate groups: (rep_id, dup_count, text_hash); rep = min id."""
    h = F.md5(F.col(text_col)).alias("text_hash")
    return (df.select(F.col(id_col), h)
            .groupBy("text_hash")
            .agg(F.min(id_col).alias("rep_id"),
                 F.count(F.lit(1)).alias("dup_count")))


def exact_dedup_keep_first(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """Dedup keeping the lowest-id representative row (first-wins, W1-style:
    row_number over the hash partition)."""
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col))
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


def ngram_jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3,
                        threshold: float = 0.6) -> DataFrame:
    """Exact n-gram Jaccard similar pairs (id1 < id2, jaccard >= threshold).

    Shingle-set self-join: |A∩B| via groupBy(shingle) pair expansion,
    |A∪B| = |A|+|B|-|A∩B|.  Exact but worst-case quadratic — at scale,
    run it only on MinHash-LSH candidates (minhash_lsh_pairs) as the
    verification stage."""
    sh = (df.select(F.col(id_col).alias("id"),
                    F.explode(F.array_distinct(shingles(F.col(text_col), n)))
                     .alias("shingle")))
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                    & (F.col("a.id") < F.col("b.id")))
             .groupBy(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
             .agg(F.count(F.lit(1)).alias("inter")))
    sa = sizes.select(F.col("id").alias("id1"), F.col("sz").alias("sz1"))
    sb = sizes.select(F.col("id").alias("id2"), F.col("sz").alias("sz2"))
    return (inter.join(sa, "id1").join(sb, "id2")
            .withColumn("jaccard", F.round(
                F.col("inter") / (F.col("sz1") + F.col("sz2") - F.col("inter")), 4))
            .filter(F.col("jaccard") >= threshold)
            .select("id1", "id2", "jaccard"))


def _minhash_sig(text_col: str, num_perm: int, seed: int):
    """MinHash signature array: min over shingles of (a_i*h + b_i) mod p,
    h = first 60 bits of md5(shingle).  Deterministic in ``seed``.

    Shape note (r6): the signature is ONE transform over a literal
    (a, b)-coefficient array with the shingle-hash array ``hs`` referenced
    once.  The previous ``F.array(*[array_min(transform(hs, ...)) for i in
    range(num_perm)])`` inlined ``hs`` — shingling + md5 + base-16 conv per
    shingle — into all ``num_perm`` sub-expressions, and higher-order
    functions are CodegenFallback (no subexpression elimination), so the
    shingle hashing ran 32x per row.  Values are identical (same
    coefficients in the same order)."""
    rnd = _lcg(seed)
    # 28-bit hash x 31-bit coefficient stays < 2^60: no ANSI long overflow.
    h = lambda s: F.conv(F.substring(F.md5(s), 1, 7), 16, 10).cast("long")
    sh = F.array_distinct(shingles(F.col(text_col)))
    hs = F.transform(sh, h)
    coeffs = []
    for i in range(num_perm):
        a = (next(rnd) & 0x7FFFFFFF) | 1
        b = next(rnd) & 0x7FFFFFFF
        coeffs.append(F.struct(F.lit(a).alias("a"), F.lit(b).alias("b")))
    return F.transform(
        F.array(*coeffs),
        lambda p: F.array_min(F.transform(
            hs, lambda x: (x * p["a"] + p["b"]) % F.lit(_MERSENNE_P))))


def _lcg(seed: int):
    x = seed & 0x7FFFFFFFFFFF
    while True:
        x = (x * 6364136223846793005 + 1442695040888963407) & 0xFFFFFFFFFFFF
        yield x


def minhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", num_perm: int = 32,
                       seed: int = 42) -> DataFrame:
    """(id, sig) MinHash signatures.

    Arrow/NumPy batch path (r6, guide §4.2 — same pattern as the SimHash
    operator): tokenization stays the identical JVM split (Java vs Python
    ``\\s`` semantics differ), while shingle assembly, the md5-derived
    28-bit hash (identical hex prefix via hashlib) and all ``num_perm``
    permutation mins run vectorized in C/NumPy.  The previous pure-column
    form evaluated the (a*h+b) mod p min per permutation through
    interpreted Catalyst HOFs (CodegenFallback, per-element overhead).
    Values are bit-identical (same coefficients, same 2^59 bound — no
    int64 overflow); ``_minhash_sig`` remains as the column-expression
    reference implementation."""
    from typing import Iterator

    rnd = _lcg(seed)
    coeffs = [((next(rnd) & 0x7FFFFFFF) | 1, next(rnd) & 0x7FFFFFFF)
              for _ in range(num_perm)]
    tokens = df.select(F.col(id_col).alias("id"),
                       words(F.col(text_col)).alias("_ws"))
    id_type = tokens.schema["id"].dataType.simpleString()

    def run(batches) -> Iterator:
        import hashlib

        import numpy as np
        import pandas as pd

        A = np.array([a for a, _ in coeffs], dtype=np.int64)[:, None]
        B = np.array([b for _, b in coeffs], dtype=np.int64)[:, None]
        for pdf in batches:
            sigs = []
            for ws in pdf["_ws"]:
                if ws is None:
                    # same as the column form: an array of NULLs
                    sigs.append([None] * num_perm)
                    continue
                toks = list(ws)
                k = len(toks) - 2
                if k <= 0:
                    sh = {" ".join(toks)}
                else:
                    sh = {" ".join(toks[i:i + 3]) for i in range(k)}
                hs = np.fromiter(
                    (int(hashlib.md5(s.encode("utf-8")).hexdigest()[:7], 16)
                     for s in sh), dtype=np.int64, count=len(sh))
                sigs.append(((hs[None, :] * A + B) % _MERSENNE_P).min(axis=1))
            yield pd.DataFrame({"id": pdf["id"], "sig": sigs})

    return tokens.mapInPandas(run, schema=f"id {id_type}, sig array<bigint>")


def minhash_lsh_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", num_perm: int = 32,
                      bands: int = 8, seed: int = 42,
                      bucket_cap: int | None = None) -> DataFrame:
    """LSH candidate pairs: docs sharing any band bucket (id1 < id2).

    rows_per_band = num_perm // bands; candidate probability follows the
    classic (1 - (1 - j^r)^b) S-curve.  Shuffle is on (band, bucket-hash) —
    O(docs × bands) rows, never pairwise BETWEEN buckets; WITHIN a bucket
    the self-join is quadratic, so a bucket of c near-identical docs emits
    O(c²) rows.  ``bucket_cap`` bounds that: each (band, bucket) keeps only
    its ``bucket_cap`` lowest ids (deterministic; a partitioned per-key
    window, no global sort).  The cap drops recall for members beyond the
    cap — callers that need an audit trail should run near_dup_minhash,
    which removes the dominant blowup source (exact-dup clusters) LOSSLESSLY
    before banding instead."""
    r = num_perm // bands
    sigs = minhash_signatures(df, id_col, text_col, num_perm, seed)
    banded = sigs.select(
        "id",
        F.posexplode(F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda bidx: F.md5(F.concat_ws(
                "_", bidx.cast("string"),
                F.concat_ws(",", F.transform(
                    F.slice(F.col("sig"), bidx * r + 1, r),
                    lambda x: x.cast("string"))))))).alias("band", "bucket"))
    if bucket_cap is not None:
        w = Window.partitionBy("band", "bucket").orderBy("id")
        banded = (banded.withColumn("_rn", F.row_number().over(w))
                  .filter(F.col("_rn") <= bucket_cap).drop("_rn"))
    a = banded.alias("a")
    b = banded.alias("b")
    return (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.bucket") == F.col("b.bucket"))
                   & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
            .distinct())


def near_dup_minhash(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", num_perm: int = 32,
                     bands: int = 8, threshold: float = 0.6,
                     seed: int = 42, collapse_exact: bool = True,
                     bucket_cap: int | None = None) -> DataFrame:
    """The full scale pipeline: exact-dup collapse -> LSH candidates ->
    exact Jaccard verify.  The verify join touches only candidate ids.

    ``collapse_exact`` (default on) first collapses byte-identical texts to
    their lowest-id representative.  A cluster of c identical docs lands in
    the SAME bucket in EVERY band and would emit O(c²) candidate rows per
    band — and boilerplate dup clusters are the norm in web corpora, so this
    is the hot-bucket failure mode at 100 TB.  The collapse is lossless for
    near-dup semantics: identical texts have identical shingle sets, so
    jaccard(member, x) == jaccard(rep, x); exact-dup group membership itself
    is ``exact_dedup``'s (one cheap hash-agg) job.  Returned pairs relate
    distinct texts only.  ``bucket_cap`` additionally bounds residual hot
    buckets (e.g. templated pages that agree on every band row)."""
    src = (exact_dedup_keep_first(df, id_col, text_col)
           if collapse_exact else df)
    cands = minhash_lsh_pairs(src, id_col, text_col, num_perm, bands, seed,
                              bucket_cap=bucket_cap)
    ids = (cands.select(F.col("id1").alias("id"))
           .union(cands.select("id2")).distinct())
    subset = src.join(ids, src[id_col] == ids["id"], "leftsemi")
    verified = ngram_jaccard_pairs(subset, id_col, text_col,
                                   threshold=threshold)
    return (cands.join(verified, ["id1", "id2"], "inner")
            .select("id1", "id2", "jaccard"))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

# Dense count-matrix bound for the matmul accumulation path: the bincount
# materializes an (n_docs x n_unique) int64 transient, so gate on the CELL
# PRODUCT, not the vocab alone (4096-vocab x 10k-row Arrow batch was a
# ~330 MB allocation per worker — an executor-OOM the reduceat path avoids).
# 2^23 cells = 64 MB int64 per batch per worker.
_SIMHASH_DENSE_CELLS = 1 << 23


def _simhash_batch(ws_seq, dense_cells_limit: int = _SIMHASH_DENSE_CELLS):
    """SimHash one Arrow batch of token lists -> uint64 signature array.

    Hashes each UNIQUE token once (md5 -> first 8 bytes, big-endian —
    portable, DuckDB-mirrorable for the driver oracle), unpacks into a
    (uniq, 64) sign matrix, and accumulates per-document bit sums either by
    counts-matmul (small n*u product) or by sorted-segment reduceat (large
    vocab).  Both paths are bit-identical; no per-element Python beyond the
    unique-token md5 loop, which is sublinear in batch token volume."""
    import hashlib

    import numpy as np
    import pandas as pd

    n = len(ws_seq)
    lens = np.fromiter((0 if t is None else len(t) for t in ws_seq),
                       dtype=np.int64, count=n)
    flat = [x for t in ws_seq if t is not None for x in t]
    if flat:
        codes, uniq = pd.factorize(np.asarray(flat, dtype=object))
        u = len(uniq)
        digests = np.frombuffer(
            b"".join(hashlib.md5(t.encode()).digest()[:8]
                     for t in uniq), dtype=np.uint8)
        bits = np.unpackbits(digests).reshape(u, 64)
        if n * u <= dense_cells_limit:
            # small product: per-doc token counts x bit matrix (matmul)
            doc_ix = np.repeat(np.arange(n), lens)
            counts = np.bincount(doc_ix * u + codes,
                                 minlength=n * u).reshape(n, u)
            ones = counts @ bits.astype(np.int64)
        else:
            # large vocab: contiguous per-doc segment reduce.  reduceat runs
            # over NON-EMPTY docs only: a trailing zero-token doc would make
            # its cumsum bound == len(codes) (reduceat raises index
            # out-of-bounds), and merely clipping that bound would corrupt
            # the PREVIOUS doc's segment end — dropping empty docs keeps
            # every remaining bound a true segment start.
            starts = np.zeros(n, dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            nz = lens > 0
            ones = np.zeros((n, 64), dtype=np.int64)
            ones[nz] = np.add.reduceat(
                bits[codes].astype(np.int32), starts[nz], axis=0)
        acc = 2 * ones - lens[:, None]   # sum over tokens of +-1
        acc[lens == 0] = 0
    else:
        acc = np.zeros((n, 64), dtype=np.int64)
    # bit k of the signature = sign of bit-k sum; np.unpackbits is
    # MSB-first, so matrix column j maps to signature bit 63-j
    weights = np.uint64(1) << np.arange(63, -1, -1, dtype=np.uint64)
    return ((acc > 0).astype(np.uint64) * weights).sum(
        axis=1, dtype=np.uint64)


def simhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """64-bit SimHash over word hashes, NumPy-vectorized inside Arrow
    batches (see _simhash_batch for the two accumulation paths)."""
    tokens = df.select(F.col(id_col).alias("id"),
                       words(F.col(text_col)).alias("ws"))

    def run(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = _simhash_batch(pdf["ws"])
            yield pd.DataFrame({"id": pdf["id"],
                                "simhash": out.view(np.int64)})

    return tokens.mapInPandas(run, schema="id long, simhash long")


def simhash_near_pairs(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Pigeonhole banding: with n_chunks = max_hamming+1 disjoint bit chunks, a
    pair within the distance bound shares at least one exact chunk ->
    equi-join per chunk, then verify the true distance with bit_count
    (JVM-side)."""
    n_chunks = min(max_hamming + 1, 64)
    chunk_bits = 64 // n_chunks
    mask = (1 << chunk_bits) - 1
    sigs = simhash_signatures(df, id_col, text_col)
    chunks = sigs.select(
        "id", "simhash",
        F.posexplode(F.array(*[
            F.shiftright(F.col("simhash"), k * chunk_bits)
             .bitwiseAND(F.lit(mask))
            for k in range(n_chunks)])).alias("chunk_idx", "chunk"))
    a = chunks.alias("a")
    b = chunks.alias("b")
    cand = (a.join(b, (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
                   & (F.col("a.chunk") == F.col("b.chunk"))
                   & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"),
                    F.col("a.simhash").alias("s1"),
                    F.col("b.simhash").alias("s2"))
            .distinct())
    return (cand.withColumn(
                "hamming", F.bit_count(F.col("s1").bitwiseXOR(F.col("s2"))))
            .filter(F.col("hamming") <= max_hamming)
            .select("id1", "id2", "hamming"))


def near_dup_clusters(pairs: DataFrame, id1: str = "id1", id2: str = "id2",
                      max_iter: int = 30) -> DataFrame:
    """Connected components over a near-dup pair list: ``(doc_id,
    cluster_id)`` with ``cluster_id`` = the smallest doc id reachable
    through the pair graph (the canonical representative a dedup pipeline
    keeps).

    Min-label propagation, the standard distributed CC shape: per round,
    every node takes the min of its own label and its neighbors' labels —
    one keyed shuffle join + aggregate per round, converging in
    O(graph diameter) rounds (near-dup graphs are unions of small dense
    clusters, so diameter is tiny).  Each round's labels are
    localCheckpointed to truncate the iterative lineage; convergence is a
    1-row existence probe (``limit(1).count()``), not a collect.

    Raises RuntimeError if the graph has not converged after ``max_iter``
    rounds (a diameter > max_iter chain) — returning intermediate labels
    would silently split one component into several.
    """
    e = pairs.select(F.col(id1).alias("a"), F.col(id2).alias("b"))
    edges = (e.unionByName(e.select(F.col("b").alias("a"),
                                    F.col("a").alias("b")))
             .distinct().localCheckpoint(eager=True))
    # round-0 fold: every node starts at min(self, neighbors) — one full
    # propagation round cheaper than the identity initialization, same
    # fixpoint (labels only ever decrease toward the component min)
    labels = (edges.groupBy("a").agg(F.min("b").alias("_nb"))
              .select(F.col("a").alias("node"),
                      F.least(F.col("a"), F.col("_nb")).alias("label"))
              .localCheckpoint(eager=True))
    converged = False
    for _ in range(max_iter):
        from pyspark.sql import Observation

        neigh = (edges.join(labels, edges["b"] == labels["node"])
                 .groupBy("a").agg(F.min("label").alias("nl")))
        # a node's label changes iff a neighbor label undercuts it; count
        # those rows as an Observation riding the checkpoint's own job —
        # the separate join-new-vs-old existence probe was one extra
        # driver job per round (guide §1.5 / the crawl's _observe pattern)
        obs = Observation()
        new_labels = (labels.join(neigh, labels["node"] == neigh["a"],
                                  "left")
                      .observe(obs, F.count(
                          F.when(F.col("nl") < labels["label"], 1))
                          .alias("changed"))
                      .select(labels["node"],
                              F.least(labels["label"],
                                      F.coalesce(F.col("nl"),
                                                 labels["label"]))
                              .alias("label"))
                      .localCheckpoint(eager=True))
        labels = new_labels
        if obs.get["changed"] == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"near_dup_clusters did not converge in {max_iter} rounds "
            f"(pair-graph diameter exceeds max_iter); raise max_iter")
    return labels.select(F.col("node").alias("doc_id"),
                         F.col("label").alias("cluster_id"))

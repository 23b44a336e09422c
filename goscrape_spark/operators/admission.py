"""Epoch admission: F1-F8 + W1 first-wins + J1 seen anti-join, as pure
DataFrame operations.

This is the distributed re-expression of ``shouldURLBeDownloaded``
(scraper/checks.go:26-72).  The sequential loop considers candidates one at a
time and mutates the seen set as it goes; the epoch-synchronous equivalent is

1. scheme filter (F1) and dedup-key projection (F2+F3), done upstream by
   the passes that emit candidates: a non-http(s) ref never becomes a
   candidate row, so it never touches the seen set;
2. within-epoch first-wins (W1): the first-considered row per
   ``dedup_key``, where the consideration order is the composite key
   (parent_seq, stage_rank, sub_rank, intra1, intra2) that totally orders
   the sequential loop's candidate considerations (SURVEY §3.4);
3. cross-epoch dedup (J1): left_anti join against the global ``seen`` table,
   with an optional Bloom probe (operators/seen.py) as a residual condition
   of that join;
4. ALL rows surviving 1-3 become seen-set inserts — including rows that the
   action filters then reject (host/depth/include/exclude), reproducing the
   reference's insert-before-reject semantics (scraper/checks.go:42-60).

Scale notes: the first-wins aggregate and the anti-join both shuffle on
``dedup_key`` — the natural partitioning for a 10^10-key seen table.  The
Bloom probe does not change that: with broadcast off, every candidate and
every seen key goes through the anti-join's exchange, and the probe only
spares certified-new rows the key comparison.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.urlnorm import col_scheme_ok

# composite consideration-order key (SURVEY §3.4)
ORDER_COLS = ["parent_seq", "stage_rank", "sub_rank", "intra1", "intra2"]


def _regex_filter(path: Column, includes: list[str], excludes: list[str]) -> Column:
    """F7/F8: unanchored include/exclude regex over the URL path
    (scraper/checks.go:63-96).  Java regex via rlike; fixture patterns are
    pinned to the RE2/Java common subset (SURVEY §2.2 F7)."""
    cond = F.lit(True)
    if includes:
        inc = F.lit(False)
        for p in includes:
            inc = inc | path.rlike(p)
        cond = cond & inc
    for p in excludes:
        cond = cond & ~path.rlike(p)
    return cond


def should_download(seed_host: str, depth: int, max_depth: int,
                    includes: list[str], excludes: list[str]) -> Column:
    """shouldURLBeDownloaded's checks apart from the seen lookup
    (scraper/checks.go:26-72) over ``scheme, host, path, is_asset``
    columns of rows whose parent pages are at ``depth`` (the epoch): F1
    http(s) only; F5/F6 a page must be on the seed host and its parent not
    at the depth limit; F7/F8 the include/exclude regexes over the path.
    ``admit`` drops scheme failures before the seen insert and applies the
    rest after it; the crawl filters the seed's frontier row, at depth 0,
    with all of it."""
    page_ok = (F.col("host") == F.lit(seed_host))
    if max_depth != 0 and depth == max_depth:
        page_ok = F.lit(False)
    return (col_scheme_ok(F.col("scheme"))
            & F.when(F.col("is_asset"), F.lit(True)).otherwise(page_ok)
            & _regex_filter(F.col("path"), includes, excludes))


def admit(candidates: DataFrame, seen: DataFrame, seed_host: str,
          depth: int, max_depth: int, includes: list[str],
          excludes: list[str], bloom=None) -> tuple[DataFrame, DataFrame]:
    """Run epoch admission; the candidates' parent pages are at ``depth``.

    ``candidates`` needs columns: url (fragment-free), dedup_key,
    scheme, host, path, is_asset boolean + ORDER_COLS.
    Every row must already be http(s): the scheme check precedes the seen
    insert (checks.go:27-29), so the emitting pass drops the others.

    Returns ``(inserts, survivors)``:
      - inserts: rows whose dedup_key is appended to ``seen`` this epoch
        (one row per key, the first-considered candidate);
      - survivors: the subset of inserts that also passes the action filters
        and should actually be fetched/enqueued.

    ``bloom`` (operators.seen.SeenSet, optional): pre-filter so that only
    maybe-seen rows are COMPARED against the big seen table.  Shape (r6):
    one left_anti join whose condition is ``key-equal AND might_contain``
    — the residual keeps bloom-certified-new rows unconditionally (the
    filter has no false negatives, so such a key cannot be in ``seen``)
    while maybe-seen rows pay the real key comparison.  The probe column
    is consumed exactly once with no materialization; the previous
    surely-new/maybe-seen union re-evaluated the aggregate-final + Arrow
    probe in both branches above the reused exchange (the probe
    accumulators counted every row twice, guide §4.1), and fixing THAT
    with a checkpoint cost one extra driver job per epoch.  Exactness is
    unaffected (no false negatives; false positives just pay a compare).

    The two returned frames share one physical plan (survivors = filter of
    inserts on the ``survived`` flag) so callers can checkpoint ``inserts``
    once and derive both.
    """
    # W1 first-wins as min_by hash aggregation, NOT a row_number window: a
    # window piles every row of a hot dedup_key (think: the one logo/css
    # every page references) into a single sort task, while a hash aggregate
    # gets map-side partial combine — each input partition reduces its local
    # rows for the hot key to ONE before the shuffle.  This is the explicit
    # skew handling the frontier needs at web scale; composite consideration
    # keys are unique per candidate, so min_by is deterministic.
    ord_col = F.struct(*[F.col(c) for c in ORDER_COLS])
    row_col = F.struct(*[F.col(c) for c in candidates.columns])
    first = (candidates.groupBy("dedup_key")
             .agg(F.min_by(row_col, ord_col).alias("_row"))
             .select("_row.*"))

    seen_keys = seen.select("dedup_key")
    if bloom is None:
        inserts = first.join(seen_keys, on="dedup_key", how="left_anti")
    else:
        probed = bloom.probe_df(first)
        sk = seen_keys.select(F.col("dedup_key").alias("_seen_key"))
        inserts = probed.join(
            sk, (probed["dedup_key"] == F.col("_seen_key"))
                & probed["might_contain"],
            "left_anti").drop("might_contain")

    inserts = inserts.withColumn(
        "survived",
        should_download(seed_host, depth, max_depth, includes, excludes))
    survivors = inserts.filter(F.col("survived"))
    return inserts, survivors

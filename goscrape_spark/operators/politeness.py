"""Per-host politeness scheduling (J5) and robots.txt exclusion (J4).

Both are north_rule extensions — the reference's only politeness is the
inline 429 backoff (scraper/http.go:18-23,50-77) and it has no robots
support.  Design constraints:

* Politeness must not change crawl ORDER (the reference's backoff blocks
  inline, preserving order), so it is expressed as a ``not_before`` schedule:
  the i-th fetch of a host within an epoch (in consideration order) may start
  no earlier than ``i * delay``.  One JVM window — a rank per host times
  the delay — no Python.  Every page and asset fetch is scheduled here, and
  this is the only place a host's robots ``Crawl-delay`` meets the global
  delay.  The schedule is logged and executed: the live fetcher's per-host
  batch sends its requests in the same order and spaces consecutive starts
  by their ``not_before_ms`` difference (sources/fetch.http_fetch_df).

* Robots rules (RFC 9309, parsed by functions/robotstxt.py) ride a
  **broadcast** join on ``host`` (the rules table is tiny relative to the
  frontier); the most specific matching rule decides each path.  Like the
  include/exclude filters (F7/F8), robots rejection happens AFTER seen-set
  insertion — a robots-blocked URL never gets reconsidered.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame


def schedule_politeness(df: DataFrame, delay_ms: int,
                        order_cols: list[str] | None = None,
                        host_delays_ms: dict[str, int] | None = None
                        ) -> DataFrame:
    """Assign per-host fetch offsets ``not_before_ms``: 0, delay, 2*delay,
    ... in consideration order, per ``host`` column value.

    ``host_delays_ms`` (robots.txt ``Crawl-delay`` per host) overrides the
    global delay where LARGER: the effective per-row delay is
    ``greatest(delay_ms, host_delays_ms[host])``.  The map is a literal
    column expression (bounded: one entry per robots-bearing host), so the
    multiply stays inside whole-stage codegen — no extra join.

    The rank is ``row_number() OVER (PARTITION BY host ORDER BY ...) - 1``:
    a same-host crawl ranks an epoch's whole frontier or asset set in one
    task, as the live fetch sends all of a host's requests from one task."""
    order_cols = order_cols or ["parent_seq", "stage_rank", "sub_rank",
                                "intra1", "intra2"]
    w = Window.partitionBy("host").orderBy(*[F.col(c) for c in order_cols])
    rank = (F.row_number().over(w) - 1).cast("long")
    delay = F.lit(delay_ms).cast("long")
    if host_delays_ms:
        mapping = F.create_map(*[F.lit(x) for kv in host_delays_ms.items()
                                 for x in kv])
        delay = F.greatest(
            delay, F.coalesce(mapping[F.col("host")].cast("long"),
                              F.lit(0).cast("long")))
    return df.withColumn("not_before_ms", rank * delay)


def retry_backoff_ms(attempts: Column, retry_delay_ms: int = 1500) -> Column:
    """S2: total backoff time spent before attempt N under the reference's
    LINEAR schedule (retries+1)*1500ms per wait (scraper/http.go:70-75 — the
    comment says exponential; the code is linear).  Sum of 1..(attempts-1)
    waits."""
    n = attempts - F.lit(1)  # number of sleeps
    return (n * (n + 1) / 2).cast("long") * F.lit(retry_delay_ms)


def rfc_rules_df(spark, parsed: dict[str, list[tuple[str, bool]]]) -> DataFrame:
    """RFC 9309 rules table from ``host -> parse_robots(...) output``.
    Columns: host, pattern, regex (Java/RE2 common subset), is_allow,
    rule_len (the §2.2.2 specificity key)."""
    from ..functions.robotstxt import rule_regex
    rows = [(host, pat, rule_regex(pat), allow, len(pat))
            for host, rules in parsed.items()
            for pat, allow in rules]
    return local_frame(spark, rows,
                       "host string, pattern string, regex string, "
                       "is_allow boolean, rule_len int")


def apply_robots_rfc(candidates: DataFrame, rules: DataFrame) -> DataFrame:
    """RFC 9309 matcher over a candidates frame's ``host`` and ``path``
    columns: most-specific rule wins
    (longest pattern), Allow wins length ties, no matching rule allows.

    Distributed shape: the per-host rules table broadcasts (a robots file
    is bounded; RFC 9309 only requires parsing the first 500 KiB), each
    candidate joins only its host's rules, the regex match runs JVM-side
    (``rlike``), and the winning rule per (host, path) is a max_by hash
    aggregate over the (rule_len, is_allow) specificity key — partial
    map-side combine, no window, no skew pile-up on hot hosts.  Must agree
    exactly with functions.robotstxt.match_allowed (unit-tested)."""
    verdict_key = F.struct(F.col("rule_len"), F.col("is_allow"))
    blocked = (candidates.select("host", "path").distinct()
               .join(F.broadcast(rules.withColumnRenamed("host", "_r_host")),
                     (F.col("host") == F.col("_r_host"))
                     # column-valued regex: RLIKE via expr (Column.rlike
                     # only takes a literal pattern)
                     & F.expr("path RLIKE regex"),
                     "inner")
               .groupBy("host", "path")
               .agg(F.max_by(F.col("is_allow"), verdict_key).alias("_allow"))
               .filter(~F.col("_allow"))
               .select("host", "path"))
    return candidates.join(blocked, on=["host", "path"], how="left_anti")

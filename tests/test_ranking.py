"""W2 global sequence and the J5 per-host rank: one JVM window each."""

from pyspark.sql import functions as F

from goscrape_spark.operators import politeness, ranking
from goscrape_spark.operators.politeness import schedule_politeness
from goscrape_spark.operators.ranking import global_sequence

PYTHON_NODES = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython",
                "FlatMapGroupsInPandas")


def _df(spark, n=5000):
    # bijective scramble -> unique unordered keys
    return spark.range(n).select(
        F.col("id"),
        ((F.col("id") * 7919) % n).alias("k1"),
        (F.col("id") % 7).alias("k2"))


def test_sequence_is_start_plus_rank(spark):
    df = _df(spark)
    seq = {r.id: r.seq for r in
           global_sequence(df, ["k1"], start=10).collect()}
    k1_of = {r.id: r.k1 for r in df.collect()}
    assert len(seq) == 5000
    assert all(seq[i] == 10 + k1_of[i] for i in seq)


def test_sequence_is_dense_from_start(spark):
    df = spark.range(100).select(F.col("id").cast("long").alias("k"))
    out = global_sequence(df, ["k"], start=7)
    assert [r.seq for r in out.orderBy("k").collect()] == list(range(7, 107))


def test_sequence_composite_key_and_empty(spark):
    df = _df(spark, 997)
    got = {(r.k2, r.k1): r.seq for r in
           global_sequence(df, ["k2", "k1"]).collect()}
    want = {key: i for i, key in enumerate(sorted(got))}
    assert got == want and len(got) == 997
    empty = spark.createDataFrame([], "id long, k1 long")
    assert global_sequence(empty, ["k1"]).count() == 0


def _ranks(df):
    """Per-host rank through schedule_politeness: a 1 ms delay makes
    ``not_before_ms`` the rank itself."""
    out = schedule_politeness(df, 1, order_cols=["ord"])
    return {r.id: r.not_before_ms for r in out.collect()}


def test_politeness_rank_single_hot_host(spark):
    # one host owning every row: a same-host crawl epoch
    n = 5000
    df = spark.range(n).select(
        F.col("id"), F.lit("only.example").alias("host"),
        ((F.col("id") * 7919) % n).alias("ord"))
    ords = {r.id: r.ord for r in df.collect()}
    assert _ranks(df) == ords


def test_politeness_rank_several_hosts(spark):
    # five hosts; hot.example owns ~60% of the rows
    n = 3000
    df = spark.range(n).select(
        F.col("id"),
        F.when(F.col("id") % 10 < 6, F.lit("hot.example"))
         .otherwise(F.concat(F.lit("h"), (F.col("id") % 5)
                             .cast("string"))).alias("host"),
        ((F.col("id") * 6007) % n).alias("ord"))
    by_host: dict = {}
    for r in sorted(df.collect(), key=lambda r: r.ord):
        by_host.setdefault(r.host, []).append(r.id)
    want = {i: k for ids in by_host.values() for k, i in enumerate(ids)}
    assert len(by_host) == 5
    assert _ranks(df) == want
    empty = spark.createDataFrame([], "id long, host string, ord long")
    assert _ranks(empty) == {}


def test_crawl_sequence_and_rank_run_no_python(spark, monkeypatch):
    # a seed linking 6,000 same-host pages, each with one same-host image,
    # and politeness on: epoch 0 sequences the 6,000 pages, epoch 1 ranks
    # their 6,000 images.  Both must plan as JVM windows, with no Python
    # evaluation stage, at the partition counts such epochs get.
    from goscrape_spark.config import CrawlConfig
    from goscrape_spark.plans.crawl import crawl
    from goscrape_spark.sources.fixtures import pages_df

    seed, n = "https://example.org/", 6000
    site = {seed: "".join(f'<a href="/p{i:05d}">x</a>' for i in range(n))}
    site.update({f"{seed}p{i:05d}": f'<img src="/i{i:05d}.png">'
                 for i in range(n)})
    plans: dict = {}

    def spy(module, name):
        real = getattr(module, name)

        def wrapped(*args, **kw):
            out = real(*args, **kw)
            plans.setdefault(name, []).append(
                out._jdf.queryExecution().executedPlan().toString())
            return out
        monkeypatch.setattr(module, name, wrapped)

    spy(ranking, "global_sequence")
    spy(politeness, "schedule_politeness")
    res = crawl(spark, CrawlConfig(url=seed, politeness_delay_ms=1),
                pages_df(spark, site), max_epochs=2)
    assert res.fetch_log.filter(F.col("kind") == "asset").count() == n
    assert set(plans) == {"global_sequence", "schedule_politeness"}
    for name, found in plans.items():
        for plan in found:
            assert not [p for p in PYTHON_NODES if p in plan], (name, plan)

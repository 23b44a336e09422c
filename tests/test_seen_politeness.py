"""Bloom seen-set pre-filter + politeness schedule operator tests."""

from goscrape_spark.operators.politeness import schedule_politeness
from goscrape_spark.operators.seen import BloomFilter, SeenSet


def test_bloom_no_false_negatives():
    bf = BloomFilter(n_expected=10_000, fp_rate=0.01)
    keys = [f"/path/{i}" for i in range(5_000)]
    for k in keys:
        bf.add(k)
    assert all(bf.might_contain(k) for k in keys)
    fps = sum(bf.might_contain(f"/other/{i}") for i in range(5_000))
    assert fps < 5_000 * 0.05  # ~1% expected


def test_bloom_merge():
    a = BloomFilter(n_expected=1000)
    b = BloomFilter(n_expected=1000)
    a.add("/x")
    b.add("/y")
    a.merge(b)
    assert a.might_contain("/x") and a.might_contain("/y")


def test_seenset_df_build_and_probe(spark):
    df = spark.createDataFrame([(f"/k{i}",) for i in range(500)],
                               "dedup_key string")
    ss = SeenSet(n_expected=10_000)
    ss.add_keys_df(df)
    probe_in = spark.createDataFrame(
        [("/k1",), ("/k499",), ("/nope1",), ("/nope2",)], "dedup_key string")
    out = {r.dedup_key: r.might_contain
           for r in ss.probe_df(probe_in).collect()}
    assert out["/k1"] and out["/k499"]
    # no false negatives guaranteed; FPs possible but unlikely at this size
    assert not out["/nope1"] and not out["/nope2"]


def test_schedule_politeness(spark):
    rows = [("a.com", i, 1, 0, i, 0) for i in range(4)] + \
           [("b.com", i, 1, 0, i, 0) for i in range(2)]
    df = spark.createDataFrame(
        rows, "host string, parent_seq long, stage_rank int, sub_rank int, "
              "intra1 int, intra2 int")
    out = schedule_politeness(df, delay_ms=1000)
    sched = sorted((r.host, r.intra1, r.not_before_ms) for r in out.collect())
    assert sched == [("a.com", 0, 0), ("a.com", 1, 1000), ("a.com", 2, 2000),
                     ("a.com", 3, 3000), ("b.com", 0, 0), ("b.com", 1, 1000)]

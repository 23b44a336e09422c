"""Round-6 optimization guard: the Arrow/NumPy batch forms of the document
fingerprint and MinHash signatures must be value-identical to the
column-expression reference implementations — including unicode-whitespace
texts (tokenization stays JVM-side precisely because Java and Python
``\\s`` differ), empty/short docs, repeated shingles and null text (an
array of NULLs for MinHash, NULL for the fingerprint)."""

from pyspark.sql import functions as F

from goscrape_spark.operators.dedup import _minhash_sig, minhash_signatures
from goscrape_spark.operators.textops import fingerprint, fingerprint_from_words

TEXTS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "one two"),                       # fewer words than the shingle size
    (2, "solo"),
    (3, ""),                              # empty text
    (4, "   leading and trailing   "),
    (5, "dup dup dup dup dup"),           # identical shingles collapse
    (6, "unicode nbsp et em-space tokens mixed in"),
    (7, "tabs\tand\nnewlines   collapse to one split"),
    (8, "a b c d e f g h i j k l m n o p q r s t u v w x y z " * 8),
    (9, None),                            # null text
]


def test_fingerprint_batch_matches_column(spark):
    df = spark.createDataFrame(TEXTS, "doc_id long, text string")
    want = {r.doc_id: r.fp for r in df.select(
        "doc_id", fingerprint(F.col("text")).alias("fp")).collect()}
    got = {r.doc_id: r.fp for r in fingerprint_from_words(df).collect()}
    assert got == want


def test_minhash_batch_matches_column(spark):
    df = spark.createDataFrame(TEXTS, "doc_id long, text string")
    want = {r.id: list(r.sig) for r in df.select(
        F.col("doc_id").alias("id"),
        _minhash_sig("text", 32, 42).alias("sig")).collect()}
    got = {r.id: list(r.sig) for r in minhash_signatures(df).collect()}
    assert got == want

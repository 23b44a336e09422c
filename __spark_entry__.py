"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship epoch-synchronous crawl over a mock web
derived deterministically from sf0.001 documents and returns the crawled
span table.  ``queries()``/``oracle_sql()`` expose each implemented operator
from SURVEY.md §2 (plus the training-data operators) over the driver's
testdata tables, with DuckDB-mirrored SQL for every SQL-expressible stage.

Naming convention: every computed column is aliased identically in the Spark
code and the SQL so the driver's order-insensitive value-hash compare works.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

SEED_HOST = "src0.example.com"

# ---------------------------------------------------------------------------
# shared derivations (Spark + SQL mirrors)
# ---------------------------------------------------------------------------


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _candidate_urls(docs: DataFrame) -> DataFrame:
    """Deterministic URL-shaped rows derived from the documents table —
    the fixture for the crawl-engine column operators (F1-F3, W1, J1...).
    Collisions are intentional: path uses doc_id mod 37/101."""
    did = F.col("doc_id")
    host = (F.when(did % 7 == 0, F.lit("cdn.external.net"))
            .otherwise(F.concat(F.col("source"), F.lit(".example.com"))))
    path = F.concat(F.lit("/c"), (did % 37).cast("string"),
                    F.lit("/doc-"), (did % 101).cast("string"),
                    F.when(did % 5 == 0, F.lit("/")).otherwise(F.lit("")))
    frag = F.when(did % 3 == 0,
                  F.concat(F.lit("#s"), did.cast("string"))) \
            .otherwise(F.lit(""))
    url = F.concat(F.lit("https://"), host, path, frag)
    return docs.select("doc_id", "n_chars", url.alias("url"))


_SQL_CANDS = """
cands AS (
  SELECT doc_id, n_chars,
         'https://' ||
         (CASE WHEN doc_id % 7 = 0 THEN 'cdn.external.net'
               ELSE source || '.example.com' END) ||
         ('/c' || (doc_id % 37)::VARCHAR || '/doc-' || (doc_id % 101)::VARCHAR ||
          CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END) ||
         (CASE WHEN doc_id % 3 = 0 THEN '#s' || doc_id::VARCHAR ELSE '' END)
         AS url
  FROM documents
)"""

_SQL_PARSED = _SQL_CANDS + """,
parsed AS (
  SELECT doc_id, n_chars,
         split_part(url, '#', 1) AS url_no_frag,
         regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS host,
         regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path
  FROM cands
),
keyed AS (
  SELECT doc_id, n_chars, url_no_frag, host, path,
         (CASE WHEN
            (CASE WHEN host = 'src0.example.com'
                  THEN (CASE WHEN path = '' THEN '/' ELSE path END)
                  ELSE url_no_frag END) <> '/'
            AND (CASE WHEN host = 'src0.example.com'
                      THEN (CASE WHEN path = '' THEN '/' ELSE path END)
                      ELSE url_no_frag END) LIKE '%/'
          THEN substr((CASE WHEN host = 'src0.example.com'
                            THEN (CASE WHEN path = '' THEN '/' ELSE path END)
                            ELSE url_no_frag END), 1,
                      length(CASE WHEN host = 'src0.example.com'
                                  THEN (CASE WHEN path = '' THEN '/' ELSE path END)
                                  ELSE url_no_frag END) - 1)
          ELSE (CASE WHEN host = 'src0.example.com'
                     THEN (CASE WHEN path = '' THEN '/' ELSE path END)
                     ELSE url_no_frag END) END) AS dedup_key
  FROM parsed
)"""


def _keyed(docs: DataFrame) -> DataFrame:
    """Spark side of the parsed+keyed candidate table, using the engine's
    own column helpers (goscrape_spark.functions.urlnorm)."""
    from goscrape_spark.functions.urlnorm import (
        col_dedup_key,
        col_host,
        col_path,
        col_strip_fragment,
    )

    c = _candidate_urls(docs)
    u = F.col("url")
    return c.select(
        "doc_id", "n_chars",
        col_strip_fragment(u).alias("url_no_frag"),
        col_host(u).alias("host"),
        col_path(u).alias("path"),
        col_dedup_key(col_strip_fragment(u), col_host(u), col_path(u),
                      F.lit(SEED_HOST)).alias("dedup_key"))


_SQL_WORDS = """
w AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
  FROM documents
)"""

_STOPS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "se", "no"],
    "de": ["der", "die", "und", "das", "ist", "von", "mit", "den", "nicht", "ein"],
    "fr": ["le", "la", "et", "les", "des", "est", "un", "une", "du", "dans"],
}


def _sql_list(words: list[str]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def q_urlnorm_dedup_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-F3 + C2: fragment strip, URL part projection, dedup-key."""
    return _keyed(_docs(spark, sf_dir))


def q_admission_first_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: first-wins within the consideration order (doc_id).

    Computed as a min aggregate, not a row_number window: the
    consideration order here IS doc_id, so the first-considered winner per
    key is exactly min(doc_id) — a hash aggregate with map-side partial
    combine instead of a full shuffle+sort per key (the same skew-proof
    shape the crawl's admit() uses; guide §2.3 "aggregate before you
    shuffle").  Identical rows."""
    k = _keyed(_docs(spark, sf_dir))
    return (k.groupBy("dedup_key")
            .agg(F.min("doc_id").alias("winner_doc")))


def q_seen_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/U3: candidate keys minus an already-seen table.  Winners via the
    same min-aggregate as q_admission_first_wins (no window sort)."""
    k = _keyed(_docs(spark, sf_dir))
    winners = (k.groupBy("dedup_key")
               .agg(F.min("doc_id").alias("winner_doc")))
    seen = (k.filter(F.col("doc_id") < 100)
            .select("dedup_key").distinct())
    return winners.join(seen, "dedup_key", "left_anti") \
                  .select("dedup_key", "winner_doc")


def q_frontier_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2/O2: global frontier sequence by (depth, host, key) priority."""
    from goscrape_spark.operators.ranking import global_sequence

    base = q_admission_first_wins(spark, sf_dir)
    k = _keyed(_docs(spark, sf_dir)).select("doc_id", "host")
    j = base.join(k, base["winner_doc"] == k["doc_id"], "inner") \
            .withColumn("depth", (F.col("winner_doc") % 4).cast("int"))
    return global_sequence(j.select("dedup_key", "depth", "host"),
                           ["depth", "host", "dedup_key"], start=1,
                           out_col="seq")


def q_per_host_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: per-host crawl metrics (count + bytes)."""
    k = _keyed(_docs(spark, sf_dir))
    return (k.groupBy("host")
            .agg(F.count(F.lit(1)).alias("n_urls"),
                 F.sum("n_chars").alias("total_chars")))


def q_page_file_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7: page file naming as a column expression (scraper/fileutil.go:
    58-79): ''/'/' -> index.html; dir/ -> dir/index.html; no extension ->
    +.html.  The extension test mirrors Go path.Ext: a dot in the final
    segment."""
    from goscrape_spark.functions.urlmath import PAGE_DIR_INDEX, PAGE_EXTENSION

    k = _keyed(_docs(spark, sf_dir))
    path = F.col("path")
    file_path = (
        F.when((path == "") | (path == "/"), F.lit(PAGE_DIR_INDEX))
        .when(path.endswith("/"), F.concat(path, F.lit(PAGE_DIR_INDEX)))
        .when(~path.rlike(r"\.[^/]*$"), F.concat(path, F.lit(PAGE_EXTENSION)))
        .otherwise(path))
    return k.select("doc_id", "path", file_path.alias("file_path"))


def q_retry_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: 429 retry outcome + total linear backoff (scraper/http.go:18-96)."""
    from goscrape_spark.operators.politeness import retry_backoff_ms

    ev = _events(spark, sf_dir)
    retry_after = (F.col("event_id") % 13).cast("int")
    attempts = (F.when(retry_after <= 10, retry_after + 1)
                .otherwise(F.lit(11))).cast("int")
    status = F.when(retry_after <= 10, F.lit("ok")).otherwise(F.lit("exhausted"))
    return ev.select(
        "event_id", attempts.alias("attempts"), status.alias("status"),
        retry_backoff_ms(attempts).alias("backoff_ms"))


def q_politeness_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: per-host politeness spacing in consideration order."""
    from goscrape_spark.operators.politeness import schedule_politeness

    ev = _events(spark, sf_dir).select(
        "event_id", F.col("event_type").alias("host"))
    out = schedule_politeness(ev, delay_ms=1500, order_cols=["event_id"])
    return out.select("event_id", "host", "not_before_ms")


def q_sorted_refs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2/O1: per-document distinct sorted reference lists (exploded)."""
    from goscrape_spark.operators.textops import words

    d = _docs(spark, sf_dir)
    return (d.select("doc_id",
                     F.explode(F.array_sort(F.array_distinct(
                         words(F.col("text"))))).alias("ref")))


def q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: robots disallow-prefix exclusion (broadcast rules join)."""
    from goscrape_spark.operators.politeness import (
        apply_robots_rfc,
        rfc_rules_df,
    )

    k = _keyed(_docs(spark, sf_dir))
    hosts = [r.host for r in k.select("host").distinct().collect()
             if r.host != "cdn.external.net"]
    rules = rfc_rules_df(spark, {h: [("/c1", False)] for h in hosts})
    return (apply_robots_rfc(k, rules)
            .select("doc_id", "host", "path"))


# RFC 9309 fixture exercising every matcher feature over the /c{0-36}/
# doc-{0-100}[/] path shapes: plain prefix, longer-Allow override,
# *-wildcard with $ end anchor, and the longest-match interplay
# (/c12/doc-7 matches Allow /c12 (len 4) AND Disallow /*doc-7$ (len 8) —
# the longer Disallow wins).
_ROBOTS_RFC_TXT = """User-agent: *
Disallow: /c1
Allow: /c1/doc-2*
Disallow: /*doc-7$
Allow: /c12
"""


def q_robots_rfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 (full RFC 9309 form): Allow/Disallow + wildcard rules, longest
    match wins, Allow wins ties — broadcast rules join + max_by verdict
    (operators/politeness.apply_robots_rfc)."""
    from goscrape_spark.functions.robotstxt import parse_robots
    from goscrape_spark.operators.politeness import (
        apply_robots_rfc,
        rfc_rules_df,
    )

    k = _keyed(_docs(spark, sf_dir)).select("doc_id", "host", "path")
    hosts = [r.host for r in k.select("host").distinct().collect()
             if r.host != "cdn.external.net"]
    parsed = {h: parse_robots(_ROBOTS_RFC_TXT, agent="goscrape")
              for h in hosts}
    return (apply_robots_rfc(k, rfc_rules_df(spark, parsed))
            .select("doc_id", "host", "path"))


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goscrape_spark.operators.dedup import exact_dedup

    return exact_dedup(_docs(spark, sf_dir))


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goscrape_spark.operators.textops import token_count_bpe, token_count_ws

    d = _docs(spark, sf_dir)
    return d.select("doc_id",
                    token_count_ws(F.col("text")).cast("long").alias("n_ws"),
                    token_count_bpe(F.col("text")).cast("long").alias("n_bpe"))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged: tokenize once -> hit-count array once -> tie-break chain.
    Same values as the single-column lang_id; the staging stops Catalyst
    from re-inlining the split/filter HOFs (which are CodegenFallback, no
    subexpression elimination) into every tie-break branch."""
    from goscrape_spark.operators.textops import (
        lang_hits_from_words,
        lang_pick,
        words,
    )

    ws = _docs(spark, sf_dir).select("doc_id", words(F.col("text")).alias("_ws"))
    hits = ws.select("doc_id", lang_hits_from_words(F.col("_ws")).alias("_h"))
    return hits.select("doc_id", lang_pick(F.col("_h")).alias("lang_pred"))


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goscrape_spark.operators.textops import quality_score

    return _docs(spark, sf_dir).select(
        "doc_id", quality_score(F.col("text")).alias("quality"))


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow batch form of select(doc_id, fingerprint(text)) — identical
    values (JVM tokenization + hashlib md5 hexdigest == Spark md5)."""
    from goscrape_spark.operators.textops import fingerprint_from_words

    return fingerprint_from_words(_docs(spark, sf_dir))


def _aug_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs 0-29 plus a 75%-prefix truncation of each (doc_id + 1000):
    guaranteed near-dup pairs so the jaccard oracle checks real rows."""
    from goscrape_spark.operators.textops import words

    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 30) \
                            .select("doc_id", "text")
    ws = words(F.col("text"))
    trunc = d.select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.array_join(F.slice(ws, 1, (F.size(ws) * 3 / 4).cast("int")), " ")
         .alias("text"))
    return d.unionByName(trunc)


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goscrape_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_aug_docs(spark, sf_dir), threshold=0.2)


def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation composition a training-data prep job runs:
    quality filter → exact-dedup keep-first → stratified sample.  Every
    stage is an already-oracle-checked operator; this verifies the
    COMPOSITION (filters commute with dedup representative choice, sample
    applies to survivors only)."""
    from goscrape_spark.operators.dedup import exact_dedup_keep_first
    from goscrape_spark.operators.sampling import stratified_sample
    from goscrape_spark.operators.textops import quality_score

    d = _docs(spark, sf_dir)
    scored = (d.withColumn("quality", quality_score(F.col("text")))
              .filter(F.col("quality") >= 0.5))
    kept = exact_dedup_keep_first(scored)
    sampled = stratified_sample(kept, "lang", {"en": 0.5},
                                default_rate=0.25)
    return sampled.select("doc_id", "lang", "quality")


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the exact near-dup pair graph: the
    canonical-representative assignment a dedup pipeline keeps
    (operators/dedup.near_dup_clusters, min-label propagation)."""
    from goscrape_spark.operators.dedup import (
        near_dup_clusters,
        ngram_jaccard_pairs,
    )

    pairs = ngram_jaccard_pairs(_aug_docs(spark, sf_dir), threshold=0.2)
    return near_dup_clusters(pairs)


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-stratified corpus sampling: downsample dominant
    languages, keep the tail at a floor rate (operators/sampling)."""
    from goscrape_spark.operators.sampling import stratified_sample

    d = _docs(spark, sf_dir).select("doc_id", "lang")
    return stratified_sample(d, "lang", {"en": 0.5, "es": 0.25},
                             default_rate=0.1)


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goscrape_spark.operators.similarity import cosine_topk

    e = _embs(spark, sf_dir)
    q = [float(x) for x in e.filter(F.col("vec_id") == 0).first().embedding]
    top = cosine_topk(e, q, k=10)
    return top.select("vec_id",
                      F.round(F.col("cosine_sim"), 4).alias("cosine_sim"))


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goscrape_spark.operators.similarity import brute_force_near_dup_pairs

    e = _embs(spark, sf_dir).filter(F.col("vec_id") < 200)
    pairs = brute_force_near_dup_pairs(e, threshold=0.3)
    return pairs.select("id1", "id2",
                        F.round(F.col("cosine_sim"), 4).alias("cosine_sim"))


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goscrape_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_aug_docs(spark, sf_dir))


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goscrape_spark.operators.dedup import simhash_signatures

    return simhash_signatures(_docs(spark, sf_dir))


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS end-to-end (pigeonhole chunk banding +
    bit_count verify): documents ∪ an exact copy at doc_id+2000, so every
    doc meets its duplicate at Hamming 0 plus whatever true near-dups
    exist — exercising the banded join, not just the signatures."""
    from goscrape_spark.operators.dedup import simhash_near_pairs

    d = _docs(spark, sf_dir).select("doc_id", "text")
    dup = d.select((F.col("doc_id") + 2000).alias("doc_id"), "text")
    return simhash_near_pairs(d.unionByName(dup), max_hamming=3)


def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame-sampling plumbing over a deterministic synthetic
    media table (duration derived from doc_id): one row per sampled
    timestamp (operators/multimodal.sample_video_frames)."""
    from goscrape_spark.operators.multimodal import sample_video_frames

    media = _docs(spark, sf_dir).select(
        F.concat(F.lit("vid://"), F.col("doc_id").cast("string"))
         .alias("media_id"),
        F.lit("video").alias("kind"),
        F.lit(None).cast("binary").alias("payload"),
        F.struct(
            F.lit("mp4").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            ((F.col("doc_id") % 13) * 337).cast("int").alias("duration_ms"),
        ).alias("meta"))
    return sample_video_frames(media, every_ms=250)


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goscrape_spark.operators.similarity import ann_topk_lsh

    e = _embs(spark, sf_dir)
    q = [float(x) for x in e.filter(F.col("vec_id") == 0).first().embedding]
    top = ann_topk_lsh(e, q, dim=64, k=10, n_planes=4, probe_radius=1)
    return top.select("vec_id",
                      F.round(F.col("cosine_sim"), 4).alias("cosine_sim"))


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with the deterministic data-independent quantizer tier so the
    assignment + cell-probe math is DuckDB-mirrorable; the trained-kmeans
    tier is pytest-verified (test_training_ops.test_ivf_ann)."""
    from goscrape_spark.operators.similarity import (
        fixed_centroids,
        ivf_index,
        ivf_topk,
    )

    e = _embs(spark, sf_dir)
    cents = fixed_centroids(8, 64)
    q = [float(x) for x in e.filter(F.col("vec_id") == 0).first().embedding]
    return ivf_topk(ivf_index(e, cents), cents, q, k=10, nprobe=3) \
        .select("vec_id", F.round(F.col("cosine_sim"), 4).alias("cosine_sim"))


# --- rewrite/path math golden queries (C4-C9, O3/C21) -----------------------

# (case_id, base_path, reference, is_hyperlink, relative_to_root, expected) —
# rows 0-4 are the reference's own TestResolveURL table
# (scraper/url_test.go:10-43); the rest pin external-asset prefixing,
# dir-index splicing, fragment-after-slash, and relative-to-root handling
# (scraper/url.go:10-116).
_RESOLVE_CASES = [
    (0, "", "", True, "", "index.html"),
    (1, "", "#contents", True, "", "#contents"),
    (2, "/earth/", "brasil/index.html", True, "", "brasil/index.html"),
    (3, "/earth/", "brasil/rio/index.html", True, "", "brasil/rio/index.html"),
    (4, "/earth/", "../argentina/cat.jpg", False, "", "../argentina/cat.jpg"),
    (5, "/earth/", "https://other.net/pic.jpg", False, "", "_other.net/pic.jpg"),
    (6, "/earth/", "https://other.net/page.html", True, "",
     "https://other.net/page.html"),
    (7, "/earth/brasil/", "/cat.jpg", False, "", "../../cat.jpg"),
    (8, "/", "/dir/", True, "", "dir/index.html"),
    (9, "/a/b/", "c#frag", True, "", "c.html#frag"),
    (10, "/a/b/", "/d/#frag", True, "", "../../d/index.html#frag"),
    (11, "/x/", "pic.jpg", False, "../", "pic.jpg"),
    (12, "/x/y", "/z.css", False, "", "../z.css"),
]

# (case_id, url, is_page, expected) — rows 0-5 from TestGetFilePath
# (scraper/fileutil_test.go:14-45, seed host google.com, outdir "");
# 8-9 engage truncateFilename + the FNV-1a32 suffix (fileutil.go:82-113).
_FILE_PATH_CASES = [
    (0, "https://github.com/", True, "google.com/_github.com/index.html"),
    (1, "https://github.com/#fragment", True,
     "google.com/_github.com/index.html"),
    (2, "https://github.com/test", True, "google.com/_github.com/test.html"),
    (3, "https://github.com/test/", True,
     "google.com/_github.com/test/index.html"),
    (4, "https://github.com/test.aspx", True,
     "google.com/_github.com/test.aspx"),
    (5, "https://google.com/settings", True, "google.com/settings.html"),
    (6, "https://google.com/img/logo.png", False, "google.com/img/logo.png"),
    (7, "https://cdn.example.net/a/b/pic.jpg?x=1", False,
     "google.com/_cdn.example.net/a/b/pic.jpg"),
    (8, "https://google.com/" + "a" * 230 + ".css", False,
     "google.com/" + "a" * 188 + "b60c1e82.css"),
    (9, "https://google.com/dir/" + "b" * 260, True,
     "google.com/dir/" + "b" * 187 + "c1696d54.html"),
]


def q_rewrite_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-C6 resolveURL against the golden table — the Spark side computes,
    the oracle states the expected values."""
    from goscrape_spark.functions.urlmath import resolve_url
    from goscrape_spark.functions.urlnorm import GoURL

    rows = [(c, bp, ref, link, rel) for c, bp, ref, link, rel, _
            in _RESOLVE_CASES]
    src = spark.createDataFrame(
        rows, "case_id int, base_path string, ref string, "
              "is_link boolean, rel string")

    def run(batches):
        import pandas as pd
        for pdf in batches:
            out = [resolve_url(
                GoURL(scheme="https", host="petpic.xyz", path=bp),
                ref, "petpic.xyz", bool(link), rel)
                for bp, ref, link, rel in zip(pdf["base_path"], pdf["ref"],
                                              pdf["is_link"], pdf["rel"])]
            yield pd.DataFrame({"case_id": pdf["case_id"], "resolved": out})

    return src.mapInPandas(run, schema="case_id int, resolved string")


def q_file_path_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8/C9/O3/C21: getFilePath incl. truncateFilename + FNV-1a32 suffix
    against the golden table."""
    from goscrape_spark.functions.urlmath import get_file_path
    from goscrape_spark.functions.urlnorm import parse_url

    rows = [(c, u, p) for c, u, p, _ in _FILE_PATH_CASES]
    src = spark.createDataFrame(rows,
                                "case_id int, url string, is_page boolean")

    def run(batches):
        import pandas as pd
        for pdf in batches:
            out = [get_file_path(parse_url(u), "google.com", "", bool(p))
                   for u, p in zip(pdf["url"], pdf["is_page"])]
            yield pd.DataFrame({"case_id": pdf["case_id"], "file_path": out})

    return src.mapInPandas(run, schema="case_id int, file_path string")


# --- rows-only (non-SQL-expressible) ---------------------------------------


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goscrape_spark.operators.multimodal import (
        extract_media_features,
        media_from_fetched,
    )

    d = _docs(spark, sf_dir).select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.encode(F.col("text"), "utf-8").alias("body"))
    feats = extract_media_features(media_from_fetched(d), dim=8)
    # the driver canonicalizer sorts every column, so the array<float>
    # feature is projected to a stable scalar digest
    return feats.select(
        "media_id", "kind", "n_bytes",
        F.md5(F.concat_ws(",", F.transform(
            F.col("feature"), lambda x: F.format_number(x, 4))))
         .alias("feature_md5"),
        "decode_status")


# C10/C11 srcset golden: (case_id, srcset value); expected split candidates
# and the reference's resolve-each-candidate rewrite (htmlindex/htmlindex.go
# :158-173 split; scraper/html.go:153-165 rewrite, descriptors preserved,
# re-joined with ', ').  Case 0 is the reference's own TestIndexImg srcset
# (htmlindex/htmlindex_test.go:63).
_SRCSET_CASES = [
    (0, "test-480w.jpg 480w, test-800w.jpg 800w",
     "test-480w.jpg|test-800w.jpg",
     "test-480w.jpg 480w, test-800w.jpg 800w"),
    (1, "test.jpg", "test.jpg", "test.jpg"),
    (2, "a.png 1x,b.png 2x", "a.png|b.png", "a.png 1x, b.png 2x"),
    (3, " spaced.jpg  2x , other.png ", "spaced.jpg|other.png",
     "spaced.jpg  2x, other.png"),
    (4, "/abs/img.jpg 100w, https://other.host/x.jpg 2x",
     "/abs/img.jpg|https://other.host/x.jpg",
     "abs/img.jpg 100w, _other.host/x.jpg 2x"),
]

# C12 CSS url() extraction golden — the reference's own TestCSSProcessor
# fixtures (scraper/download_test.go:20-28), base http://localhost; the
# data: URI case contributes zero rows (css/css.go:39-41).
_CSS_EXTRACT_CASES = [
    (0, "url('http://localhost/uri/between/single/quote')"),
    (1, 'url("http://localhost/uri/between/double/quote")'),
    (2, "url(http://localhost/uri)"),
    (3, "url(data:image/gif;base64,R0lGODl)"),
    (4, "div#gopher {\n\t\t\tbackground: url(/doc/gopher/frontpage.png) "
        "no-repeat;\n\t\t\theight: 155px;\n\t\t\t}"),
]

_CSS_EXTRACT_EXPECT = [
    (0, 0, "http://localhost/uri/between/single/quote"),
    (1, 0, "http://localhost/uri/between/double/quote"),
    (2, 0, "http://localhost/uri"),
    (4, 0, "http://localhost/doc/gopher/frontpage.png"),
]


# Sitemap <loc> extraction golden (functions/sitemap.py, the sitemap-seeded
# frontier's parse stage): entity unescape (&amp; last), CDATA strip,
# multi-line locs, <sitemapindex> detection.  Expected rows are HAND-WRITTEN
# (not replayed through parse_sitemap), so the oracle independently checks
# the regex + unescape translation.
_SITEMAP_CASES = [
    (0, "<urlset><url><loc>http://a.org/p?x=1&amp;y=2</loc></url>"
        "<url><loc>\n  http://a.org/spread \n</loc></url>"
        "<url><loc><![CDATA[http://a.org/cd?a=1&b=2]]></loc></url>"
        "</urlset>"),
    (1, "<sitemapindex><sitemap><loc>http://a.org/sm1.xml</loc></sitemap>"
        "<sitemap><loc>http://a.org/sm&lt;2&gt;.xml</loc></sitemap>"
        "</sitemapindex>"),
    (2, "<urlset></urlset>"),          # no locs: contributes zero rows
    (3, "plain text, not xml"),        # ditto
    (4, "<urlset><url><loc>http://a.org/&amp;lt;</loc></url></urlset>"),
]

_SITEMAP_EXPECT = [
    (0, 0, "http://a.org/p?x=1&y=2", False),
    (0, 1, "http://a.org/spread", False),
    (0, 2, "http://a.org/cd?a=1&b=2", False),
    (1, 0, "http://a.org/sm1.xml", True),
    (1, 1, "http://a.org/sm<2>.xml", True),
    # standard decode order: '&amp;lt;' -> literal '&lt;' (NOT '<')
    (4, 0, "http://a.org/&lt;", False),
]


def q_sitemap_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap parse stage against the golden table (column-expression
    path used by the crawl's sitemap-seeded frontier bootstrap)."""
    from goscrape_spark.functions.sitemap import (
        col_is_sitemap_index,
        col_sitemap_locs,
    )

    src = spark.createDataFrame(_SITEMAP_CASES, "case_id int, xml string")
    return (src.select(
                "case_id",
                col_is_sitemap_index(F.col("xml")).alias("is_index"),
                F.posexplode(col_sitemap_locs(F.col("xml")))
                 .alias("ord", "loc"))
            .select("case_id", "ord", "loc", "is_index"))


def q_srcset_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C10/C11: srcset split + rewrite against the golden table."""
    from goscrape_spark.functions.urlmath import (
        resolve_srcset_urls,
        split_srcset,
    )
    from goscrape_spark.functions.urlnorm import GoURL

    src = spark.createDataFrame(
        [(c, v) for c, v, _, _ in _SRCSET_CASES],
        "case_id int, srcset string")
    base = GoURL(scheme="https", host="domain.com", path="/")

    def run(batches):
        import pandas as pd
        for pdf in batches:
            yield pd.DataFrame({
                "case_id": pdf["case_id"],
                "candidates": ["|".join(split_srcset(v))
                               for v in pdf["srcset"]],
                "rewritten": [resolve_srcset_urls(base, v, "domain.com",
                                                  False, "")
                              for v in pdf["srcset"]]})

    return src.mapInPandas(
        run, schema="case_id int, candidates string, rewritten string")


def q_css_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C12: CSS url() token extraction + resolve on the reference's own
    TestCSSProcessor fixtures; data: URIs yield no rows."""
    from goscrape_spark.functions.urlnorm import GoURL
    from goscrape_spark.operators.cssx import css_extract

    src = spark.createDataFrame(_CSS_EXTRACT_CASES,
                                "case_id int, css string")
    base = GoURL(scheme="http", host="localhost", path="/")

    def run(batches):
        import pandas as pd
        for pdf in batches:
            cids, ords, resolved = [], [], []
            for cid, css in zip(pdf["case_id"], pdf["css"]):
                for i, ref in enumerate(css_extract(css, base)):
                    cids.append(cid)
                    ords.append(i)
                    resolved.append(ref.resolved)
            yield pd.DataFrame({"case_id": cids, "ord": ords,
                                "resolved": resolved})

    return src.mapInPandas(run,
                           schema="case_id int, ord int, resolved string")


def _real_image_payloads() -> list[tuple[int, bytes]]:
    """Deterministic PNG/JPEG payloads for the real-decode golden.  No RNG —
    gradient formulas only, so the oracle regenerates identical bytes."""
    import numpy as np

    from goscrape_spark.functions.imagecodec import jpeg_encode, png_encode

    y, x = np.mgrid[0:24, 0:32]
    g1 = np.stack([(x * 7) % 256, (y * 11) % 256, ((x + y) * 5) % 256],
                  axis=2).astype(np.uint8)
    g2 = np.stack([np.full_like(x, 200), (x * 3) % 256, (y * 9) % 256],
                  axis=2).astype(np.uint8)[:16, :16]
    # payload 5 is a CONSTANT-color 8x8 PNG whose oracle row is
    # hand-computed (not replayed through _image_feature) — see
    # _image_features_real_sql
    g3 = np.full((8, 8, 3), [60, 120, 240], dtype=np.uint8)
    return [(0, png_encode(g1)),
            (1, png_encode(g2)),
            (2, jpeg_encode(g1, 80)),
            (3, jpeg_encode(g2, 50)),
            (4, b"\x89PNG\r\n\x1a\nbroken"),
            (5, png_encode(g3))]


def q_image_features_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C19-adjacent real-decode tier: extract_media_features(decode='real')
    over REAL PNG/JPEG bytes through the vendored codec — pixel statistics,
    not hash stand-ins (operators/multimodal._image_feature)."""
    from goscrape_spark.operators.multimodal import (
        extract_media_features,
        media_from_fetched,
    )

    rows = [(f"img://{i}", bytearray(p)) for i, p in _real_image_payloads()]
    fetched = spark.createDataFrame(rows, "url string, body binary")
    feats = extract_media_features(media_from_fetched(fetched), dim=12,
                                   decode="real")
    return feats.select(
        "media_id", "kind", "n_bytes",
        F.md5(F.concat_ws(",", F.transform(
            F.col("feature"), lambda x: F.format_number(x, 4))))
         .alias("feature_md5"),
        "decode_status")


def _real_audio_payloads() -> list[tuple[int, bytes]]:
    """Deterministic WAV payloads for the real audio-decode golden (no
    RNG, closed-form signals only).  Payloads 0 and 1 carry HAND-COMPUTED
    oracle rows (see _audio_features_real_sql)."""
    import numpy as np

    from goscrape_spark.functions.audiocodec import wav_encode

    t = np.arange(16000) / 16000.0
    return [
        (0, wav_encode(np.full(8000, 0.5), 8000)),            # DC
        (1, wav_encode(np.tile([0.5, -0.5], 4000), 8000)),    # Nyquist sq
        (2, wav_encode(0.8 * np.sin(2 * np.pi * 440 * t), 16000, bits=24)),
        (3, wav_encode(np.linspace(-0.9, 0.9, 4410), 44100, channels=2)),
        (4, b"ID3\x04\x00mp3-payload-no-wav-codec-here"),     # undecodable
    ]


def q_audio_features_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-decode audio tier: extract_media_features(decode='real') over
    RIFF/WAV PCM bytes through the vendored codec (functions/audiocodec) —
    duration/RMS/zero-crossings/spectral stats, not hash stand-ins."""
    from goscrape_spark.operators.multimodal import (
        extract_media_features,
        media_from_fetched,
    )

    rows = [(f"aud://{i}", bytearray(p)) for i, p in _real_audio_payloads()]
    fetched = spark.createDataFrame(rows, "url string, body binary")
    feats = extract_media_features(media_from_fetched(fetched), dim=12,
                                   decode="real")
    return feats.select(
        "media_id", "kind", "n_bytes",
        F.md5(F.concat_ws(",", F.transform(
            F.col("feature"), lambda x: F.format_number(x, 4))))
         .alias("feature_md5"),
        "decode_status")


def _real_video_payloads() -> list[tuple[int, bytes]]:
    """Deterministic MJPEG-in-AVI payloads (no RNG).  Payload 0's first
    frame is constant-128 — JPEG-exact (DC-only blocks), giving a
    HAND-COMPUTED oracle row (see _video_frames_real_sql)."""
    import numpy as np

    from goscrape_spark.functions.avicodec import avi_mjpeg_encode
    from goscrape_spark.functions.imagecodec import jpeg_encode

    y, x = np.mgrid[0:16, 0:16]
    grad = np.stack([(x * 9) % 256, (y * 5) % 256, ((x + y) * 3) % 256],
                    axis=2).astype(np.uint8)
    const = np.full((16, 16, 3), 128, dtype=np.uint8)
    return [
        (0, avi_mjpeg_encode([jpeg_encode(const, 75),
                              jpeg_encode(grad, 75),
                              jpeg_encode(grad[::-1].copy(), 75)],
                             500000)),            # 3 frames x 500 ms
        (1, b"\x00\x00\x00\x20ftypisom-mp4-needs-ffmpeg"),
    ]


def q_video_frames_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C19-adjacent real video tier: sample_video_frames(decode='real')
    over MJPEG-in-AVI bytes through the vendored RIFF walker + JPEG
    decoder — real per-frame pixel statistics; non-AVI containers surface
    an honest 'undecodable' row (ffmpeg is the deployment plug-in)."""
    from goscrape_spark.operators.multimodal import sample_video_frames

    rows = [(f"vid://{i}", "video", bytearray(p),
             ("avi", None, None, None)) for i, p in _real_video_payloads()]
    media = spark.createDataFrame(
        rows, "media_id string, kind string, payload binary, "
              "meta struct<mime:string,width:int,height:int,"
              "duration_ms:int>")
    out = sample_video_frames(media, every_ms=600, decode="real")
    return out.select(
        "media_id", "ts_ms", "frame_idx", "height", "width",
        F.format_number(F.col("mean_lum"), 4).alias("mean_lum_s"),
        "decode_status")


def q_crawl_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full epoch-synchronous crawl on the reference's TestScraperLinks
    fixture; returns the final seen table (golden: 4 keys)."""
    from goscrape_spark.config import CrawlConfig
    from goscrape_spark.plans.crawl import crawl
    from goscrape_spark.sources.fixtures import (
        SITE_LINKS,
        SITE_LINKS_START,
        pages_df,
    )

    res = crawl(spark, CrawlConfig(url=SITE_LINKS_START),
                pages_df(spark, SITE_LINKS))
    return res.seen.select("dedup_key")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "urlnorm_dedup_key": q_urlnorm_dedup_key,
        "admission_first_wins": q_admission_first_wins,
        "seen_anti_join": q_seen_anti_join,
        "frontier_seq": q_frontier_seq,
        "per_host_metrics": q_per_host_metrics,
        "page_file_path": q_page_file_path,
        "retry_backoff": q_retry_backoff,
        "politeness_schedule": q_politeness_schedule,
        "sorted_refs": q_sorted_refs,
        "robots_filter": q_robots_filter,
        "robots_rfc_match": q_robots_rfc,
        "exact_dedup": q_exact_dedup,
        "token_counts": q_token_counts,
        "lang_id": q_lang_id,
        "quality_score": q_quality_score,
        "fingerprint": q_fingerprint,
        "ngram_jaccard": q_ngram_jaccard,
        "cosine_topk": q_cosine_topk,
        "embedding_near_dup": q_embedding_near_dup,
        "minhash_lsh": q_minhash_lsh,
        "simhash": q_simhash,
        "simhash_pairs": q_simhash_pairs,
        "video_frames": q_video_frames,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ivf_topk": q_ivf_topk,
        "rewrite_math": q_rewrite_math,
        "file_path_math": q_file_path_math,
        "crawl_fixture": q_crawl_fixture,
        # golden-VALUES oracle: the blake2b feature chain is deterministic
        # but not SQL-expressible, so expected rows are precomputed
        # driver-side (_media_features_sql)
        "media_features": q_media_features,
        "image_features_real": q_image_features_real,
        "audio_features_real": q_audio_features_real,
        "video_frames_real": q_video_frames_real,
        "srcset_math": q_srcset_math,
        "sitemap_extract": q_sitemap_extract,
        "css_extract": q_css_extract,
        "dedup_clusters": q_dedup_clusters,
        "stratified_sample": q_stratified_sample,
        "corpus_pipeline": q_corpus_pipeline,
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB dialect)
# ---------------------------------------------------------------------------

_SQL_AUG = """
aug AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 30
  UNION ALL
  SELECT doc_id + 1000 AS doc_id,
         array_to_string(
           (string_split_regex(lower(trim(text)), '\\s+'))
             [1:((3 * len(string_split_regex(lower(trim(text)), '\\s+'))) // 4)],
           ' ') AS text
  FROM documents WHERE doc_id < 30
)"""

# shared by the ngram_jaccard and dedup_clusters oracles: shingle sets,
# sizes, and pairwise intersections over the augmented-truncation table
_NGRAM_CTES = """
            w AS (
              SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
              FROM aug),
            sh AS (
              SELECT DISTINCT doc_id, unnest(list_transform(
                range(1, len(ws)-1),
                i -> array_to_string(ws[i:i+2], ' '))) AS shingle
              FROM w),
            sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2)"""

# shared by the quality_score and corpus_pipeline oracles
_QUALITY_EXPR = """round((
                (CASE WHEN nc >= 50 AND nc <= 20000 THEN 1.0 ELSE 0.0 END) +
                (CASE WHEN np / greatest(nw, 1) <= 0.3
                      THEN 1.0 - np / greatest(nw, 1) ELSE 0.0 END) +
                least(sh * 4.0 / greatest(nw, 1), 1.0) +
                (CASE WHEN nc / greatest(nw, 1) >= 3 AND nc / greatest(nw, 1) <= 12
                      THEN 1.0 ELSE 0.0 END)
              ) / 4, 4)"""


def _quality_m_cte(stop_hits_en: str, extra_cols: str = "") -> str:
    return f"""m AS (
              SELECT d.doc_id,{extra_cols} length(d.text) AS nc,
                (CASE WHEN length(trim(d.text)) = 0 THEN 0 ELSE len(w.ws) END) AS nw,
                len(regexp_extract_all(d.text, '[.,;:!?]')) AS np,
                {stop_hits_en} AS sh
              FROM documents d JOIN w ON w.doc_id = d.doc_id)"""


# first-7-hex-chars-of-md5 -> 28-bit integer (mirrors
# conv(substring(md5(s),1,7),16,10) in operators/dedup._minhash_sig)
_HEX7 = ("list_reduce(list_transform(range(1, 8), i -> "
         "(strpos('0123456789abcdef', substr(md5(s), i, 1)) - 1)::BIGINT), "
         "(a, b) -> a * 16 + b)")


def _minhash_sql() -> str:
    """Full DuckDB mirror of minhash_lsh_pairs (operators/dedup.py:101-133):
    md5-derived shingle hashes, the same LCG-seeded (a,b) permutation
    coefficients folded in as literals, banded md5 buckets, bucket self-join."""
    from goscrape_spark.operators.dedup import _MERSENNE_P, _lcg

    num_perm, bands, seed = 32, 8, 42
    r = num_perm // bands
    rnd = _lcg(seed)
    coeffs = [((next(rnd) & 0x7FFFFFFF) | 1, next(rnd) & 0x7FFFFFFF)
              for _ in range(num_perm)]
    sig_exprs = ", ".join(
        f"list_min(list_transform(hs, h -> (h * {a} + {b}) % {_MERSENNE_P}))"
        for a, b in coeffs)
    return f"""
WITH {_SQL_AUG},
w AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
  FROM aug),
sh AS (
  SELECT doc_id AS id, list_distinct(
    CASE WHEN len(ws) - 2 <= 0 THEN [array_to_string(ws, ' ')]
         ELSE list_transform(range(1, len(ws) - 1),
                             i -> array_to_string(ws[i:i+2], ' ')) END) AS shs
  FROM w),
hh AS (SELECT id, list_transform(shs, s -> {_HEX7}) AS hs FROM sh),
sigs AS (SELECT id, [{sig_exprs}] AS sig FROM hh),
banded AS (
  SELECT id, b AS band,
         md5(b::VARCHAR || '_' || array_to_string(
           list_transform(sig[b*{r}+1 : b*{r}+{r}], x -> x::VARCHAR), ','))
           AS bucket
  FROM sigs, (SELECT unnest(range({bands})) AS b))
SELECT DISTINCT a.id AS id1, b.id AS id2
FROM banded a JOIN banded b
  ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id"""


def _simhash_ctes(src: str) -> str:
    """Composable CTE chain ending in ``sims(id, simhash)``: the SimHash
    signature mirror over an arbitrary (doc_id, text) source
    (operators/dedup._simhash_batch semantics: md5 first 8 bytes
    big-endian, per-bit +-1 sums, sign -> bit)."""
    return r"""w AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
  FROM """ + src + r"""),
th AS (
  SELECT doc_id, list_transform(ws, t -> struct_pack(
    hi := list_reduce(list_transform(range(1, 9),
      i -> (strpos('0123456789abcdef', substr(md5(t), i, 1)) - 1)::BIGINT),
      (a, b) -> a * 16 + b),
    lo := list_reduce(list_transform(range(9, 17),
      i -> (strpos('0123456789abcdef', substr(md5(t), i, 1)) - 1)::BIGINT),
      (a, b) -> a * 16 + b))) AS hs
  FROM w),
bits AS (
  SELECT doc_id, b,
    list_sum(list_transform(hs, h -> CASE WHEN
      (CASE WHEN b < 32 THEN (h.lo >> b) ELSE (h.hi >> (b - 32)) END) & 1 = 1
      THEN 1 ELSE -1 END)) AS s
  FROM th, (SELECT unnest(range(64)) AS b)),
sims AS (
  SELECT doc_id AS id,
    (sum(CASE WHEN s > 0 AND b < 63 THEN (1::BIGINT << b) ELSE 0 END)
     - sum(CASE WHEN s > 0 AND b = 63 THEN 9223372036854775807 ELSE 0 END)
     - sum(CASE WHEN s > 0 AND b = 63 THEN 1 ELSE 0 END))::BIGINT AS simhash
  FROM bits GROUP BY doc_id)"""


_SIMHASH_SQL = ("WITH " + _simhash_ctes("documents") +
                " SELECT id, simhash FROM sims")


def _simhash_pairs_sql() -> str:
    """Mirror of q_simhash_pairs: signatures over documents ∪ an exact
    copy at doc_id+2000, pigeonhole 16-bit chunk banding, bucket
    self-join, bit_count verify (operators/dedup.simhash_near_pairs;
    arithmetic >> matches Spark's shiftright sign extension)."""
    return ("WITH src AS (SELECT doc_id, text FROM documents "
            "UNION ALL SELECT doc_id + 2000, text FROM documents), " +
            _simhash_ctes("src") + """,
chunks AS (
  SELECT id, simhash, k, (simhash >> (k * 16)) & 65535 AS chunk
  FROM sims, (SELECT unnest(range(4)) AS k)),
cand AS (
  SELECT DISTINCT a.id AS id1, b.id AS id2,
         a.simhash AS s1, b.simhash AS s2
  FROM chunks a JOIN chunks b
    ON a.k = b.k AND a.chunk = b.chunk AND a.id < b.id)
SELECT id1, id2, bit_count(xor(s1, s2))::INT AS hamming
FROM cand WHERE bit_count(xor(s1, s2)) <= 3""")


def _ann_sql() -> str:
    """Mirror of ann_topk_lsh at probe_radius=1: the deterministic
    hyperplanes are folded in as double literals; a candidate qualifies
    when its sign-bit vector is within Hamming distance 1 of the query's."""
    from goscrape_spark.operators.similarity import _hyperplane

    n_planes, dim, seed = 4, 64, 42
    lits = ["[" + ", ".join(repr(x) for x in _hyperplane(seed, p, dim)) +
            "]::DOUBLE[]" for p in range(n_planes)]
    ebits = ", ".join(
        f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {lit}) >= 0 "
        f"THEN 1 ELSE 0 END) AS b{p}" for p, lit in enumerate(lits))
    qbits = ", ".join(
        f"(CASE WHEN list_dot_product(qe, {lit}) >= 0 "
        f"THEN 1 ELSE 0 END) AS q{p}" for p, lit in enumerate(lits))
    ham = " + ".join(f"abs(b{p} - q{p})" for p in range(n_planes))
    return f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v, {ebits} FROM embeddings),
qb AS (SELECT qe, {qbits} FROM q),
cand AS (SELECT vec_id, v, qe FROM e, qb WHERE {ham} <= 1),
scored AS (
  SELECT vec_id, round(list_dot_product(v, qe) /
    (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qe, qe))), 6) AS s
  FROM cand)
SELECT vec_id, round(s, 4) AS cosine_sim
FROM scored ORDER BY s DESC, vec_id LIMIT 10"""


def _ivf_sql() -> str:
    """Mirror of q_ivf_topk over the fixed deterministic centroids:
    argmax-cosine cell assignment (ties -> lowest cell id), probe the 3
    query-nearest cells, exact rank within them."""
    from goscrape_spark.operators.similarity import fixed_centroids

    cents = fixed_centroids(8, 64)
    values = ", ".join(
        "(" + str(cid) + ", [" + ", ".join(repr(x) for x in c) +
        "]::DOUBLE[])" for cid, c in enumerate(cents))
    cos = ("list_dot_product({v}, c) / "
           "(sqrt(list_dot_product({v}, {v})) * sqrt(list_dot_product(c, c)))")
    return f"""
WITH cents(cid, c) AS (VALUES {values}),
q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
probe AS (
  SELECT cid FROM (
    SELECT cid, row_number() OVER (
      ORDER BY {cos.format(v='qe')} DESC, cid) AS rn
    FROM cents, q) WHERE rn <= 3),
assign AS (
  SELECT vec_id, v FROM (
    SELECT vec_id, embedding::DOUBLE[] AS v, cid,
      row_number() OVER (PARTITION BY vec_id
        ORDER BY {cos.format(v='embedding::DOUBLE[]')} DESC, cid) AS rn
    FROM embeddings, cents) t
  WHERE rn = 1 AND cid IN (SELECT cid FROM probe)),
scored AS (
  SELECT vec_id, round(list_dot_product(v, qe) /
    (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qe, qe))), 6) AS s
  FROM assign, q)
SELECT vec_id, round(s, 4) AS cosine_sim
FROM scored ORDER BY s DESC, vec_id LIMIT 10"""


def _golden_values_sql(rows: list[tuple], cols: str) -> str:
    def lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        return str(v)
    vals = ", ".join("(" + ", ".join(lit(x) for x in r) + ")" for r in rows)
    return f"SELECT * FROM (VALUES {vals}) AS t({cols})"


def _media_features_sql() -> str:
    """Golden-VALUES oracle for q_media_features.

    The fake decode chain is fully deterministic (blake2b hash chain,
    multimodal._fake_feature) but blake2b is not expressible in DuckDB SQL —
    so the expected rows are computed driver-side in plain Python over the
    SAME parquet the driver's sf0.01 compare reads, and shipped as a VALUES
    table exactly like rewrite_math's golden oracle.  kind comes from the
    F11 magic-byte sniffer's Python mirror (pytest-proven equal to the
    column expression), and the feature digest replays Spark's
    format_number(float32, 4) rendering (all features are exact 4-decimal
    rationals k/10000, so the float32 round-trip is rendering-stable)."""
    import hashlib
    import os

    import numpy as np
    import pyarrow.parquet as pq

    from goscrape_spark.functions.filetype import sniff_extension
    from goscrape_spark.operators.multimodal import _fake_feature

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
    t = pq.read_table(f"{sf_dir}/documents.parquet",
                      columns=["doc_id", "text"])
    image = {"jpg", "png", "gif", "webp", "bmp", "tif", "ico", "psd"}
    audio = {"mp3", "ogg", "wav", "flac", "mid", "amr", "aiff"}
    video = {"mp4", "webm", "avi", "flv", "mpg", "wmv"}
    rows = []
    for did, text in zip(t.column("doc_id").to_pylist(),
                         t.column("text").to_pylist()):
        raw = (text or "").encode("utf-8")
        ext = sniff_extension(raw)
        kind = ("image" if ext in image else "audio" if ext in audio
                else "video" if ext in video else "binary")
        feat = _fake_feature(raw, 8)
        s = ",".join(f"{float(np.float32(v)):.4f}" for v in feat)
        rows.append((f"doc://{did}", kind, len(raw),
                     hashlib.md5(s.encode()).hexdigest(), "fake"))
    return _golden_values_sql(
        rows, "media_id, kind, n_bytes, feature_md5, decode_status")


def _image_features_real_sql() -> str:
    """Golden-VALUES oracle for q_image_features_real: the expected rows are
    recomputed driver-side in plain Python over the SAME deterministic
    payloads (_real_image_payloads), replaying the pixel-statistics math and
    Spark's format_number(float32, 4) rendering like _media_features_sql."""
    import hashlib

    import numpy as np

    from goscrape_spark.functions.filetype import sniff_extension
    from goscrape_spark.operators.multimodal import (
        _fake_feature,
        _image_feature,
    )

    # Payload 5's expected feature is HAND-COMPUTED from the feature-layout
    # spec, independent of _image_feature/_image codec code, so the oracle
    # can catch errors in the codec/feature math itself (not just Spark
    # plumbing): constant (60,120,240) 8x8 image -> mean RGB/255 =
    # (60,120,240)/255, std = 0, h = w = 8, and the 4-bin luminance
    # histogram puts all 64 px in bin 1 (lum = .299*60+.587*120+.114*240
    # = 115.74, bin width 256/4 = 64).
    hand = {5: ("0.2353,0.4706,0.9412,0.0000,0.0000,0.0000,"
                "8.0000,8.0000,0.0000,1.0000,0.0000,0.0000")}
    image = {"jpg", "png", "gif", "webp", "bmp", "tif", "ico", "psd"}
    rows = []
    for i, raw in _real_image_payloads():
        kind = "image" if sniff_extension(raw) in image else "binary"
        if i in hand:
            rows.append((f"img://{i}", kind, len(raw),
                         hashlib.md5(hand[i].encode()).hexdigest(), "real"))
            continue
        feat, status = None, "stub"
        if kind == "image":
            feat = _image_feature(raw, 12)
            status = "real" if feat is not None else "undecodable"
        if feat is None:
            feat = _fake_feature(raw, 12)
        s = ",".join(f"{float(np.float32(v)):.4f}" for v in feat)
        rows.append((f"img://{i}", kind, len(raw),
                     hashlib.md5(s.encode()).hexdigest(), status))
    return _golden_values_sql(
        rows, "media_id, kind, n_bytes, feature_md5, decode_status")


def _audio_features_real_sql() -> str:
    """Golden-VALUES oracle for q_audio_features_real.  Rows 0/1 are
    HAND-COMPUTED from the feature-layout spec (independent of the codec
    and _audio_feature, so errors in the signal math itself are caught):

    * payload 0 — constant 0.5, 1 s @ 8 kHz: duration 1, rate 8 kHz,
      RMS 0.5, zero crossings 0, centroid 0 (all energy at DC), bands
      [1,0,...,0];
    * payload 1 — alternating +-0.5 @ 8 kHz: RMS 0.5, zcr 1 (every
      adjacent pair flips sign), centroid 1.0 (all energy at Nyquist),
      bands [0,...,0,1].

    Remaining rows replay the driver-side math like the image oracle."""
    import hashlib

    import numpy as np

    from goscrape_spark.functions.filetype import sniff_extension
    from goscrape_spark.operators.multimodal import (
        _audio_feature,
        _fake_feature,
    )

    hand = {0: ("1.0000,8.0000,0.5000,0.0000,0.0000,1.0000,0.0000,"
                "0.0000,0.0000,0.0000,0.0000,0.0000"),
            1: ("1.0000,8.0000,0.5000,1.0000,1.0000,0.0000,0.0000,"
                "0.0000,0.0000,0.0000,0.0000,1.0000")}
    audio = {"mp3", "ogg", "wav", "flac", "mid", "amr", "aiff"}
    rows = []
    for i, raw in _real_audio_payloads():
        kind = "audio" if sniff_extension(raw) in audio else "binary"
        if i in hand:
            rows.append((f"aud://{i}", kind, len(raw),
                         hashlib.md5(hand[i].encode()).hexdigest(), "real"))
            continue
        feat, status = None, "stub"
        if kind == "audio":
            feat = _audio_feature(raw, 12)
            status = "real" if feat is not None else "undecodable"
        if feat is None:
            feat = _fake_feature(raw, 12)
        s = ",".join(f"{float(np.float32(v)):.4f}" for v in feat)
        rows.append((f"aud://{i}", kind, len(raw),
                     hashlib.md5(s.encode()).hexdigest(), status))
    return _golden_values_sql(
        rows, "media_id, kind, n_bytes, feature_md5, decode_status")


def _video_frames_real_sql() -> str:
    """Golden-VALUES oracle for q_video_frames_real.  The (vid://0, ts 0)
    row is HAND-COMPUTED, independent of the codecs: frame 0 is constant
    RGB 128, which round-trips JPEG bit-exactly (every 8x8 block is
    DC-only and the level shift puts that DC at zero), so mean luminance
    = 128*(0.299+0.587+0.114) = 128.0 exactly -> '128.0000', 16x16,
    frame_idx 0, status real.  Remaining rows replay the driver-side
    math like the image/audio oracles."""
    from goscrape_spark.functions.avicodec import avi_mjpeg_decode
    from goscrape_spark.functions.imagecodec import jpeg_decode

    import numpy as np

    rows = [("vid://0", 0, 0, 16, 16, "128.0000", "real")]   # hand row
    for i, raw in _real_video_payloads():
        dec = avi_mjpeg_decode(raw)
        if dec is None or dec[1] <= 0:
            rows.append((f"vid://{i}", 0, None, None, None, None,
                         "undecodable"))
            continue
        frames, usec = dec
        # same sampled-timestamp bound as the operator (multimodal.py) —
        # fixture payloads sit far below it, so no oracle rows change
        from goscrape_spark.operators.multimodal import MAX_VIDEO_SAMPLES
        dur_ms = min(len(frames) * usec // 1000, MAX_VIDEO_SAMPLES * 600)
        for ts in range(0, max(dur_ms, 1), 600):
            if i == 0 and ts == 0:
                continue                                     # hand row
            idx = min(ts * 1000 // usec, len(frames) - 1)
            img = jpeg_decode(frames[idx])
            lum = img.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
            rows.append((f"vid://{i}", ts, idx, img.shape[0], img.shape[1],
                         f"{float(lum.mean()):.4f}", "real"))  # double col
    return _golden_values_sql(
        rows, "media_id, ts_ms, frame_idx, height, width, mean_lum_s, "
              "decode_status")


def _corpus_pipeline_sql(stop_hits_en: str) -> str:
    """Mirror of q_corpus_pipeline: the same quality CTE as the
    quality_score oracle, QUALIFY keep-first dedup, hex-bucket sample."""
    from goscrape_spark.operators.sampling import rate_threshold_hex

    en, dft = rate_threshold_hex(0.5), rate_threshold_hex(0.25)
    return f"""
        WITH {_SQL_WORDS}, {_quality_m_cte(stop_hits_en, " d.lang, d.text,")},
        scored AS (
          SELECT doc_id, lang, text, {_QUALITY_EXPR} AS quality
          FROM m),
        filtered AS (SELECT * FROM scored WHERE quality >= 0.5),
        kept AS (
          SELECT * FROM filtered
          QUALIFY row_number() OVER (PARTITION BY md5(text)
                                     ORDER BY doc_id) = 1)
        SELECT doc_id, lang, quality FROM kept
        WHERE substr(md5(doc_id::VARCHAR), 1, 8) <
          CASE lang WHEN 'en' THEN '{en}' ELSE '{dft}' END"""


def _stratified_sample_sql() -> str:
    """Mirror of q_stratified_sample: the 8-hex-char md5 bucket compares
    identically as a string in both engines (fixed-width lowercase hex
    orders numerically)."""
    from goscrape_spark.operators.sampling import rate_threshold_hex

    en, es = rate_threshold_hex(0.5), rate_threshold_hex(0.25)
    dft = rate_threshold_hex(0.1)
    return f"""
        SELECT doc_id, lang FROM documents
        WHERE substr(md5(doc_id::VARCHAR), 1, 8) <
          CASE lang WHEN 'en' THEN '{en}' WHEN 'es' THEN '{es}'
               ELSE '{dft}' END"""


def oracle_sql() -> dict[str, str]:
    stop_hits = {lang: (f"len(list_filter(ws, w -> list_contains("
                        f"{_sql_list(ws)}, w)))")
                 for lang, ws in _STOPS.items()}
    lang_case = f"""
      CASE WHEN greatest(h_en, h_es, h_de, h_fr) = 0 THEN 'und'
           WHEN h_en >= h_es AND h_en >= h_de AND h_en >= h_fr THEN 'en'
           WHEN h_es >= h_de AND h_es >= h_fr THEN 'es'
           WHEN h_de >= h_fr THEN 'de'
           ELSE 'fr' END"""

    return {
        "urlnorm_dedup_key": f"WITH {_SQL_PARSED} "
            "SELECT doc_id, n_chars, url_no_frag, host, path, dedup_key FROM keyed",

        "admission_first_wins": f"WITH {_SQL_PARSED} "
            "SELECT dedup_key, doc_id AS winner_doc FROM ("
            "  SELECT dedup_key, doc_id, row_number() OVER ("
            "    PARTITION BY dedup_key ORDER BY doc_id) rn FROM keyed) "
            "WHERE rn = 1",

        "seen_anti_join": f"WITH {_SQL_PARSED}, "
            "winners AS (SELECT dedup_key, doc_id FROM ("
            "  SELECT dedup_key, doc_id, row_number() OVER ("
            "    PARTITION BY dedup_key ORDER BY doc_id) rn FROM keyed) WHERE rn=1), "
            "seen AS (SELECT DISTINCT dedup_key FROM keyed WHERE doc_id < 100) "
            "SELECT w.dedup_key, w.doc_id AS winner_doc FROM winners w "
            "WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.dedup_key = w.dedup_key)",

        "frontier_seq": f"WITH {_SQL_PARSED}, "
            "winners AS (SELECT dedup_key, doc_id FROM ("
            "  SELECT dedup_key, doc_id, row_number() OVER ("
            "    PARTITION BY dedup_key ORDER BY doc_id) rn FROM keyed) WHERE rn=1) "
            "SELECT w.dedup_key, (w.doc_id % 4)::INT AS depth, k.host, "
            "  row_number() OVER (ORDER BY (w.doc_id % 4), k.host, w.dedup_key)::BIGINT AS seq "
            "FROM winners w JOIN keyed k ON k.doc_id = w.doc_id",

        "per_host_metrics": f"WITH {_SQL_PARSED} "
            "SELECT host, count(*)::BIGINT AS n_urls, "
            "  sum(n_chars)::BIGINT AS total_chars FROM keyed GROUP BY host",

        "page_file_path": f"WITH {_SQL_PARSED} "
            "SELECT doc_id, path, "
            "  CASE WHEN path = '' OR path = '/' THEN 'index.html' "
            "       WHEN path LIKE '%/' THEN path || 'index.html' "
            "       WHEN NOT regexp_matches(path, '\\.[^/]*$') THEN path || '.html' "
            "       ELSE path END AS file_path FROM keyed",

        "retry_backoff": """
            SELECT event_id,
              (CASE WHEN event_id % 13 <= 10 THEN (event_id % 13) + 1
                    ELSE 11 END)::INT AS attempts,
              CASE WHEN event_id % 13 <= 10 THEN 'ok' ELSE 'exhausted' END AS status,
              (((CASE WHEN event_id % 13 <= 10 THEN (event_id % 13) + 1 ELSE 11 END) - 1)
               * (CASE WHEN event_id % 13 <= 10 THEN (event_id % 13) + 1 ELSE 11 END)
               / 2)::BIGINT * 1500 AS backoff_ms
            FROM events""",

        "politeness_schedule": """
            SELECT event_id, event_type AS host,
              ((row_number() OVER (PARTITION BY event_type ORDER BY event_id)) - 1)::BIGINT
              * 1500 AS not_before_ms
            FROM events""",

        "sorted_refs": f"WITH {_SQL_WORDS} "
            "SELECT DISTINCT doc_id, unnest(ws) AS ref FROM w",

        "robots_filter": f"WITH {_SQL_PARSED} "
            "SELECT doc_id, host, path FROM keyed "
            "WHERE NOT (host <> 'cdn.external.net' AND path LIKE '/c1%')",

        # RFC 9309 matcher: the rule regexes below are HAND-WRITTEN from
        # _ROBOTS_RFC_TXT (not generated by functions.robotstxt.rule_regex),
        # so the oracle independently checks the pattern->regex translation
        # and the longest-match/allow-tie verdict logic.  Specificity key:
        # rule_len*2 + is_allow == the lexicographic (rule_len, is_allow)
        # struct max the Spark side takes.
        "robots_rfc_match": f"""WITH {_SQL_PARSED},
            rrules AS (
              SELECT DISTINCT k.host, r.* FROM keyed k,
                (VALUES (FALSE, '^/c1',          3),
                        (TRUE,  '^/c1/doc-2.*', 10),
                        (FALSE, '^/.*doc-7$',    8),
                        (TRUE,  '^/c12',         4))
                 r(is_allow, regex, rule_len)
              WHERE k.host <> 'cdn.external.net'),
            verdicts AS (
              SELECT k.host, k.path,
                     max_by(r.is_allow,
                            r.rule_len * 2 + CAST(r.is_allow AS INT))
                       AS allow
              FROM (SELECT DISTINCT host, path FROM keyed) k
              JOIN rrules r ON r.host = k.host
                           AND regexp_matches(k.path, r.regex)
              GROUP BY k.host, k.path)
            SELECT k.doc_id, k.host, k.path FROM keyed k
            LEFT JOIN verdicts v ON v.host = k.host AND v.path = k.path
            WHERE v.allow IS NULL OR v.allow""",

        "exact_dedup": """
            SELECT md5(text) AS text_hash, min(doc_id) AS rep_id,
                   count(*)::BIGINT AS dup_count
            FROM documents GROUP BY md5(text)""",

        "token_counts": """
            SELECT doc_id,
              (CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(string_split_regex(lower(trim(text)), '\\s+')) END)::BIGINT AS n_ws,
              len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-zA-Z0-9\\s]'))::BIGINT AS n_bpe
            FROM documents""",

        "lang_id": f"WITH {_SQL_WORDS}, hits AS (SELECT doc_id, "
            f"{stop_hits['en']} AS h_en, {stop_hits['es']} AS h_es, "
            f"{stop_hits['de']} AS h_de, {stop_hits['fr']} AS h_fr FROM w) "
            f"SELECT doc_id, {lang_case} AS lang_pred FROM hits",

        "quality_score": f"""
            WITH {_SQL_WORDS}, {_quality_m_cte(stop_hits['en'])}
            SELECT doc_id, {_QUALITY_EXPR} AS quality
            FROM m""",

        "fingerprint": f"WITH {_SQL_WORDS} "
            "SELECT doc_id, list_min(list_transform(range(1, len(ws)-1), "
            "  i -> md5(array_to_string(ws[i:i+2], ' ')))) AS fp FROM w",

        "ngram_jaccard": f"""
            WITH {_SQL_AUG},{_NGRAM_CTES}
            SELECT id1, id2,
              round(i / (sa.sz + sb.sz - i), 4) AS jaccard
            FROM inter JOIN sizes sa ON sa.doc_id = id1
                       JOIN sizes sb ON sb.doc_id = id2
            WHERE round(i / (sa.sz + sb.sz - i), 4) >= 0.2""",

        "minhash_lsh": _minhash_sql(),

        "simhash": _SIMHASH_SQL,

        "simhash_pairs": _simhash_pairs_sql(),

        "video_frames": """
            WITH m AS (
              SELECT 'vid://' || doc_id::VARCHAR AS media_id,
                     ((doc_id % 13) * 337)::INT AS duration_ms
              FROM documents)
            SELECT media_id,
                   unnest(generate_series(0, greatest(duration_ms - 1, 0),
                                          250)) AS ts_ms,
                   md5(media_id || '@' || duration_ms::VARCHAR) AS frame_key
            FROM m""",

        "ann_lsh_topk": _ann_sql(),

        "ivf_topk": _ivf_sql(),

        "rewrite_math": _golden_values_sql(
            [(c, e) for c, _, _, _, _, e in _RESOLVE_CASES],
            "case_id, resolved"),

        "file_path_math": _golden_values_sql(
            [(c, e) for c, _, _, e in _FILE_PATH_CASES],
            "case_id, file_path"),

        "crawl_fixture": _golden_values_sql(
            [("/",), ("/page2",), ("/sub",), ("/style.css",)], "dedup_key"),

        "media_features": _media_features_sql(),

        "image_features_real": _image_features_real_sql(),
        "audio_features_real": _audio_features_real_sql(),
        "video_frames_real": _video_frames_real_sql(),

        "srcset_math": _golden_values_sql(
            [(c, cand, rw) for c, _, cand, rw in _SRCSET_CASES],
            "case_id, candidates, rewritten"),

        "sitemap_extract": _golden_values_sql(
            _SITEMAP_EXPECT, "case_id, ord, loc, is_index"),

        "css_extract": _golden_values_sql(
            _CSS_EXTRACT_EXPECT, "case_id, ord, resolved"),

        # transitive closure of the ngram near-dup pair graph; min
        # reachable id = cluster representative (mirrors min-label
        # propagation's fixpoint)
        "dedup_clusters": f"""
            WITH RECURSIVE {_SQL_AUG},{_NGRAM_CTES},
            pairs AS (
              SELECT id1, id2
              FROM inter JOIN sizes sa ON sa.doc_id = id1
                         JOIN sizes sb ON sb.doc_id = id2
              WHERE round(i / (sa.sz + sb.sz - i), 4) >= 0.2),
            edges AS (
              SELECT id1 AS a, id2 AS b FROM pairs
              UNION SELECT id2, id1 FROM pairs),
            reach(node, label) AS (
              SELECT DISTINCT a, a FROM edges
              UNION
              SELECT e.a, r.label FROM edges e JOIN reach r ON r.node = e.b)
            SELECT node AS doc_id, min(label) AS cluster_id
            FROM reach GROUP BY node""",

        "stratified_sample": _stratified_sample_sql(),

        "corpus_pipeline": _corpus_pipeline_sql(stop_hits["en"]),

        "cosine_topk": """
            WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
            scored AS (
              SELECT vec_id,
                list_dot_product(embedding::DOUBLE[], qe) /
                (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
                 sqrt(list_dot_product(qe, qe))) AS s
              FROM embeddings, q)
            SELECT vec_id, round(round(s, 6), 4) AS cosine_sim
            FROM scored ORDER BY round(s, 6) DESC, vec_id LIMIT 10""",

        "embedding_near_dup": """
            SELECT a.vec_id AS id1, b.vec_id AS id2,
              round(round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
                (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                 sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6), 4)
              AS cosine_sim
            FROM embeddings a, embeddings b
            WHERE a.vec_id < b.vec_id AND a.vec_id < 200 AND b.vec_id < 200
              AND round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
                (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                 sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6)
                  >= 0.3""",
    }


# ---------------------------------------------------------------------------
# flagship entry
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: epoch-synchronous crawl of a mock web derived from sf0.001
    documents; returns the crawled interleaved span table."""
    from goscrape_spark.config import CrawlConfig
    from goscrape_spark.plans.crawl import crawl

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    host = "corpus.example.com"
    did = F.col("doc_id")
    url = F.when(did == 0, F.lit(f"https://{host}/")) \
           .otherwise(F.concat(F.lit(f"https://{host}/doc/"),
                               did.cast("string")))
    children = F.filter(
        F.sequence(did * 4 + 1, did * 4 + 4),
        lambda c: c < F.lit(500))
    links = F.array_join(F.transform(
        children, lambda c: F.concat(F.lit('<a href="/doc/'),
                                     c.cast("string"), F.lit('">d</a>'))), "\n")
    img = F.concat(F.lit('<img src="/img/'), (did % 50).cast("string"),
                   F.lit('.png">'))
    body = F.concat(F.lit("<html><body><p>"), F.col("text"),
                    F.lit("</p>\n"), img, F.lit("\n"), links,
                    F.lit("</body></html>"))
    pages = docs.select(url.alias("url"), F.encode(body, "utf-8").alias("body"),
                        F.lit(None).cast("string").alias("resp_url"),
                        F.lit(0).alias("retry_after"))
    imgs = spark.range(50).select(
        F.concat(F.lit(f"https://{host}/img/"), F.col("id").cast("string"),
                 F.lit(".png")).alias("url"),
        F.encode(F.lit("\x89PNGfake"), "utf-8").alias("body"),
        F.lit(None).cast("string").alias("resp_url"),
        F.lit(0).alias("retry_after"))

    res = crawl(spark, CrawlConfig(url=f"https://{host}/", max_depth=3),
                pages.unionByName(imgs))
    return res.documents.select("url", "kind", "text", "media_ref", "offset",
                                "depth", "epoch")

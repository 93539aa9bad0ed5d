"""Reference-parity analytics queries over the flat testdata tables.

Each entry re-expresses one operator family from SURVEY.md §2 (citations
into /root/reference inline) as an idiomatic Catalyst plan, paired with a
DuckDB oracle SQL string. The pair is the correctness contract the driver
checks (CORRECTNESS_r{N}.json): identical column names, schema, and
values.

Cross-engine determinism rules used throughout (see tests/test_queries_oracle.py):
- integer aggregates everywhere possible (counts, integer-valued double sums);
- double outputs only from a fixed expression tree evaluated identically
  by both engines (single divisions, no reassociated reductions), or
  md5-derived integers via conv(hex,16,10) == ('0x'||hex)::BIGINT;
- every computed column explicitly aliased to the same name on both sides;
- regexes restricted to the RE2 ∩ Java-regex common subset (no lookahead).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def words_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text tokenized on single spaces (X2, WordCounterMap.java:39-47)."""
    return (t(spark, sf_dir, "documents")
            .select("doc_id", "lang", "source",
                    F.explode(F.split("text", " ")).alias("word"))
            .filter(F.col("word") != ""))


WORDS_SQL = ("SELECT doc_id, lang, source, unnest(string_split(text, ' ')) AS word "
             "FROM documents")
WORDS_NONEMPTY = f"SELECT * FROM ({WORDS_SQL}) WHERE word <> ''"

# tag regex without lookahead (RE2-safe twin of TagCounterMap.java:27):
# first char of the tag name may not be '/', whitespace or '>'.
TAG_RE = r"<([^\s>/][^\s>]*)[^>]*>"

# ---------------------------------------------------------------------------
# A1/X2 — word count (WETWordCount.java:40-75)
# ---------------------------------------------------------------------------


def q_word_count(spark, sf_dir):
    return (words_df(spark, sf_dir)
            .groupBy("word").agg(F.count(F.lit(1)).alias("cnt")))


SQL_WORD_COUNT = (f"SELECT word, CAST(count(*) AS BIGINT) AS cnt "
                  f"FROM ({WORDS_NONEMPTY}) GROUP BY word")

# ---------------------------------------------------------------------------
# A7/A9 — frequency-sorted top-K (Statistics.java:127-158, NgamFeatureSelection top-K)
# ---------------------------------------------------------------------------


def q_top_words(spark, sf_dir):
    return (q_word_count(spark, sf_dir)
            .orderBy(F.col("cnt").desc(), F.col("word").asc()).limit(100))


SQL_TOP_WORDS = f"SELECT * FROM ({SQL_WORD_COUNT}) ORDER BY cnt DESC, word ASC LIMIT 100"

# ---------------------------------------------------------------------------
# A8 — low-frequency pruning (NGramAnalyzer.java:46-60: count >= 100)
# ---------------------------------------------------------------------------


def q_word_count_min100(spark, sf_dir):
    return q_word_count(spark, sf_dir).filter(F.col("cnt") >= 100)


SQL_WORD_COUNT_MIN100 = f"SELECT * FROM ({SQL_WORD_COUNT}) WHERE cnt >= 100"

# ---------------------------------------------------------------------------
# X1/A1 — tag count (TagCounterMap.java:54-60 + WARCTagCounter reduce), on
# HTML synthesized deterministically from the text column.
# ---------------------------------------------------------------------------


def q_tag_count(spark, sf_dir):
    html = F.concat(F.lit("<"), F.regexp_replace("text", " ", "><"), F.lit(">"))
    return (t(spark, sf_dir, "documents")
            .select(F.explode(
                F.regexp_extract_all(html, F.lit(TAG_RE), 1)).alias("tag"))
            .select(F.lower("tag").alias("tag"))
            .groupBy("tag").agg(F.count(F.lit(1)).alias("cnt")))


SQL_TAG_COUNT = (
    "SELECT lower(tag) AS tag, CAST(count(*) AS BIGINT) AS cnt FROM ("
    "  SELECT unnest(regexp_extract_all("
    "    concat('<', replace(text, ' ', '><'), '>'), '" + TAG_RE + "', 1)) AS tag"
    "  FROM documents) GROUP BY lower(tag)")

# ---------------------------------------------------------------------------
# X4/A1 — JSON field extraction + count (ServerTypeMap.java:37-47,
# WATServerType.java:66-67): 'Server' header analog = props.k
# ---------------------------------------------------------------------------


def q_server_count(spark, sf_dir):
    return (t(spark, sf_dir, "events")
            .select(F.get_json_object("props", "$.k").alias("server"))
            .filter(F.col("server").isNotNull())
            .groupBy("server").agg(F.count(F.lit(1)).alias("cnt")))


SQL_SERVER_COUNT = (
    "SELECT server, CAST(count(*) AS BIGINT) AS cnt FROM ("
    "  SELECT json_extract_string(props, '$.k') AS server FROM events)"
    " WHERE server IS NOT NULL GROUP BY server")

# ---------------------------------------------------------------------------
# A4/A5 — per-host frequency multisets (Statistics.java:62-95): two-key
# distribution source × lang
# ---------------------------------------------------------------------------


def q_source_lang_freq(spark, sf_dir):
    return (t(spark, sf_dir, "documents")
            .groupBy("source", "lang").agg(F.count(F.lit(1)).alias("cnt")))


SQL_SOURCE_LANG_FREQ = ("SELECT source, lang, CAST(count(*) AS BIGINT) AS cnt "
                        "FROM documents GROUP BY source, lang")

# ---------------------------------------------------------------------------
# A3 — first-wins dedup by key, deterministic (MediaReduce.java:12-19; the
# engine's batch_dedup twin on relational data)
# ---------------------------------------------------------------------------


def q_first_wins_dedup(spark, sf_dir):
    # (l_orderkey, l_linenumber) is NOT unique in the testdata — the order
    # must be total or the two engines pick different winners (A3's
    # "deterministic first" lesson, same as the crawl's lineage tiebreak)
    w = Window.partitionBy("l_orderkey").orderBy(
        F.col("l_linenumber").asc(), F.col("l_partkey").asc(),
        F.col("l_suppkey").asc(), F.col("l_extendedprice").asc(),
        F.col("l_quantity").asc())
    return (t(spark, sf_dir, "lineitem")
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("l_orderkey", "l_partkey", "l_quantity"))


SQL_FIRST_WINS_DEDUP = (
    "SELECT l_orderkey, l_partkey, l_quantity FROM ("
    "  SELECT *, row_number() OVER (PARTITION BY l_orderkey"
    "    ORDER BY l_linenumber ASC, l_partkey ASC, l_suppkey ASC,"
    "             l_extendedprice ASC, l_quantity ASC) AS _rn"
    "  FROM lineitem) WHERE _rn = 1")

# ---------------------------------------------------------------------------
# A1/A2 — sum-by-key with partial aggregation (WARCTagCounter.java:45,63-67;
# map-side combine = HashAggregate partial). Revenue kept exact via integer
# cents: floor(x*100) is the same IEEE double op + truncation on both engines.
# ---------------------------------------------------------------------------


def q_sum_by_key(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100)
    return (li.groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum("l_quantity").cast("bigint").alias("sum_qty"),
                 F.sum(cents).cast("bigint").alias("revenue_cents"),
                 F.count(F.lit(1)).alias("n_rows")))


SQL_SUM_BY_KEY = (
    "SELECT l_returnflag, l_linestatus,"
    " CAST(sum(l_quantity) AS BIGINT) AS sum_qty,"
    " CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT)"
    "   AS revenue_cents,"
    " CAST(count(*) AS BIGINT) AS n_rows"
    " FROM lineitem GROUP BY l_returnflag, l_linestatus")

# ---------------------------------------------------------------------------
# A9 — top-K per key window (NgamFeatureSelection.java:124-141 per-class cut)
# ---------------------------------------------------------------------------


def q_topk_per_key(spark, sf_dir):
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (t(spark, sf_dir, "orders")
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 3)
            .select("o_custkey", "o_orderkey", "o_totalprice",
                    F.col("rank").cast("bigint").alias("rank")))


SQL_TOPK_PER_KEY = (
    "SELECT o_custkey, o_orderkey, o_totalprice, CAST(rank AS BIGINT) AS rank FROM ("
    "  SELECT *, row_number() OVER (PARTITION BY o_custkey"
    "    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank FROM orders)"
    " WHERE rank <= 3")

# ---------------------------------------------------------------------------
# A11 — deterministic class-balance sampling (ArffController.java:54-72 /
# NGramAnalyzer.java:85-103 rewritten as the window-function version)
# ---------------------------------------------------------------------------


def q_class_balance(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    min_cnt = (docs.groupBy("lang").agg(F.count(F.lit(1)).alias("c"))
               .agg(F.min("c").alias("m")))
    w = Window.partitionBy("lang").orderBy(F.col("doc_id").asc())
    return (docs.withColumn("_rn", F.row_number().over(w))
            .crossJoin(F.broadcast(min_cnt))
            .filter(F.col("_rn") <= F.col("m"))
            .select("doc_id", "lang"))


SQL_CLASS_BALANCE = (
    "SELECT doc_id, lang FROM ("
    "  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang ORDER BY doc_id ASC) AS _rn"
    "  FROM documents),"
    " (SELECT min(c) AS m FROM (SELECT count(*) AS c FROM documents GROUP BY lang))"
    " WHERE _rn <= m")

# ---------------------------------------------------------------------------
# A10/J4 — discriminative n-gram scoring: big⋈small full-outer count join,
# score = big−small if positive else 50/big (NgamFeatureSelection.java:144-203)
# ---------------------------------------------------------------------------


def q_discriminative_words(spark, sf_dir):
    wdf = words_df(spark, sf_dir)
    big = (wdf.filter(F.col("lang") == "en")
           .groupBy("word").agg(F.count(F.lit(1)).alias("big_cnt")))
    small = (wdf.filter(F.col("lang") != "en")
             .groupBy("word").agg(F.count(F.lit(1)).alias("small_cnt")))
    j = big.join(small, "word", "full_outer")
    bc = F.coalesce("big_cnt", F.lit(0))
    sc = F.coalesce("small_cnt", F.lit(0))
    score = (F.when(bc - sc > 0, bc - sc)
             .when(bc > 0, F.floor(F.lit(50) / bc))
             .otherwise(F.lit(0)))
    return j.select("word", bc.cast("bigint").alias("big_cnt"),
                    sc.cast("bigint").alias("small_cnt"),
                    score.cast("bigint").alias("score"))


SQL_DISCRIMINATIVE_WORDS = (
    "WITH w AS (" + WORDS_NONEMPTY + "),"
    " big AS (SELECT word, count(*) AS c FROM w WHERE lang = 'en' GROUP BY word),"
    " small AS (SELECT word, count(*) AS c FROM w WHERE lang <> 'en' GROUP BY word)"
    " SELECT coalesce(big.word, small.word) AS word,"
    "  CAST(coalesce(big.c, 0) AS BIGINT) AS big_cnt,"
    "  CAST(coalesce(small.c, 0) AS BIGINT) AS small_cnt,"
    "  CAST(CASE WHEN coalesce(big.c, 0) - coalesce(small.c, 0) > 0"
    "        THEN coalesce(big.c, 0) - coalesce(small.c, 0)"
    "        WHEN coalesce(big.c, 0) > 0 THEN floor(50 / coalesce(big.c, 0))"
    "        ELSE 0 END AS BIGINT) AS score"
    " FROM big FULL OUTER JOIN small ON big.word = small.word")

# ---------------------------------------------------------------------------
# A10 containment pruning (NgamFeatureSelection.java:50-142): a capped
# n-gram vocab drops every gram that is a (case-insensitive) substring of
# a LONGER vocab gram, then scores big−small (flat 50 when the gram never
# occurs in the small class; kept only while positive). The vocab is
# capped FIRST (top-V by big frequency) so the containment self-join is a
# broadcast nested-loop over V×V, never corpus-sized.
# ---------------------------------------------------------------------------

_PRUNE_NGRAM_MIN = 3    # NgamFeatureSelection.java:24
_PRUNE_NGRAM_MAX = 5    # NgamFeatureSelection.java:25
_PRUNE_VOCAB_CAP = 300

_GRAMS_SPARK = (
    f"flatten(transform(sequence({_PRUNE_NGRAM_MIN}, {_PRUNE_NGRAM_MAX}),"
    " n -> CASE WHEN length(word) >= n THEN"
    "  transform(sequence(1, length(word) - n + 1),"
    "            i -> lower(substring(word, i, n)))"
    "  ELSE array() END))")

_GRAMS_DUCK = (
    f"flatten(list_transform(generate_series({_PRUNE_NGRAM_MIN}, {_PRUNE_NGRAM_MAX}),"
    " n -> CASE WHEN len(word) >= n THEN"
    "  list_transform(generate_series(1, len(word) - n + 1),"
    "                 i -> lower(substr(word, i, n)))"
    "  ELSE [] END))")


def q_ngram_pruned_vocab(spark, sf_dir):
    # big/small are TWO NAMED frequency sets (the reference reads
    # ngrams_big.txt vs ngrams_small.txt) — here the 'en' and 'fr'
    # slices; pooling ALL other languages as 'small' would drown every
    # big count and make the score filter vacuously empty.
    grams = (words_df(spark, sf_dir)
             .select("lang", F.explode(F.expr(_GRAMS_SPARK)).alias("gram")))
    big = (grams.filter(F.col("lang") == "en")
           .groupBy("gram").agg(F.count(F.lit(1)).alias("c")))
    small = (grams.filter(F.col("lang") == "fr")
             .groupBy("gram").agg(F.count(F.lit(1)).alias("s_c")))
    cap = (big.orderBy(F.col("c").desc(), F.col("gram").asc())
           .limit(_PRUNE_VOCAB_CAP))
    longer = cap.select(F.col("gram").alias("ogram"))
    pruned = cap.join(
        F.broadcast(longer),
        (F.length("ogram") > F.length("gram"))
        & F.expr("contains(ogram, gram)"),
        "left_anti")
    score = (F.when(F.col("s_c").isNull(), F.lit(50))
             .otherwise(F.col("c") - F.col("s_c")))
    return (pruned.join(small, "gram", "left")
            .withColumn("score", score)
            .filter(F.col("score") > 0)
            .select("gram", F.col("c").cast("bigint").alias("big_cnt"),
                    F.coalesce("s_c", F.lit(0)).cast("bigint").alias("small_cnt"),
                    F.col("score").cast("bigint").alias("score")))


SQL_NGRAM_PRUNED_VOCAB = (
    "WITH w AS (" + WORDS_NONEMPTY + "),"
    " grams AS (SELECT lang, unnest(" + _GRAMS_DUCK + ") AS gram FROM w),"
    " big AS (SELECT gram, count(*) AS c FROM grams WHERE lang = 'en'"
    "   GROUP BY gram),"
    " small AS (SELECT gram, count(*) AS s_c FROM grams WHERE lang = 'fr'"
    "   GROUP BY gram),"
    f" cap AS (SELECT gram, c FROM big ORDER BY c DESC, gram ASC"
    f"   LIMIT {_PRUNE_VOCAB_CAP}),"
    " pruned AS (SELECT * FROM cap v WHERE NOT EXISTS ("
    "   SELECT 1 FROM cap o WHERE length(o.gram) > length(v.gram)"
    "   AND contains(o.gram, v.gram)))"
    " SELECT v.gram, CAST(v.c AS BIGINT) AS big_cnt,"
    "  CAST(coalesce(s.s_c, 0) AS BIGINT) AS small_cnt,"
    "  CAST(CASE WHEN s.gram IS NULL THEN 50 ELSE v.c - s.s_c END AS BIGINT)"
    "   AS score"
    " FROM pruned v LEFT JOIN small s USING (gram)"
    " WHERE s.gram IS NULL OR v.c - s.s_c > 0")

# ---------------------------------------------------------------------------
# A12 — job counters (TagCounterMap.java:17-20 enum counters) as one
# aggregate row of condition counts
# ---------------------------------------------------------------------------


def q_counters(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    return d.agg(
        F.count(F.lit(1)).alias("records_in"),
        F.sum(F.when(F.length("text") == 0, 1).otherwise(0)).cast("bigint")
        .alias("empty_text"),
        F.sum(F.when(F.col("lang") != "en", 1).otherwise(0)).cast("bigint")
        .alias("non_en"),
        F.sum(F.when(F.col("n_chars") < 200, 1).otherwise(0)).cast("bigint")
        .alias("short_docs"))


SQL_COUNTERS = (
    "SELECT CAST(count(*) AS BIGINT) AS records_in,"
    " CAST(sum(CASE WHEN length(text) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS empty_text,"
    " CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS non_en,"
    " CAST(sum(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END) AS BIGINT) AS short_docs"
    " FROM documents")

# ---------------------------------------------------------------------------
# J1 — seen-set anti-join (the engine's central join; Statistics.UNIQUE_URLS
# probe → left_anti): event users with no customer record
# ---------------------------------------------------------------------------


def q_seen_anti_join(spark, sf_dir):
    ev = t(spark, sf_dir, "events").select("user_id").distinct()
    cust = t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("user_id"))
    return ev.join(cust, "user_id", "left_anti")


SQL_SEEN_ANTI_JOIN = (
    "SELECT DISTINCT user_id FROM events"
    " WHERE user_id NOT IN (SELECT c_custkey FROM customer)")

# ---------------------------------------------------------------------------
# J5/F8 — broadcast semi-join membership (seed-host set, URLProcessor.java:60-70)
# ---------------------------------------------------------------------------


def q_region_members(spark, sf_dir):
    cust = t(spark, sf_dir, "customer")
    nat = t(spark, sf_dir, "nation")
    reg = t(spark, sf_dir, "region").filter(F.col("r_name").isin("ASIA", "EUROPE"))
    dims = F.broadcast(nat.join(F.broadcast(reg),
                                nat.n_regionkey == reg.r_regionkey))
    return (cust.join(dims, cust.c_nationkey == dims.n_nationkey, "left_semi")
            .groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("cnt")))


SQL_REGION_MEMBERS = (
    "SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS cnt FROM customer"
    " WHERE c_nationkey IN ("
    "   SELECT n_nationkey FROM nation JOIN region ON n_regionkey = r_regionkey"
    "   WHERE r_name IN ('ASIA', 'EUROPE'))"
    " GROUP BY c_mktsegment")

# ---------------------------------------------------------------------------
# J3 — broadcast vocabulary membership (2000-entry NGRAMS probe,
# ScoreNgramArffCreator.java:93-102): tokens ∩ top-100 vocab
# ---------------------------------------------------------------------------


def q_vocab_join(spark, sf_dir):
    wdf = words_df(spark, sf_dir)
    vocab = (wdf.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
             .orderBy(F.col("c").desc(), F.col("word").asc()).limit(100)
             .select("word"))
    return (wdf.join(F.broadcast(vocab), "word", "left_semi")
            .groupBy("doc_id").agg(F.count(F.lit(1)).alias("vocab_hits")))


SQL_VOCAB_JOIN = (
    "WITH w AS (" + WORDS_NONEMPTY + "),"
    " vocab AS (SELECT word FROM (SELECT word, count(*) AS c FROM w GROUP BY word"
    "           ORDER BY c DESC, word ASC LIMIT 100))"
    " SELECT doc_id, CAST(count(*) AS BIGINT) AS vocab_hits FROM w"
    " WHERE word IN (SELECT word FROM vocab) GROUP BY doc_id")

# ---------------------------------------------------------------------------
# U1-U4 on synthesized URLs: host extraction + www-strip (regex twin of the
# kernel path; the exact java.net.URL semantics are covered by the crawl
# oracle tests). URL synthesized deterministically from part.
# ---------------------------------------------------------------------------

_URL_EXPR_SPARK = ("concat('http://', CASE WHEN p_partkey % 3 = 0 THEN 'www.' ELSE '' END, "
                   "lower(replace(p_brand, '#', '')), '.com/', replace(p_name, ' ', '/'))")
_URL_EXPR_DUCK = ("concat('http://', CASE WHEN p_partkey % 3 = 0 THEN 'www.' ELSE '' END, "
                  "lower(replace(p_brand, '#', '')), '.com/', replace(p_name, ' ', '/'))")
HOST_RE = r"^https?://([^/]+)"


def q_url_hosts(spark, sf_dir):
    p = t(spark, sf_dir, "part").withColumn("url", F.expr(_URL_EXPR_SPARK))
    return (p.withColumn("host", F.regexp_extract("url", HOST_RE, 1))
            .withColumn("host_key", F.regexp_replace("host", r"^www\.", ""))
            .groupBy("host_key").agg(F.count(F.lit(1)).alias("cnt")))


SQL_URL_HOSTS = (
    "SELECT host_key, CAST(count(*) AS BIGINT) AS cnt FROM ("
    f"  SELECT regexp_replace(regexp_extract({_URL_EXPR_DUCK}, '{HOST_RE}', 1),"
    "          '^www\\.', '') AS host_key FROM part)"
    " GROUP BY host_key")

# ---------------------------------------------------------------------------
# F6 — media-URL predicate (MediaNodeVisitor.java:32-42,159-168) on
# synthesized URLs with a deterministic extension mix
# ---------------------------------------------------------------------------

_EXTS = "CASE p_partkey % 6 WHEN 0 THEN '.jpg' WHEN 1 THEN '.png' WHEN 2 THEN '.html'" \
        " WHEN 3 THEN '.mp4' WHEN 4 THEN '.txt' ELSE '.gif' END"
_MEDIA_URL_SPARK = f"concat('http://m.example.com/', replace(p_name, ' ', '_'), {_EXTS})"
# full-match anchored suffix predicate — RE2 ∩ Java subset
MEDIA_SUFFIX_ANCHORED = (r"^(?i).*\.(jpg|jpeg|png|gif|bmp|3gp|avi|flv|m4v|mov|mpg"
                         r"|mp4|mpeg|swf|wmv)$")


def q_media_url_filter(spark, sf_dir):
    p = t(spark, sf_dir, "part").withColumn("url", F.expr(_MEDIA_URL_SPARK))
    return (p.filter(F.col("url").rlike(MEDIA_SUFFIX_ANCHORED))
            .select("p_partkey", "url"))


SQL_MEDIA_URL_FILTER = (
    "SELECT p_partkey, url FROM ("
    f"  SELECT p_partkey, {_MEDIA_URL_SPARK} AS url FROM part)"
    f" WHERE regexp_matches(url, '{MEDIA_SUFFIX_ANCHORED}')")

# ---------------------------------------------------------------------------
# S8/U10 — deterministic fetch-sim outcomes (ccspark.fetchsim twin) over
# synthesized URLs; md5-keyed, cross-engine identical
# ---------------------------------------------------------------------------


def q_fetch_sim(spark, sf_dir):
    p = t(spark, sf_dir, "part").withColumn("url", F.expr(_MEDIA_URL_SPARK))
    key = F.conv(F.substring(F.md5(F.col("url")), 1, 15), 16, 10).cast("long")
    return (p.withColumn("fetch_key", key)
            .select("url", "fetch_key",
                    F.when(F.col("fetch_key") % 100 < 95, 200).otherwise(404)
                    .cast("bigint").alias("status"),
                    (F.col("fetch_key") % 100000 + 1000).cast("bigint")
                    .alias("content_length")))


SQL_FETCH_SIM = (
    "SELECT url, fetch_key,"
    " CAST(CASE WHEN fetch_key % 100 < 95 THEN 200 ELSE 404 END AS BIGINT) AS status,"
    " CAST(fetch_key % 100000 + 1000 AS BIGINT) AS content_length"
    " FROM (SELECT url, ('0x' || substr(md5(url), 1, 15))::BIGINT AS fetch_key"
    f"       FROM (SELECT {_MEDIA_URL_SPARK} AS url FROM part))")

# ---------------------------------------------------------------------------
# F4/F5 — HTTP response header/body split at \r\n\r\n (TagCounterMap.java:45,53)
# + Content-Type header predicate, over synthesized raw responses
# ---------------------------------------------------------------------------

_RAW_HTTP_SPARK = ("concat('HTTP/1.1 200 OK\\r\\nContent-Type: ',"
                   " CASE WHEN doc_id % 3 = 0 THEN 'text/html' ELSE 'text/plain' END,"
                   " '\\r\\n\\r\\n', text)")


def q_http_body_split(spark, sf_dir):
    d = t(spark, sf_dir, "documents").withColumn("raw", F.expr(_RAW_HTTP_SPARK))
    parts = F.split("raw", "\r\n\r\n", 2)
    return (d.withColumn("header", parts.getItem(0))
            .withColumn("body", F.element_at(parts, 2))
            .filter(F.col("header").contains("Content-Type: text/html"))
            .select("doc_id", F.length("body").cast("bigint").alias("body_len")))


_RAW_HTTP_DUCK = ("concat('HTTP/1.1 200 OK', chr(13), chr(10), 'Content-Type: ',"
                  " CASE WHEN doc_id % 3 = 0 THEN 'text/html' ELSE 'text/plain' END,"
                  " chr(13), chr(10), chr(13), chr(10), text)")
SQL_HTTP_BODY_SPLIT = (
    "SELECT doc_id, CAST(length(body) AS BIGINT) AS body_len FROM ("
    f"  SELECT doc_id, str_split(raw, chr(13) || chr(10) || chr(13) || chr(10))[1]"
    "     AS header,"
    f"  str_split(raw, chr(13) || chr(10) || chr(13) || chr(10))[2] AS body"
    f"  FROM (SELECT doc_id, {_RAW_HTTP_DUCK} AS raw FROM documents))"
    " WHERE contains(header, 'Content-Type: text/html')")

# ---------------------------------------------------------------------------
# F10 — fetch-worthiness gates on fetched metadata (ImageUtils.java:26-28,
# 81-87: content-length > 20000 and image content type; status 200)
# ---------------------------------------------------------------------------


def q_fetch_worthy(spark, sf_dir):
    sim = q_fetch_sim(spark, sf_dir)
    is_img = F.col("url").rlike(MEDIA_SUFFIX_ANCHORED)
    return (sim.filter((F.col("status") == 200)
                       & (F.col("content_length") > 20000) & is_img)
            .select("url", "content_length"))


SQL_FETCH_WORTHY = (
    "SELECT url, content_length FROM (" + SQL_FETCH_SIM + ")"
    " WHERE status = 200 AND content_length > 20000"
    f" AND regexp_matches(url, '{MEDIA_SUFFIX_ANCHORED}')")

# ---------------------------------------------------------------------------
# U8 — per-host politeness budget window (the scheduler's top-budget-per-host
# selection, relational twin): budget(nation) rows per nation by acctbal
# ---------------------------------------------------------------------------


def q_politeness_budget(spark, sf_dir):
    cust = t(spark, sf_dir, "customer")
    budget = (F.floor(F.lit(60.0) / (F.lit(1.0) + (F.col("c_nationkey") % 5)))
              .cast("bigint"))
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc())
    return (cust.withColumn("budget", budget)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= F.col("budget"))
            .select("c_nationkey", "c_custkey", "c_acctbal"))


SQL_POLITENESS_BUDGET = (
    "SELECT c_nationkey, c_custkey, c_acctbal FROM ("
    "  SELECT *, CAST(floor(60.0 / (1.0 + (c_nationkey % 5))) AS BIGINT) AS budget,"
    "   row_number() OVER (PARTITION BY c_nationkey"
    "     ORDER BY c_acctbal DESC, c_custkey ASC) AS _rn"
    "  FROM customer) WHERE _rn <= budget")

# ---------------------------------------------------------------------------
# table profiling — the data-quality dashboard pass
# ---------------------------------------------------------------------------
# Every training-data pipeline fronts ingestion with a profiling pass
# (null fractions, cardinalities, ranges — what Deequ/TFDV compute):
# the numbers that catch a broken upstream export before it poisons a
# run. ONE aggregation pass computes all per-column stats (count /
# nulls / exact distinct / min / max for every column), then the single
# stats row is exploded into the long (column, stat) form dashboards
# consume — no per-column scan, no second shuffle. Exact
# count_distinct expands to Spark's partial-distinct Expand — at 100 TB
# swap approx_count_distinct per column (documented knob, same shape).

_PROFILE_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


def q_table_profile(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).cast("bigint")
            .alias(f"{c}_nulls"),
            F.count_distinct(F.col(c)).cast("bigint").alias(f"{c}_dist"),
            F.min(F.col(c)).cast("string").alias(f"{c}_min"),
            F.max(F.col(c)).cast("string").alias(f"{c}_max")]
    one = d.agg(*aggs)
    entries = ", ".join(
        f"struct('{c}' AS column, {c}_nulls AS n_null,"
        f" {c}_dist AS n_distinct, {c}_min AS min_s, {c}_max AS max_s)"
        for c in _PROFILE_COLS)
    return (one.select("n_rows",
                       F.explode(F.expr(f"array({entries})")).alias("s"))
            .select(F.col("s.column").alias("column"), "n_rows",
                    F.col("s.n_null").alias("n_null"),
                    F.col("s.n_distinct").alias("n_distinct"),
                    F.col("s.min_s").alias("min_s"),
                    F.col("s.max_s").alias("max_s")))


SQL_TABLE_PROFILE = (
    "WITH one AS (SELECT CAST(count(*) AS BIGINT) AS n_rows, "
    + ", ".join(
        f"CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS {c}_nulls,"
        f" CAST(count(DISTINCT {c}) AS BIGINT) AS {c}_dist,"
        f" CAST(min({c}) AS VARCHAR) AS {c}_min,"
        f" CAST(max({c}) AS VARCHAR) AS {c}_max"
        for c in _PROFILE_COLS)
    + " FROM documents) "
    + " UNION ALL ".join(
        f"SELECT '{c}' AS column, n_rows, {c}_nulls AS n_null,"
        f" {c}_dist AS n_distinct, {c}_min AS min_s, {c}_max AS max_s"
        f" FROM one"
        for c in _PROFILE_COLS))


# ---------------------------------------------------------------------------
# heavy hitters — two-pass distributed Misra-Gries candidates + exact
# verification (the "novel sketch" class the engine's scale brief asks
# for; reference analog: the hot-host frequency multisets of
# Statistics.java:62-95 at cardinalities where an exact global groupBy
# of EVERY key is the bottleneck)
# ---------------------------------------------------------------------------
# Output contract (exact, SQL-twin-checkable): every word whose global
# count C satisfies C · HH_M > n (n = total words). Soundness: a
# per-partition Misra-Gries summary with HH_M counters retains any key
# with partition count > n_p/HH_M (batched trim subtracts the
# (m+1)-th-largest value from all counters, so total decrement D obeys
# D·(HH_M+1) ≤ n_p → D < n_p/HH_M); if C > n/HH_M = Σ n_p/HH_M then
# C_p > n_p/HH_M in at least one partition, so the candidate union has
# NO false negatives under ANY partitioning (property-tested). Pass 2
# exact-counts ONLY the candidates (broadcast semi-join), so the
# global shuffle carries candidate rows — O(n · |heavies|/|keys|) —
# never the full distinct-key cardinality: the point of the sketch at
# 10^10 keys. Per-partition totals ride the same pass-1 scan as
# sentinel rows (word = '', a value the tokenizer can never emit), so
# the threshold denominator costs no extra scan.

HH_M = 64  # Misra-Gries counters per partition → threshold n/64


def _mg_partition(batches):
    """One partition's Misra-Gries summary: batched counter update
    (pandas value_counts per Arrow batch — the Python loop touches
    BATCH-UNIQUE keys, never rows) + trim-to-m by subtracting the
    (m+1)-th largest count from every counter."""
    counters: dict = {}
    n_p = 0
    for pdf in batches:
        vc = pdf["word"].value_counts()
        n_p += int(vc.sum())
        for wrd, c in vc.items():
            counters[wrd] = counters.get(wrd, 0) + int(c)
        if len(counters) > HH_M:
            cut = sorted(counters.values(), reverse=True)[HH_M]
            counters = {k: v - cut for k, v in counters.items() if v > cut}
    rows = [(wrd, 0) for wrd in counters] + [("", n_p)]
    yield pd.DataFrame(rows, columns=["word", "n_p"])


def q_heavy_hitters(spark, sf_dir):
    words = words_df(spark, sf_dir).select("word")
    # the summary is at most HH_M + 1 rows per partition: collecting it
    # once gives both consumers (candidates, n) the same sketch
    summary = words.mapInPandas(
        _mg_partition, schema="word string, n_p long").collect()
    n_total = sum(r.n_p for r in summary if r.word == "")
    # the sentinel '' (no word row carries it) keeps the candidates a
    # non-empty pandas frame, a LocalRelation: a list or an empty frame
    # would scan a Python RDD and start a second Python worker pool
    cands = spark.createDataFrame(
        pd.DataFrame({"word": sorted({""} | {r.word for r in summary})}),
        "word string")
    exact = (words.join(F.broadcast(cands), "word", "left_semi")
             .groupBy("word").agg(F.count(F.lit(1)).alias("cnt")))
    return (exact.filter(F.col("cnt") * HH_M > F.lit(n_total))
            .select("word", "cnt"))


SQL_HEAVY_HITTERS = (
    f"WITH w AS ({WORDS_NONEMPTY}),"
    " tot AS (SELECT count(*) AS n FROM w)"
    " SELECT word, CAST(count(*) AS BIGINT) AS cnt"
    " FROM w CROSS JOIN tot GROUP BY word, n"
    f" HAVING count(*) * {HH_M} > n")


# ---------------------------------------------------------------------------
# politeness fairness — Gini of the per-host admission allocation
# ---------------------------------------------------------------------------
# A politeness scheduler is a fairness policy: the budget window
# (U8/q_politeness_budget above) caps every host, but operators need ONE
# number telling them how skewed the resulting allocation actually is —
# the Gini coefficient of per-host admitted counts is the standard
# crawl-ops dashboard metric (0 = perfectly even, →1 = one host eats
# the round). Computed with the rank formula over ascending counts:
#   G = (2·Σᵢ i·xᵢ − (n+1)·Σᵢ xᵢ) / (n·Σᵢ xᵢ)
# with i = 1-based rank ordered (count, host) — every term is an int64
# product/sum, so both engines hit the identical single division at the
# end (round 6): bit-exact cross-engine, like the PageRank fixed-point.
#
# Scale story: the admitted set aggregates to a HOSTS-sized count table
# before the ranking window touches it, so the unpartitioned window —
# normally a red flag — runs over |hosts| rows, not |urls|; at 10^10
# URLs / 10^7 hosts that frame is MBs. The heavy stage is the groupBy,
# which partial-aggregates map-side.


def q_politeness_fairness(spark, sf_dir):
    admitted = q_politeness_budget(spark, sf_dir)
    counts = (admitted.groupBy(F.col("c_nationkey").alias("host"))
              .agg(F.count(F.lit(1)).alias("x")))
    w = Window.orderBy(F.col("x").asc(), F.col("host").asc())
    ranked = counts.withColumn("i", F.row_number().over(w))
    return (ranked.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_hosts"),
                F.sum("x").cast("bigint").alias("admitted"),
                F.sum(F.col("i") * F.col("x")).cast("bigint").alias("_ix"))
            .select("n_hosts", "admitted",
                    F.round((2 * F.col("_ix")
                             - (F.col("n_hosts") + 1) * F.col("admitted"))
                            / (F.col("n_hosts") * F.col("admitted")), 6)
                    .alias("gini")))


SQL_POLITENESS_FAIRNESS = (
    "WITH adm AS (" + SQL_POLITENESS_BUDGET + "),"
    " counts AS (SELECT c_nationkey AS host, CAST(count(*) AS BIGINT) AS x"
    "            FROM adm GROUP BY c_nationkey),"
    " ranked AS (SELECT host, x, row_number() OVER"
    "            (ORDER BY x ASC, host ASC) AS i FROM counts)"
    " SELECT CAST(count(*) AS BIGINT) AS n_hosts,"
    "  CAST(sum(x) AS BIGINT) AS admitted,"
    "  round((2 * sum(i * x) - (count(*) + 1) * sum(x))"
    "        / (count(*) * sum(x)), 6) AS gini"
    " FROM ranked")


# ---------------------------------------------------------------------------
# crawl-trap detection — URL-pattern explosion guard
#
# Real crawlers must detect hosts that mint unbounded unique URLs from
# bounded content (calendar pages, session-id links, faceted search) and
# stop feeding them into the frontier. Signal: per host, the ratio of
# distinct URLs to distinct URL TEMPLATES (path with digit runs collapsed,
# query string stripped). An honest host's pagination collapses to a few
# templates with few URLs each; a trap host's session/calendar component
# collapses to one template carrying thousands of URLs.
#
# URLs are synthesized from `orders` with the same deterministic-recipe
# trick as url_hosts: hosts h0..h39, every 7th host is a "trap" whose
# path embeds the unique o_orderkey (a session id), the rest paginate
# over a bounded page number. ratio_pm is the integer per-mille ratio
# (1000·n_urls div n_templates — exact); trap fires at ≥ 20 URLs per
# template.
#
# Scale story (100 TB): two count_distinct aggregations keyed by
# host_key (Spark expands to partial-distinct per partition — map-side
# combine); output is hosts-sized. The trap list then joins the frontier
# as a broadcast anti-join — the same shape the engine's robots
# disallow-list already uses.
# ---------------------------------------------------------------------------

_TRAP_URL = ("concat('http://h', CAST(o_custkey % 40 AS STRING), "
             "'.shop.example', "
             "CASE WHEN (o_custkey % 40) % 7 = 0 "
             " THEN concat('/cal/', CAST(o_orderkey AS STRING), '?sid=',"
             "             CAST(o_orderkey % 997 AS STRING)) "
             " ELSE concat('/', lower(o_orderstatus), '/page/',"
             "             CAST(o_orderkey % 5 AS STRING)) END)")
_TRAP_URL_DUCK = _TRAP_URL.replace(" AS STRING", " AS VARCHAR")
TRAP_RATIO_PM = 20_000  # ≥ 20 distinct URLs per template ⇒ trap


def q_trap_hosts(spark, sf_dir):
    o = t(spark, sf_dir, "orders").withColumn("url", F.expr(_TRAP_URL))
    host = F.regexp_extract("url", HOST_RE, 1)
    # template: strip the query, collapse digit runs in the path
    tmpl = F.regexp_replace(
        F.regexp_replace("url", r"\?.*$", ""), r"[0-9]+", "N")
    agg = (o.select(host.alias("host_key"), F.col("url"),
                    tmpl.alias("tmpl"))
           .groupBy("host_key")
           .agg(F.countDistinct("url").alias("n_urls"),
                F.countDistinct("tmpl").alias("n_templates")))
    ratio = F.expr("(1000 * n_urls) div n_templates").cast("bigint")
    return agg.select(
        "host_key", F.col("n_urls").cast("bigint").alias("n_urls"),
        F.col("n_templates").cast("bigint").alias("n_templates"),
        ratio.alias("ratio_pm"),
        (ratio >= TRAP_RATIO_PM).alias("trap"))


SQL_TRAP_HOSTS = f"""
WITH u AS (SELECT {_TRAP_URL_DUCK} AS url FROM orders),
agg AS (
  SELECT regexp_extract(url, '{HOST_RE}', 1) AS host_key,
         CAST(count(DISTINCT url) AS BIGINT) AS n_urls,
         CAST(count(DISTINCT regexp_replace(
             regexp_replace(url, '\\?.*$', ''), '[0-9]+', 'N', 'g'))
           AS BIGINT) AS n_templates
  FROM u GROUP BY 1)
SELECT host_key, n_urls, n_templates,
       CAST((1000 * n_urls) // n_templates AS BIGINT) AS ratio_pm,
       (1000 * n_urls) // n_templates >= {TRAP_RATIO_PM} AS trap
FROM agg"""

# ---------------------------------------------------------------------------
# X6 — URL → word split (scheme stripped, ≤4-char extension stripped, split
# on /|.|-; ScoreNgramArffCreator.java:104-116) over synthesized URLs
# ---------------------------------------------------------------------------


def q_url_words(spark, sf_dir):
    p = t(spark, sf_dir, "part").withColumn("url", F.expr(_MEDIA_URL_SPARK))
    stripped = F.regexp_replace("url", r"^[a-z]+://", "")
    # strip a trailing .xxxx extension of 1-4 chars (the reference's
    # rfind('.') >= len-5 gate)
    no_ext = F.regexp_replace(stripped, r"\.[^./]{1,4}$", "")
    return (p.withColumn("w", F.explode(F.split(no_ext, r"/|\.|\-")))
            .filter(F.col("w") != "")
            .groupBy(F.lower("w").alias("word"))
            .agg(F.count(F.lit(1)).alias("cnt")))


SQL_URL_WORDS = (
    "SELECT lower(w) AS word, CAST(count(*) AS BIGINT) AS cnt FROM ("
    "  SELECT unnest(string_split_regex("
    "    regexp_replace(regexp_replace(url, '^[a-z]+://', ''),"
    "                   '\\.[^./]{1,4}$', ''), '/|\\.|\\-')) AS w"
    f"  FROM (SELECT {_MEDIA_URL_SPARK} AS url FROM part))"
    " WHERE w <> '' GROUP BY lower(w)")

# ---------------------------------------------------------------------------
# A6 — unique counts (GLOBAL_COUNT/DOMAIN_COUNT, Statistics.java:84-85):
# exact distinct per key; the approximate variant is a rows-only query
# ---------------------------------------------------------------------------


def q_distinct_users_by_type(spark, sf_dir):
    return (t(spark, sf_dir, "events")
            .groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("uniq_users")))


SQL_DISTINCT_USERS_BY_TYPE = (
    "SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS uniq_users"
    " FROM events GROUP BY event_type")


def q_approx_distinct_users(spark, sf_dir):
    """A6 approximate path (HLL++). DuckDB's sketch differs by
    construction, so the oracle checks a TOLERANCE contract instead of
    the raw estimate: the query returns the exact count (value-matched)
    plus an in-Spark assertion that the HLL estimate lands within 15%
    (3× the default 5% rsd) of it; the twin returns the same exact count
    with the assertion vacuously 1. HLL is deterministic for fixed
    input, so the bound is a stable, reproducible check — not flaky."""
    ev = t(spark, sf_dir, "events")
    ex = (ev.groupBy("event_type")
          .agg(F.countDistinct("user_id").alias("exact_uniq")))
    ap = (ev.groupBy("event_type")
          .agg(F.approx_count_distinct("user_id").alias("approx_uniq")))
    within = (F.abs(F.col("approx_uniq") - F.col("exact_uniq"))
              / F.col("exact_uniq") <= F.lit(0.15))
    return (ex.join(ap, "event_type")
            .select("event_type", "exact_uniq",
                    within.cast("bigint").alias("within_tol")))


SQL_APPROX_DISTINCT_USERS = (
    "SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_uniq,"
    " CAST(1 AS BIGINT) AS within_tol FROM events GROUP BY event_type")


# ---------------------------------------------------------------------------
# events daily rollup — time-bucketed aggregation (metrics-table shape the
# round loop persists; value kept exact via floor-to-cents)
# ---------------------------------------------------------------------------


def q_events_daily(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return (ev.groupBy(F.col("event_type"),
                       F.to_date("ts").alias("day"))
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.sum(F.floor(F.col("value") * 100)).cast("bigint")
                 .alias("value_cents")))


SQL_EVENTS_DAILY = (
    "SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS cnt,"
    " CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents"
    " FROM events GROUP BY event_type, CAST(ts AS DATE)")


# ---------------------------------------------------------------------------
# gap-based sessionization — the classic large-scale event-stream operator
# (per-key sessions split on a 30-minute inactivity gap). One shuffle on
# the session key (user_id); both the lag/cumsum window and the per-session
# rollup reuse that partitioning, so Catalyst plans a single exchange. At
# 100 TB this is the standard shape: sessions never materialize globally,
# each user's timeline sorts within its partition. Skewed power users are
# bounded by per-user event counts, not corpus size; the streaming twin is
# a session window with watermark (F.session_window, same semantics).
# ---------------------------------------------------------------------------

SESSION_GAP_MS = 30 * 60 * 1000


def q_events_sessionize(spark, sf_dir):
    # ts is TIMESTAMP_NTZ; the session TZ is pinned UTC (get_spark), so
    # the cast is the identity wall-clock→instant map DuckDB's epoch_ms
    # applies to naive timestamps
    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ms"))
    w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    new_sess = F.when(
        F.col("ms") - F.lag("ms").over(w) > SESSION_GAP_MS, 1
    ).otherwise(0)
    sess = (ev.withColumn("sess",
                          F.sum(new_sess).over(
                              w.rowsBetween(Window.unboundedPreceding, 0))))
    return (sess.groupBy("user_id", "sess")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 (F.max("ms") - F.min("ms")).alias("duration_ms"))
            .select("user_id", F.col("sess").cast("bigint").alias("session"),
                    "n_events", "duration_ms"))


SQL_EVENTS_SESSIONIZE = (
    "WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events),"
    " g AS (SELECT user_id, ms, CASE WHEN ms - LAG(ms) OVER"
    "   (PARTITION BY user_id ORDER BY ms, event_id) > 1800000"
    "   THEN 1 ELSE 0 END AS new_sess FROM e),"
    " s AS (SELECT user_id, ms, SUM(new_sess) OVER"
    "   (PARTITION BY user_id ORDER BY ms"
    "    ROWS UNBOUNDED PRECEDING) AS sess FROM g)"
    " SELECT user_id, CAST(sess AS BIGINT) AS session,"
    " CAST(COUNT(*) AS BIGINT) AS n_events,"
    " CAST(MAX(ms) - MIN(ms) AS BIGINT) AS duration_ms"
    " FROM s GROUP BY user_id, sess")


def q_events_percentiles(spark, sf_dir):
    """Exact per-type value percentiles (p50/p95/p99, linear
    interpolation — F.percentile ≡ DuckDB quantile_cont). Exact
    percentile sorts each group; at 100 TB the serving path swaps in
    approx_percentile (t-digest sketch, mergeable map-side) behind the
    same column contract — the exact twin stays as the correctness
    yardstick at test scale, the same pattern as A6's exact/approx
    distinct pair."""
    ev = t(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(*[F.round(F.percentile("value", F.lit(p)), 4)
                   .alias(f"p{int(p * 100)}")
                   for p in (0.5, 0.95, 0.99)]))


SQL_EVENTS_PERCENTILES = (
    "SELECT event_type,"
    " round(quantile_cont(value, 0.50), 4) AS p50,"
    " round(quantile_cont(value, 0.95), 4) AS p95,"
    " round(quantile_cont(value, 0.99), 4) AS p99"
    " FROM events GROUP BY event_type")


# ---------------------------------------------------------------------------
# X3 oracle-checked — the graft-pivot span extraction on an interleaved
# spans table synthesized deterministically from the flat documents table.
# The Spark side builds real array<struct> spans and runs the REAL
# extract_links operator; the DuckDB twin computes the expected emission
# flat (same md5-derived kinds/refs, same per-kind rules, follow_links=False).
# ---------------------------------------------------------------------------

# per-token selectors, identical in both engines: k = first md5 hex digit
# of "doc_id_i" → kind; e = second digit → extension mix
def interleaved_docs(spark, sf_dir):
    """documents → (doc_id, page_url, spans: array<struct>) with
    deterministic kinds/refs — the input_hint table shape from flat text."""
    d = (t(spark, sf_dir, "documents")
         .withColumn("toks", F.expr("filter(split(text, ' '), x -> x <> '')"))
         .withColumn("page_url",
                     F.concat(F.lit("http://site"), F.col("doc_id") % 50,
                              F.lit(".example.com/p"), F.col("doc_id"),
                              F.lit(".html"))))
    k = "CAST(conv(substring(md5(concat(doc_id, '_', i)), 1, 1), 16, 10) AS INT)"
    e = "CAST(conv(substring(md5(concat(doc_id, '_', i)), 2, 1), 16, 10) AS INT)"
    span = (
        "transform(toks, (w, i) -> named_struct("
        f" 'kind', CASE WHEN {k} < 7 THEN 'text' WHEN {k} = 7 THEN 'img'"
        f"   WHEN {k} = 8 THEN 'a' ELSE 'iframe' END,"
        " 'text', w,"
        f" 'media_ref', CASE WHEN {k} < 7 THEN ''"
        "   ELSE concat('http://m.example.com/', w,"
        f"     CASE WHEN {e} = 0 THEN '' WHEN {e} <= 5 THEN '.jpg'"
        f"          WHEN {e} <= 10 THEN '.html' ELSE '.swf' END) END,"
        " 'offset', i))")
    return d.select("doc_id", "page_url", F.expr(span).alias("spans"))


def q_span_extract(spark, sf_dir):
    from .extract import extract_links
    docs = interleaved_docs(spark, sf_dir)
    out = extract_links(docs, follow_links=False)
    return out.select("url_raw", "page_url", "kind", "alt",
                      F.col("dom_depth").cast("bigint").alias("dom_depth"),
                      F.col("dom_sib").cast("bigint").alias("dom_sib"),
                      F.col("src_doc_id").cast("bigint").alias("src_doc_id"),
                      F.col("offset").cast("bigint").alias("offset"))


# DuckDB twin: flat token table + same hash-derived kind/ext + the
# reference emission rules (img: any non-empty ref; a: media only when
# follow_links=False; iframe: media only). Media predicate reduced to the
# suffix set actually generated (.jpg/.swf media, .html not).
SQL_SPAN_EXTRACT = (
    "WITH tokd AS ("
    "  SELECT doc_id, i, toks[i] AS w, len(toks) AS n_toks,"
    "   ('0x' || substr(md5(concat(doc_id, '_', i - 1)), 1, 1))::INT AS k,"
    "   ('0x' || substr(md5(concat(doc_id, '_', i - 1)), 2, 1))::INT AS e"
    "  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '')"
    "        AS toks FROM documents), LATERAL unnest(generate_series(1, len(toks))) AS u(i)),"
    " spans AS (SELECT doc_id, i - 1 AS off, w, n_toks,"
    "   CASE WHEN k < 7 THEN 'text' WHEN k = 7 THEN 'img' WHEN k = 8 THEN 'a'"
    "        ELSE 'iframe' END AS kind,"
    "   CASE WHEN k < 7 THEN ''"
    "        ELSE concat('http://m.example.com/', w,"
    "          CASE WHEN e = 0 THEN '' WHEN e <= 5 THEN '.jpg'"
    "               WHEN e <= 10 THEN '.html' ELSE '.swf' END) END AS ref"
    "   FROM tokd)"
    " SELECT ref AS url_raw,"
    "  concat('http://site', doc_id % 50, '.example.com/p', doc_id, '.html')"
    "    AS page_url,"
    "  kind, w AS alt, CAST(off AS BIGINT) AS dom_depth,"
    "  CAST(n_toks - 1 AS BIGINT) AS dom_sib,"
    "  CAST(doc_id AS BIGINT) AS src_doc_id, CAST(off AS BIGINT) AS offset"
    " FROM spans WHERE kind <> 'text' AND ref <> '' AND ("
    "   kind = 'img'"
    "   OR (kind IN ('a', 'iframe') AND regexp_matches(ref,"
    "       '^(?i).*\\.(jpg|jpeg|png|gif|bmp|3gp|avi|flv|m4v|mov|mpg|mp4|mpeg|swf|wmv)$')))")

# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

REG: dict[str, tuple] = {
    "word_count": (q_word_count, SQL_WORD_COUNT),
    "top_words": (q_top_words, SQL_TOP_WORDS),
    "word_count_min100": (q_word_count_min100, SQL_WORD_COUNT_MIN100),
    "tag_count": (q_tag_count, SQL_TAG_COUNT),
    "server_count": (q_server_count, SQL_SERVER_COUNT),
    "source_lang_freq": (q_source_lang_freq, SQL_SOURCE_LANG_FREQ),
    "first_wins_dedup": (q_first_wins_dedup, SQL_FIRST_WINS_DEDUP),
    "sum_by_key": (q_sum_by_key, SQL_SUM_BY_KEY),
    "topk_per_key": (q_topk_per_key, SQL_TOPK_PER_KEY),
    "class_balance": (q_class_balance, SQL_CLASS_BALANCE),
    "discriminative_words": (q_discriminative_words, SQL_DISCRIMINATIVE_WORDS),
    "ngram_pruned_vocab": (q_ngram_pruned_vocab, SQL_NGRAM_PRUNED_VOCAB),
    "counters": (q_counters, SQL_COUNTERS),
    "seen_anti_join": (q_seen_anti_join, SQL_SEEN_ANTI_JOIN),
    "region_members": (q_region_members, SQL_REGION_MEMBERS),
    "vocab_join": (q_vocab_join, SQL_VOCAB_JOIN),
    "url_hosts": (q_url_hosts, SQL_URL_HOSTS),
    "media_url_filter": (q_media_url_filter, SQL_MEDIA_URL_FILTER),
    "fetch_sim": (q_fetch_sim, SQL_FETCH_SIM),
    "politeness_budget": (q_politeness_budget, SQL_POLITENESS_BUDGET),
    "politeness_fairness": (q_politeness_fairness, SQL_POLITENESS_FAIRNESS),
    "table_profile": (q_table_profile, SQL_TABLE_PROFILE),
    "heavy_hitters": (q_heavy_hitters, SQL_HEAVY_HITTERS),
    "events_daily": (q_events_daily, SQL_EVENTS_DAILY),
    "events_sessionize": (q_events_sessionize, SQL_EVENTS_SESSIONIZE),
    "events_percentiles": (q_events_percentiles, SQL_EVENTS_PERCENTILES),
    "url_words": (q_url_words, SQL_URL_WORDS),
    "trap_hosts": (q_trap_hosts, SQL_TRAP_HOSTS),
    "fetch_worthy": (q_fetch_worthy, SQL_FETCH_WORTHY),
    "http_body_split": (q_http_body_split, SQL_HTTP_BODY_SPLIT),
    "distinct_users_by_type": (q_distinct_users_by_type, SQL_DISTINCT_USERS_BY_TYPE),
    "approx_distinct_users": (q_approx_distinct_users, SQL_APPROX_DISTINCT_USERS),
    "span_extract": (q_span_extract, SQL_SPAN_EXTRACT),
}

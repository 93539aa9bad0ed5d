"""Benchmark workload: the scheduling pipeline over a synthetic frontier.

The north metric (BASELINE.json) is URLs scheduled/sec over a
10^10-URL-frontier-shaped workload, scaled down deterministically
in-sandbox. This module synthesizes that workload entirely JVM-side
(spark.range + hash expressions — no driver-side data, no files) so the
measured time is the scheduling pipeline itself:

    candidates → canonicalize (Arrow UDF kernels) → first-wins dedup →
    bucket hashing → per-host politeness budget (salted top-K) → count

Host skew is built in (quadratic-ish rank→mass decay plus three hot
heads) to exercise the salted window path the way a real crawl's hot
hosts would.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .params import CrawlParams
from .politeness import schedule_frontier
from .scheduler import batch_dedup, canonicalize
from .seen import with_bucket


def synthetic_candidates(spark: SparkSession, n: int, n_hosts: int = 10_000,
                         start: int = 0) -> DataFrame:
    """n deterministic candidate URLs with zipf-ish host skew.

    host_rank = h % (1 + h' % n_hosts) biases mass toward low ranks
    (rank 0 gets ~ln(n_hosts)/n_hosts of all rows — a hot head), and
    ~8% of rows are relative URLs so the normalize kernel's
    reconstruction branch is exercised, not just the absolute fast path.
    `start` offsets the id range: perfbench gives each seed its own
    range and each round a half-overlapping window of it
    (`perfbench/inputs.py`).
    """
    h1 = F.xxhash64(F.col("id"))
    h2 = F.xxhash64(F.col("id"), F.lit(1))
    host_rank = F.pmod(h1, F.lit(1) + F.pmod(h2, F.lit(n_hosts)))
    df = (spark.range(start, start + n)
          .withColumn("host_rank", host_rank)
          .withColumn("page_url",
                      F.concat(F.lit("http://h"), F.col("host_rank"),
                               F.lit(".example.com/sec"),
                               F.pmod(h2, F.lit(50)), F.lit("/page"),
                               F.pmod(h1, F.lit(1000)), F.lit(".html")))
          .withColumn("leaf",
                      F.concat(F.lit("img"), F.pmod(h1, F.lit(100000)),
                               F.lit(".jpg"))))
    rel = F.pmod(h2, F.lit(100))
    url_raw = (F.when(rel < 4, F.concat(F.lit("../pics/"), F.col("leaf")))
               .when(rel < 8, F.concat(F.lit("/images/"), F.col("leaf")))
               .otherwise(F.concat(F.lit("http://h"), F.col("host_rank"),
                                   F.lit(".example.com/static/"), F.col("leaf"))))
    return (df.select(
        url_raw.alias("url_raw"),
        "page_url",
        F.lit("img").alias("kind"),
        F.lit("").alias("alt"),
        F.lit("").alias("parent_txt"),
        F.pmod(h1, F.lit(20)).cast("int").alias("dom_depth"),
        F.pmod(h2, F.lit(40)).cast("int").alias("dom_sib"),
        F.lit("bench").alias("src_doc_id"),
        F.pmod(h1, F.lit(30)).cast("int").alias("offset")))


def schedule_pipeline(spark: SparkSession, n: int,
                      params: CrawlParams = CrawlParams(),
                      start: int = 0) -> int:
    """One full scheduling round's compute over n synthetic candidates;
    returns URLs scheduled. Empty robots cache → default crawl delay
    (built JVM-side: an empty Python-rows frame would start a second
    Python worker pool)."""
    robots = spark.range(0).select(
        F.lit(None).cast("string").alias("host"),
        F.lit(None).cast("double").alias("crawl_delay"),
        F.lit(None).cast("array<string>").alias("disallow"))
    cand = synthetic_candidates(spark, n, start=start)
    canon = canonicalize(cand, round_no=0)
    deduped = with_bucket(batch_dedup(canon), partitions=params.seen_partitions)
    sched = schedule_frontier(deduped, robots, params)
    return sched.count()

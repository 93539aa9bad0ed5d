"""RFC 9309 §2.2.2 rule matching: wildcards, end-anchor, Allow rules,
longest-match precedence — engine expression vs the pure-Python oracle
matcher on the same cases, plus the e2e flag path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ccspark.oracle import _robots_blocked, _robots_rule_matches
from ccspark.politeness import with_robots_blocked_flag

# (path, pattern, matches) — RFC 9309 §2.2.3 / Google robots.txt spec
# examples plus literal-metachar edge cases
CASES = [
    ("/fish", "/fish", True),
    ("/fish.html", "/fish", True),
    ("/fishheads/yummy.html", "/fish", True),
    ("/Fish.asp", "/fish", False),            # case-sensitive
    ("/catfish", "/fish", False),
    ("/fish", "/fish*", True),
    ("/fishheads", "/fish*", True),
    ("/fish/salmon.html", "/fish/", True),
    ("/fish", "/fish/", False),
    ("/filename.php", "/*.php", True),
    ("/folder/filename.php", "/*.php", True),
    ("/folder/filename.php?parameters", "/*.php", True),
    ("/", "/*.php", False),
    ("/windows.PHP", "/*.php", False),
    ("/filename.php", "/*.php$", True),
    ("/filename.php?parameters", "/*.php$", False),
    ("/filename.php5", "/*.php$", False),
    ("/fish.php", "/fish*.php", True),
    ("/fishheads/catfish.php?parameters", "/fish*.php", True),
    ("/Fish.PHP", "/fish*.php", False),
    # literal metachars must not leak into the regex
    ("/a.b/c", "/a.b/", True),
    ("/axb/c", "/a.b/", False),
    ("/price(usd)/x", "/price(usd)/", True),
    ("/a$b", "/a$b", True),                   # mid-pattern '$' is literal
    ("/ab", "/a$b", False),
    ("/a+b", "/a+b", True),
]


def test_oracle_matcher_cases():
    for path, pat, want in CASES:
        assert _robots_rule_matches(path, pat) == want, (path, pat)


def test_engine_matcher_cases(spark):
    df = spark.createDataFrame(
        [(f"http://h.com{p}", "h.com", pat) for p, pat, _ in CASES],
        "url string, host_key string, pat string")
    robots = (df.select(F.col("host_key").alias("host"),
                        F.array(F.col("pat")).alias("disallow"))
              .withColumn("allow", F.array().cast("array<string>"))
              .withColumn("crawl_delay", F.lit(0.15)))
    # one row per case: join each candidate to ITS OWN single-rule robots
    # row by using a distinct host per case
    rows = [(f"http://h{i}.com{p}", f"h{i}.com") for i, (p, _, _) in enumerate(CASES)]
    cand = spark.createDataFrame(rows, "url string, host_key string")
    rb = spark.createDataFrame(
        [(f"h{i}.com", [pat], []) for i, (_, pat, _) in enumerate(CASES)],
        "host string, disallow array<string>, allow array<string>")
    got = {r.url: r._blocked for r in
           with_robots_blocked_flag(cand, rb).collect()}
    for i, (p, pat, want) in enumerate(CASES):
        assert got[f"http://h{i}.com{p}"] == want, (p, pat)


PRECEDENCE = [
    # (disallow, allow, path, blocked)
    (["/*.html$"], ["/sm/extra"], "/sm/extra1.html", False),  # 9 > 8
    (["/*.html$"], ["/sm/"], "/sm/extra1.html", True),        # 8 > 4
    (["/p"], ["/p"], "/page", False),                         # tie → allow
    (["/folder"], ["/folder"], "/folder/page", False),        # RFC example
    (["/*.htm"], ["/page"], "/page.htm", True),               # 6 > 5
    ([], ["/x"], "/x", False),
    ([], [], "/anything", False),
]


def test_precedence_oracle():
    for dis, alw, path, want in PRECEDENCE:
        rb = {"disallow": dis, "allow": alw}
        assert _robots_blocked(path, rb) == want, (dis, alw, path)


def test_precedence_engine(spark):
    cand = spark.createDataFrame(
        [(f"http://h{i}.com{p}", f"h{i}.com")
         for i, (_, _, p, _) in enumerate(PRECEDENCE)],
        "url string, host_key string")
    rb = spark.createDataFrame(
        [(f"h{i}.com", dis, alw)
         for i, (dis, alw, _, _) in enumerate(PRECEDENCE)],
        "host string, disallow array<string>, allow array<string>")
    got = {r.url: r._blocked for r in
           with_robots_blocked_flag(cand, rb).collect()}
    for i, (dis, alw, p, want) in enumerate(PRECEDENCE):
        assert got[f"http://h{i}.com{p}"] == want, (dis, alw, p)


def test_allowless_cache_back_compat(spark):
    """A robots table WITHOUT an allow column (pre-RFC cache) keeps the
    old disallow-only semantics."""
    cand = spark.createDataFrame(
        [("http://h.com/private/x", "h.com"), ("http://h.com/ok", "h.com")],
        "url string, host_key string")
    rb = spark.createDataFrame(
        [("h.com", ["/private/"])], "host string, disallow array<string>")
    got = {r.url: r._blocked for r in
           with_robots_blocked_flag(cand, rb).collect()}
    assert got["http://h.com/private/x"] is True
    assert got["http://h.com/ok"] is False


def test_parse_robots_allow_lines():
    from ccspark.fetcher import parse_robots_txt
    body = ("User-agent: *\n"
            "Disallow: /*.html$\n"
            "Allow: /sm/extra\n"
            "Crawl-delay: 1\n")
    assert parse_robots_txt(body, "x") == (["/*.html$"], ["/sm/extra"], 1.0)


def _mini_fixture(tmp_path):
    """Hand-built crawl fixture where wildcard blocking PROVABLY fires:
    the seed list hits one wildcard-blocked page, one allowed-by-tie
    page, and one untouched page on the same host."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ccspark.fixtures import SPAN_TYPE

    host = "hot.example.com"
    docs = pa.table({
        "doc_id": pa.array(["d0"], pa.string()),
        "page_url": pa.array([f"http://{host}/a/b/page2.html"], pa.string()),
        "spans": pa.array([[
            {"kind": "text", "text": "hello", "media_ref": "", "offset": 0},
        ]], pa.list_(SPAN_TYPE)),
    })
    seeds = pa.table({"url": pa.array([
        f"http://{host}/a/b/page10.html",   # disallow /*/page1*.html$ fires
        f"http://{host}/a/b/page119.html",  # allow /*/page11*.html$ tie-wins
        f"http://{host}/a/b/page2.html",    # matches neither rule
    ], pa.string())})
    robots = pa.table({
        "host": pa.array([host], pa.string()),
        "crawl_delay": pa.array([0.15], pa.float64()),
        "disallow": pa.array([["/*/page1*.html$"]], pa.list_(pa.string())),
        "allow": pa.array([["/*/page11*.html$"]], pa.list_(pa.string())),
        "fetched_at": pa.array([1767225600000], pa.timestamp("ms")),
    })
    paths = {}
    for name, tbl in (("documents", docs), ("seeds", seeds),
                      ("robots", robots)):
        paths[name] = str(tmp_path / f"{name}.parquet")
        pq.write_table(tbl, paths[name])
    return paths


def test_wildcard_blocking_e2e(spark, tmp_path):
    from ccspark.oracle import run_oracle
    from ccspark.params import CrawlParams
    from ccspark.scheduler import CrawlEngine

    fx = _mini_fixture(tmp_path)
    p = CrawlParams(rounds=1)
    want = run_oracle(fx["documents"], fx["seeds"], fx["robots"], p)
    assert want.metrics[0]["robots_blocked"] == 1     # page10 blocked
    urls = [c["url"] for c in want.scheduled[0]]
    assert any("/page119.html" in u for u in urls)    # tie -> allow
    assert not any("/page10.html" in u for u in urls)

    eng = CrawlEngine(spark, str(tmp_path / "state"), fx["documents"],
                      fx["seeds"], fx["robots"], params=p, filter_kind=None)
    metrics = eng.run()
    assert metrics[0]["robots_blocked"] == 1
    got = [r.url for r in eng.scheduled_rounds().select("url").collect()]
    assert got == urls

"""Host-level web-graph analytics for crawl prioritization.

The reference scores fetch candidates with a per-URL feature kernel
(FeaturesArffCreator.java — the 23-feature priority scorer ported in
ccspark.kernels); a production frontier additionally ranks HOSTS by link
centrality (OPIC / PageRank-style — Cho & Garcia-Molina's crawl-ordering
line of work; Page et al. 1999). This module adds that graph layer:

- `host_edges`       — deterministic host→host link graph
- `host_graph_degrees` — in/out degree per host
- `host_pagerank`    — FIXED-POINT integer PageRank, bit-exact across
                       engines (Spark / DuckDB) and across partitionings
- `anchor_text_agg`  — per-target anchor-text profile (the classic
                       web-search signal: what the web calls a URL)

Cross-engine exactness: floating-point PageRank sums depend on addition
order, which no distributed engine pins. The engine therefore computes
PageRank in SCALED INTEGER arithmetic: ranks are int64 multiples of
1e-12 (SCALE = 10^12), the damping step is `rank * 85 div 100` and the
out-degree split is integer division — both floor operations on
non-negative int64, identical in Spark (`div`) and DuckDB (`//`), and
integer sums are order-independent. Max rank is bounded by
SCALE × n_hosts ≪ 2^63 for any graph this query would see per partition.

Graph derivation: the interleaved fixture's media links all target one
CDN host (m.example.com — a star, useless for centrality), so the edge
list is synthesized from `documents` with the repo's standard md5-nibble
idiom (same trick as analytics.interleaved_docs): src host = doc_id % 50,
dst host = first md5 byte of each token % 50. Deterministic, identically
expressible in both engines, and shaped like a real host graph (skewed
in-degrees, self-loops dropped).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .analytics import t

N_HOSTS = 50
PR_SCALE = 10**12          # rank unit = 1e-12
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100
PR_ITERS = 3


def host_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst) distinct host-id edges, self-loops removed."""
    d = t(spark, sf_dir, "documents")
    return (d.select(
                (F.col("doc_id") % N_HOSTS).cast("bigint").alias("src"),
                F.explode(F.expr("filter(split(text, ' '), x -> x <> '')"))
                .alias("word"))
            .select("src",
                    (F.expr("CAST(conv(substring(md5(word), 1, 2), 16, 10)"
                            " AS BIGINT)") % N_HOSTS).alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct())


_EDGES_DUCK = (
    "SELECT DISTINCT CAST(doc_id % 50 AS BIGINT) AS src,"
    "  CAST(('0x' || substr(md5(word), 1, 2))::INT % 50 AS BIGINT) AS dst"
    " FROM (SELECT doc_id, unnest(list_filter(string_split(text, ' '),"
    "       x -> x <> '')) AS word FROM documents)"
    " WHERE doc_id % 50 <> ('0x' || substr(md5(word), 1, 2))::INT % 50")


def q_host_graph_degrees(spark, sf_dir):
    """Per-host out/in degree over the distinct edge list (J6-adjacent
    feature: the reference's same-domain / link-popularity intuition as
    an explicit graph aggregate). Hosts appearing on only one side get 0
    on the other (full outer join + coalesce)."""
    e = host_edges(spark, sf_dir)
    out_d = e.groupBy(F.col("src").alias("host")).agg(
        F.count(F.lit(1)).alias("out_deg"))
    in_d = e.groupBy(F.col("dst").alias("host")).agg(
        F.count(F.lit(1)).alias("in_deg"))
    return (out_d.join(in_d, "host", "full")
            .select(F.col("host").cast("bigint"),
                    F.coalesce("out_deg", F.lit(0)).cast("bigint")
                    .alias("out_deg"),
                    F.coalesce("in_deg", F.lit(0)).cast("bigint")
                    .alias("in_deg")))


SQL_HOST_GRAPH_DEGREES = (
    "WITH e AS (" + _EDGES_DUCK + "),"
    " o AS (SELECT src AS host, CAST(count(*) AS BIGINT) AS out_deg"
    "       FROM e GROUP BY src),"
    " i AS (SELECT dst AS host, CAST(count(*) AS BIGINT) AS in_deg"
    "       FROM e GROUP BY dst)"
    " SELECT coalesce(o.host, i.host) AS host,"
    "  coalesce(out_deg, 0) AS out_deg, coalesce(in_deg, 0) AS in_deg"
    " FROM o FULL JOIN i ON o.host = i.host")


def pagerank_fixed_point(nodes: DataFrame, edges: DataFrame,
                         iters: int = PR_ITERS) -> DataFrame:
    """Fixed-point PageRank: nodes(host), edges(src, dst) → (host, rank).

    rank_0 = SCALE;
    rank_{i+1}(v) = (SCALE × 15) div 100
                    + Σ_{u→v} ((rank_i(u) × 85 div 100) div outdeg(u))

    All int64; dangling mass (hosts with no out-edges) is dropped, the
    standard simplification when ranks are compared, not summed to 1.
    Each iteration is one join keyed on host + one groupBy — shuffle
    O(edges), the scale shape of every BSP PageRank. Lineage stays
    shallow (iters is a small constant; for large iters localCheckpoint
    per round as in dedup.connected_components).
    """
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    e = edges.join(outdeg, "src")
    base = F.lit(PR_SCALE * (PR_DAMP_DEN - PR_DAMP_NUM) // PR_DAMP_DEN)
    ranks = nodes.select("host", F.lit(PR_SCALE).cast("bigint").alias("rank"))
    for _ in range(iters):
        contrib = (e.join(ranks, e.src == ranks.host)
                   .select(F.col("dst").alias("host"),
                           F.expr(f"((rank * {PR_DAMP_NUM}) div {PR_DAMP_DEN})"
                                  " div outdeg").alias("c"))
                   .groupBy("host").agg(F.sum("c").alias("inflow")))
        ranks = (nodes.join(contrib, "host", "left")
                 .select("host",
                         (base + F.coalesce("inflow", F.lit(0)))
                         .cast("bigint").alias("rank")))
    return ranks


def q_host_pagerank(spark, sf_dir):
    e = host_edges(spark, sf_dir)
    nodes = (e.select(F.col("src").alias("host"))
             .union(e.select(F.col("dst").alias("host"))).distinct())
    return pagerank_fixed_point(nodes, e)


def _pr_iter_sql(prev: str, nxt: str) -> str:
    base = PR_SCALE * (PR_DAMP_DEN - PR_DAMP_NUM) // PR_DAMP_DEN
    return (
        f" {nxt} AS (SELECT n.host,"
        f"  CAST({base} + coalesce(f.inflow, 0) AS BIGINT) AS rank"
        f"  FROM nodes n LEFT JOIN ("
        f"    SELECT e.dst AS host,"
        f"     sum(((r.rank * {PR_DAMP_NUM}) // {PR_DAMP_DEN}) // e.outdeg)"
        f"      AS inflow"
        f"    FROM ew e JOIN {prev} r ON e.src = r.host GROUP BY e.dst"
        f"  ) f ON n.host = f.host)")


SQL_HOST_PAGERANK = (
    "WITH e AS (" + _EDGES_DUCK + "),"
    " nodes AS (SELECT DISTINCT src AS host FROM e"
    "           UNION SELECT DISTINCT dst FROM e),"
    " od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),"
    " ew AS (SELECT e.src, e.dst, od.outdeg FROM e JOIN od USING (src)),"
    f" r0 AS (SELECT host, CAST({PR_SCALE} AS BIGINT) AS rank FROM nodes),"
    + _pr_iter_sql("r0", "r1") + "," + _pr_iter_sql("r1", "r2") + ","
    + _pr_iter_sql("r2", "r3") +
    " SELECT host, rank FROM r3")


def apply_pagerank_prior(canon: DataFrame, weight: float,
                         iters: int = PR_ITERS) -> DataFrame:
    """Boost canonicalized candidates' priority with a host-centrality
    prior computed on THIS batch's link graph (OPIC-style crawl
    ordering; params.pagerank_prior_weight).

    Edges: distinct (src, dst) where src = lowercased www-stripped
    host(page_url) (the page the link was found on; seeds have
    page_url='' → no edge) and dst = the candidate's host_key,
    self-loops dropped. Nodes: every candidate host_key plus every src.
    priority += weight × rank/10^12 — ranks are the fixed-point
    integers of pagerank_fixed_point, and the boost is one float
    multiply-add per row (NO float sums), so the resulting total order
    is bit-reproducible across engines and partitionings. The rank join
    keys on host_key against a hosts-sized (tiny) rank table —
    broadcast at any realistic host count."""
    from .udfs import host_udf

    src = (canon.select(host_udf("page_url").alias("ph"), "host_key")
           .withColumn("src", F.lower(F.regexp_replace("ph", r"^www\.", "")))
           .filter(F.col("src").isNotNull() & (F.col("src") != "")))
    edges = (src.select("src", F.col("host_key").alias("dst"))
             .filter(F.col("src") != F.col("dst")).distinct())
    nodes = (canon.select(F.col("host_key").alias("host"))
             .union(edges.select(F.col("src").alias("host"))).distinct())
    ranks = (pagerank_fixed_point(nodes, edges, iters=iters)
             .select(F.col("host").alias("_pr_host"), "rank"))
    return (canon.join(F.broadcast(ranks),
                       canon.host_key == ranks._pr_host, "left")
            .drop("_pr_host")
            .withColumn(
                "priority",
                F.col("priority")
                + F.lit(float(weight))
                * (F.coalesce(F.col("rank"), F.lit(0)).cast("double")
                   / F.lit(1.0e12)))
            .drop("rank"))


def q_anchor_text_agg(spark, sf_dir):
    """Anchor-text profile per link target: how many links/pages point at
    each URL and the dominant anchor text (count DESC, text ASC
    tie-break — deterministic). The reference stores per-media alt text
    row-by-row (MediaNodeVisitor.java:146-152 'altTxt'); aggregating it
    per target is the classic web-search/anchor signal. Runs over the
    oracle-shaped interleaved docs (same derivation as span_extract)."""
    from .analytics import interleaved_docs
    from .extract import extract_links

    links = extract_links(interleaved_docs(spark, sf_dir),
                          follow_links=True)
    per_alt = (links.groupBy("url_raw", "alt")
               .agg(F.count(F.lit(1)).alias("cnt"),
                    F.countDistinct("page_url").alias("pages")))
    w = Window.partitionBy("url_raw").orderBy(
        F.col("cnt").desc(), F.col("alt").asc())
    return (per_alt
            .withColumn("rn", F.row_number().over(w))
            .groupBy("url_raw")
            .agg(F.sum("cnt").cast("bigint").alias("n_links"),
                 F.sum("pages").cast("bigint").alias("n_page_alt_pairs"),
                 F.max(F.when(F.col("rn") == 1, F.col("alt")))
                 .alias("top_alt"),
                 F.max(F.when(F.col("rn") == 1, F.col("cnt")))
                 .cast("bigint").alias("top_alt_cnt")))


# The interleaved-docs / span-emission derivation mirrors
# analytics.SQL_SPAN_EXTRACT (follow_links=True here: 'a' spans emit
# unconditionally, iframe still media-only).
_LINKS_DUCK = (
    "SELECT ref AS url_raw,"
    "  concat('http://site', doc_id % 50, '.example.com/p', doc_id,"
    "         '.html') AS page_url,"
    "  w AS alt"
    " FROM ("
    "  SELECT doc_id, toks[i] AS w,"
    "   ('0x' || substr(md5(concat(doc_id, '_', i - 1)), 1, 1))::INT AS k,"
    "   ('0x' || substr(md5(concat(doc_id, '_', i - 1)), 2, 1))::INT AS e"
    "  FROM (SELECT doc_id, list_filter(string_split(text, ' '),"
    "        x -> x <> '') AS toks FROM documents),"
    "   LATERAL unnest(generate_series(1, len(toks))) AS u(i)) tok,"
    " LATERAL (SELECT CASE WHEN k < 7 THEN 'text' WHEN k = 7 THEN 'img'"
    "   WHEN k = 8 THEN 'a' ELSE 'iframe' END AS kind,"
    "  CASE WHEN k < 7 THEN '' ELSE concat('http://m.example.com/', w,"
    "   CASE WHEN e = 0 THEN '' WHEN e <= 5 THEN '.jpg'"
    "        WHEN e <= 10 THEN '.html' ELSE '.swf' END) END AS ref) s"
    " WHERE kind <> 'text' AND ref <> '' AND (kind IN ('img', 'a')"
    "  OR (kind = 'iframe' AND regexp_matches(ref,"
    "  '^(?i).*\\.(jpg|jpeg|png|gif|bmp|3gp|avi|flv|m4v|mov|mpg|mp4|mpeg|swf|wmv)$')))")

SQL_ANCHOR_TEXT_AGG = (
    "WITH links AS (" + _LINKS_DUCK + "),"
    " per_alt AS (SELECT url_raw, alt, CAST(count(*) AS BIGINT) AS cnt,"
    "   CAST(count(DISTINCT page_url) AS BIGINT) AS pages"
    "   FROM links GROUP BY url_raw, alt),"
    " ranked AS (SELECT *, row_number() OVER (PARTITION BY url_raw"
    "   ORDER BY cnt DESC, alt ASC) AS rn FROM per_alt)"
    " SELECT url_raw, CAST(sum(cnt) AS BIGINT) AS n_links,"
    "  CAST(sum(pages) AS BIGINT) AS n_page_alt_pairs,"
    "  max(CASE WHEN rn = 1 THEN alt END) AS top_alt,"
    "  CAST(max(CASE WHEN rn = 1 THEN cnt END) AS BIGINT) AS top_alt_cnt"
    " FROM ranked GROUP BY url_raw")


# ---------------------------------------------------------------------------
# mirror-site detection (host-level content overlap, Broder-style)
# ---------------------------------------------------------------------------
# Crawlers burn budget re-fetching mirrors (the same site under several
# hostnames — CDNs, country aliases, scraped clones). The classic
# detector (Broder et al.'s resemblance applied at host granularity;
# Bharat & Broder, WWW 1999) is content-digest overlap: host pair
# similarity = Jaccard of their page-digest SETS. The shuffle-native
# plan inverts the host×host problem: join hosts THROUGH shared digests
# (shuffle keyed on digest — content-hash partitioning), count
# co-occurrences per pair, and divide by the per-host set sizes. Pair
# blowup through boilerplate digests shared by everyone is cut by the
# standard document-frequency cap (digests on > MIRROR_DF_CAP hosts are
# dropped — they carry no mirror signal; logged contract, the same A8
# move the vocab pruning uses).
#
# Fixture: 24 hosts in 8 mirror families of 3 (host mod 8); a page's
# digest embeds (content id, family) so same-family hosts share most
# digests (their order-key coverage overlaps but is not identical —
# realistic partial mirroring) and cross-family pairs share none.

MIRROR_N_HOSTS = 24
MIRROR_FAMILIES = 8
MIRROR_DF_CAP = 16
MIRROR_JACCARD_MIN = 0.5


def _host_digests(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    host = (F.col("o_orderkey") % MIRROR_N_HOSTS).cast("bigint")
    fam = host % MIRROR_FAMILIES
    digest = F.md5(F.concat(F.lit("doc"),
                            F.expr(f"o_orderkey div {MIRROR_N_HOSTS}")
                            .cast("string"),
                            F.lit(":"), fam.cast("string")))
    return (o.select(host.alias("host"), digest.alias("digest"))
            .distinct())


_HOST_DIGESTS_DUCK = (
    "SELECT DISTINCT CAST(o_orderkey % 24 AS BIGINT) AS host,"
    " md5('doc' || CAST(o_orderkey // 24 AS VARCHAR) || ':'"
    "     || CAST((o_orderkey % 24) % 8 AS VARCHAR)) AS digest"
    " FROM orders")


def q_mirror_hosts(spark, sf_dir):
    """Host pairs with digest-set Jaccard ≥ MIRROR_JACCARD_MIN."""
    hd = _host_digests(spark, sf_dir)
    sizes = hd.groupBy("host").agg(F.count(F.lit(1)).alias("n"))
    hot = (hd.groupBy("digest").agg(F.count(F.lit(1)).alias("df"))
           .filter(F.col("df") > MIRROR_DF_CAP).select("digest"))
    hd2 = hd.join(hot, "digest", "left_anti")
    pairs = (hd2.alias("a")
             .join(hd2.alias("b"), "digest")
             .filter(F.col("a.host") < F.col("b.host"))
             .groupBy(F.col("a.host").alias("host_a"),
                      F.col("b.host").alias("host_b"))
             .agg(F.count(F.lit(1)).alias("inter")))
    return (pairs
            .join(sizes.select(F.col("host").alias("host_a"),
                               F.col("n").alias("na")), "host_a")
            .join(sizes.select(F.col("host").alias("host_b"),
                               F.col("n").alias("nb")), "host_b")
            .withColumn("jaccard", F.round(
                F.col("inter")
                / (F.col("na") + F.col("nb") - F.col("inter")), 6))
            .filter(F.col("jaccard") >= MIRROR_JACCARD_MIN)
            .select("host_a", "host_b", F.col("inter").cast("bigint")
                    .alias("shared_docs"), "jaccard"))


SQL_MIRROR_HOSTS = (
    "WITH hd AS (" + _HOST_DIGESTS_DUCK + "),"
    " sizes AS (SELECT host, count(*) AS n FROM hd GROUP BY host),"
    " hot AS (SELECT digest FROM hd GROUP BY digest"
    f"         HAVING count(*) > {MIRROR_DF_CAP}),"
    " hd2 AS (SELECT * FROM hd WHERE digest NOT IN (SELECT digest FROM hot)),"
    " pairs AS (SELECT a.host AS host_a, b.host AS host_b,"
    "                  count(*) AS inter"
    "           FROM hd2 a JOIN hd2 b USING (digest)"
    "           WHERE a.host < b.host GROUP BY a.host, b.host)"
    " SELECT host_a, host_b, CAST(inter AS BIGINT) AS shared_docs,"
    "  round(inter / (sa.n + sb.n - inter), 6) AS jaccard"
    " FROM pairs JOIN sizes sa ON sa.host = host_a"
    "            JOIN sizes sb ON sb.host = host_b"
    f" WHERE round(inter / (sa.n + sb.n - inter), 6) >= {MIRROR_JACCARD_MIN}")


def q_mirror_clusters(spark, sf_dir):
    """Mirror families: connected components of the mirror-pair graph
    (reuses dedup.connected_components — min-host label propagation),
    singletons included with cluster_id = own id. The budget planner
    then crawls ONE representative per cluster."""
    from .dedup import connected_components

    pairs = (q_mirror_hosts(spark, sf_dir)
             .select(F.col("host_a").alias("doc_a"),
                     F.col("host_b").alias("doc_b")))
    hosts = (_host_digests(spark, sf_dir).select("host").distinct()
             .select(F.col("host").alias("doc_id")))
    return (connected_components(hosts, pairs)
            .select(F.col("doc_id").alias("host"),
                    F.col("cluster_id").alias("mirror_cluster")))


SQL_MIRROR_CLUSTERS = (
    "WITH RECURSIVE hd AS (" + _HOST_DIGESTS_DUCK + "),"
    " sizes AS (SELECT host, count(*) AS n FROM hd GROUP BY host),"
    " hot AS (SELECT digest FROM hd GROUP BY digest"
    f"         HAVING count(*) > {MIRROR_DF_CAP}),"
    " hd2 AS (SELECT * FROM hd WHERE digest NOT IN (SELECT digest FROM hot)),"
    " pairs AS (SELECT a.host AS host_a, b.host AS host_b,"
    "                  count(*) AS inter"
    "           FROM hd2 a JOIN hd2 b USING (digest)"
    "           WHERE a.host < b.host GROUP BY a.host, b.host),"
    " mp AS (SELECT host_a, host_b FROM pairs"
    "        JOIN sizes sa ON sa.host = host_a"
    "        JOIN sizes sb ON sb.host = host_b"
    "  WHERE round(inter / (sa.n + sb.n - inter), 6)"
    f"        >= {MIRROR_JACCARD_MIN}),"
    " e AS (SELECT host_a AS src, host_b AS dst FROM mp"
    "       UNION ALL SELECT host_b, host_a FROM mp),"
    " reach(v, u) AS ("
    "   SELECT host, host FROM (SELECT DISTINCT host FROM hd)"
    "   UNION"
    "   SELECT r.v, e.dst FROM reach r JOIN e ON e.src = r.u)"
    " SELECT CAST(v AS BIGINT) AS host,"
    "  CAST(min(u) AS BIGINT) AS mirror_cluster"
    " FROM reach GROUP BY v")


# ---------------------------------------------------------------------------
# BFS seed distance — crawl-depth structure of the host graph
# ---------------------------------------------------------------------------
# A frontier's `depth` column (max-hops policy, params.max_hops) is BFS
# distance from the seed set measured on the URL graph as the crawl
# discovers it; this op computes the same quantity on the HOST graph
# up front — the "how far does this crawl reach in k hops" planning
# number (Cho & Garcia-Molina's crawl-ordering analyses report exactly
# this seed-distance distribution). The Spark plan is the crawl loop's
# own shape run to fixpoint: per level one join (frontier ⋈ edges,
# keyed src) + distinct + LEFT ANTI against the visited set — the
# identical anti-join the URL-seen filter runs per round (seen.py), so
# its scale story is the engine's: shuffle O(frontier-edges) per level,
# visited set bucket-partitioned, lineage cut per level with
# localCheckpoint (the dedup.connected_components discipline). Early
# exit when a level adds no hosts (isEmpty on the checkpointed level —
# no extra job: the checkpoint already materialized it).
#
# Depths are small ints, sums never occur — cross-engine exactness is
# free. The DuckDB twin is the textbook bounded recursive CTE with
# min(depth) — same semantics because BFS depth IS min walk length.

BFS_SEEDS = [0, 10, 20, 30, 40]
BFS_MAX_DEPTH = 8


def bfs_depth(spark: SparkSession, seeds: DataFrame, edges: DataFrame,
              max_depth: int = BFS_MAX_DEPTH) -> DataFrame:
    """seeds(host), edges(src, dst) → (host, depth): BFS distance from
    the seed set, hosts unreachable within max_depth excluded."""
    visited = (seeds.select("host", F.lit(0).cast("bigint").alias("depth"))
               .localCheckpoint())
    frontier = visited
    for d in range(1, max_depth + 1):
        nxt = (edges.join(frontier.select(F.col("host").alias("src")), "src")
               .select(F.col("dst").alias("host")).distinct()
               .join(visited.select("host"), "host", "left_anti")
               .withColumn("depth", F.lit(d).cast("bigint"))
               .localCheckpoint())
        if nxt.isEmpty():
            break
        visited = visited.union(nxt).localCheckpoint()
        frontier = nxt
    return visited


def q_host_bfs_depth(spark, sf_dir):
    e = host_edges(spark, sf_dir)
    seeds = spark.createDataFrame(pd.DataFrame({"host": BFS_SEEDS}),
                                  "host bigint")
    return bfs_depth(spark, seeds, e)


SQL_HOST_BFS_DEPTH = (
    "WITH RECURSIVE e AS (" + _EDGES_DUCK + "),"
    " walk(host, depth) AS ("
    "   SELECT * FROM (VALUES "
    + ", ".join(f"({s}, 0)" for s in BFS_SEEDS) + ") v(host, depth)"
    "   UNION"
    "   SELECT e.dst, w.depth + 1 FROM walk w JOIN e ON e.src = w.host"
    f"   WHERE w.depth < {BFS_MAX_DEPTH})"
    " SELECT CAST(host AS BIGINT) AS host,"
    "  CAST(min(depth) AS BIGINT) AS depth"
    " FROM walk GROUP BY host")


# ---------------------------------------------------------------------------
# HITS hubs/authorities — the link-centrality complement to PageRank
# ---------------------------------------------------------------------------
# Kleinberg's HITS (JACM 1999): auth(v) = Σ_{u→v} hub(u), hub(u) =
# Σ_{u→v} auth(v), alternated. The textbook algorithm L2-normalizes per
# iteration — a float reduction whose value depends on summation order,
# which no distributed engine pins. Since only the RANKING is consumed
# (crawl prioritization, like the PageRank prior above), the engine
# runs the UN-normalized integer recurrence: hub_0 = 1, then
# HITS_ITERS alternations of pure int64 sums — order-independent,
# bit-equal across engines and partitionings, and ordinally identical
# to normalized HITS (normalization is a positive scalar per
# iteration). Magnitudes grow like (avg_deg)^(2·iters): ~degree⁴ at
# iters=2 — ≪ 2^63 for any per-partition host graph this engine would
# rank; at web scale you shard by component and rescale between
# iterations (divide by a power of two — still exact), documented
# rather than implemented because the fixture never needs it.
# Plan shape per half-iteration: one broadcast-or-shuffle join keyed on
# the host + one partial-aggregated groupBy — identical to the
# PageRank iteration above; the rank table stays hosts-sized (tiny next
# to the edge list), the classic BSP centrality shape.

HITS_ITERS = 2


def q_host_hits(spark, sf_dir):
    e = host_edges(spark, sf_dir)
    nodes = (e.select(F.col("src").alias("host"))
             .union(e.select(F.col("dst").alias("host"))).distinct())
    hub = nodes.select("host", F.lit(1).cast("bigint").alias("hub"))
    auth = None
    for _ in range(HITS_ITERS):
        a = (e.join(hub.withColumnRenamed("host", "src"), "src")
             .groupBy(F.col("dst").alias("host"))
             .agg(F.sum("hub").alias("s")))
        auth = (nodes.join(a, "host", "left")
                .select("host", F.coalesce("s", F.lit(0)).cast("bigint")
                        .alias("auth")))
        h = (e.join(auth.withColumnRenamed("host", "dst"), "dst")
             .groupBy(F.col("src").alias("host"))
             .agg(F.sum("auth").alias("s")))
        hub = (nodes.join(h, "host", "left")
               .select("host", F.coalesce("s", F.lit(0)).cast("bigint")
                       .alias("hub")))
    return auth.join(hub, "host").select("host", "auth", "hub")


def _hits_iter_sql(hub_prev: str, auth: str, hub: str) -> str:
    return (
        f" {auth} AS (SELECT n.host,"
        f"  CAST(coalesce(s, 0) AS BIGINT) AS auth FROM nodes n"
        f"  LEFT JOIN (SELECT e.dst AS host, sum(p.hub) AS s"
        f"   FROM e JOIN {hub_prev} p ON e.src = p.host GROUP BY e.dst) f"
        f"  ON n.host = f.host),"
        f" {hub} AS (SELECT n.host,"
        f"  CAST(coalesce(s, 0) AS BIGINT) AS hub FROM nodes n"
        f"  LEFT JOIN (SELECT e.src AS host, sum(a.auth) AS s"
        f"   FROM e JOIN {auth} a ON e.dst = a.host GROUP BY e.src) f"
        f"  ON n.host = f.host)")


def _hits_sql(iters: int = HITS_ITERS) -> str:
    """DuckDB twin generated from HITS_ITERS (the BPE twin's
    loop-generated-SQL discipline) so bumping the constant can never
    desync the oracle from the Spark loop."""
    ctes = "".join(
        _hits_iter_sql(f"h{i}", f"a{i + 1}", f"h{i + 1}") + ","
        for i in range(iters))
    return (
        "WITH e AS (" + _EDGES_DUCK + "),"
        " nodes AS (SELECT DISTINCT src AS host FROM e"
        "           UNION SELECT DISTINCT dst FROM e),"
        " h0 AS (SELECT host, CAST(1 AS BIGINT) AS hub FROM nodes),"
        + ctes.rstrip(",") +
        f" SELECT a{iters}.host, a{iters}.auth, h{iters}.hub"
        f" FROM a{iters} JOIN h{iters}"
        f" ON a{iters}.host = h{iters}.host")


SQL_HOST_HITS = _hits_sql()


REG: dict[str, tuple] = {
    "mirror_hosts": (q_mirror_hosts, SQL_MIRROR_HOSTS),
    "mirror_clusters": (q_mirror_clusters, SQL_MIRROR_CLUSTERS),
    "host_graph_degrees": (q_host_graph_degrees, SQL_HOST_GRAPH_DEGREES),
    "host_pagerank": (q_host_pagerank, SQL_HOST_PAGERANK),
    "anchor_text_agg": (q_anchor_text_agg, SQL_ANCHOR_TEXT_AGG),
    "host_bfs_depth": (q_host_bfs_depth, SQL_HOST_BFS_DEPTH),
    "host_hits": (q_host_hits, SQL_HOST_HITS),
}

"""Per-host politeness: robots gate + crawl-delay budgets + hot-host salting.

The reference's politeness is a single global 150 ms inter-fetch gate
(ProcessingService.java:57,235-240) — it serializes ALL hosts behind one
timestamp. The north_rule generalizes it per host:

    budget(host) = floor(round_seconds / crawl_delay(host))

robots.txt handling is absent in the reference (SURVEY.md U12); here it is
a cache table host → (crawl_delay, disallow[], fetched_at) joined into
admission (disallow) and scheduling (budget).

Skew: one hot host must not serialize a task. Scheduling is an exact
salted top-K-per-key: rows are pre-pruned inside (host, salt) windows —
any row in a host's true top-B is necessarily in the top-B of its salt
group — then the final per-host window ranks at most num_salts × B rows
per host instead of the host's full candidate mass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .params import CrawlParams

#: frontier total order (U13) as Spark sort columns; pri_col swaps in
#: the aged effective priority ("_eff") when priority aging is on —
#: (pri, depth, surt, url) stays total because url is unique per row
def order_cols(pri_col: str = "priority"):
    return [F.col(pri_col).desc(), F.col("depth").asc(),
            F.col("surt").asc(), F.col("url").asc()]


def _robots_rule_matches(path, p):
    """RFC 9309 §2.2.2 rule match as a pure JVM expression: the URL path
    matches pattern ``p`` where '*' matches any character sequence and a
    TRAILING '$' anchors end-of-path; every other character is literal
    (a mid-pattern '$' included). Wildcard-free patterns take the
    startswith fast path — the regex build runs only for rules that
    need it."""
    has_dollar = p.endswith("$")
    body = F.when(has_dollar,
                  F.substr(p, F.lit(1), F.length(p) - 1)).otherwise(p)
    # escape every regex metachar (including '*'), then turn the escaped
    # star back into '.*' — leaves all other chars literal
    esc = F.regexp_replace(body, r"([\\.\[\](){}+?^$|*])", r"\\$1")
    rx = F.concat(F.lit("^"), F.regexp_replace(esc, r"\\\*", ".*"),
                  F.when(has_dollar, F.lit("$")).otherwise(F.lit("")))
    plain = (~p.contains("*")) & (~has_dollar)
    return F.when(plain, path.startswith(p)).otherwise(
        F.regexp_like(path, rx))


def _best_match_len(path, rules):
    """Length of the longest rule in ``rules`` matching ``path`` (0 when
    none match) — RFC 9309 specificity is pattern length as written."""
    return F.aggregate(
        F.filter(rules, lambda p: _robots_rule_matches(path, p)),
        F.lit(0), lambda acc, p: F.greatest(acc, F.length(p)))


def with_robots_blocked_flag(candidates: DataFrame, robots: DataFrame) -> DataFrame:
    """Attach `_blocked` per RFC 9309 §2.2.2: among all matching Allow
    and Disallow rules for the host, the LONGEST wins; a tie is allow
    (least restrictive). No matching rule = allowed. Plain equi-join on
    host_key (Catalyst broadcasts a small robots table automatically; at
    1e8-host scale it becomes a shuffle join on the same key the
    frontier is already partitioned by). A robots cache without an
    `allow` column (pre-RFC builds) degrades to disallow-only — the old
    any-prefix semantics."""
    rb_cols = [F.col("host").alias("host_key"), F.col("disallow")]
    if "allow" in robots.columns:
        rb_cols.append(F.col("allow"))
    joined = candidates.join(robots.select(*rb_cols), "host_key", "left")
    if "allow" not in robots.columns:
        joined = joined.withColumn(
            "allow", F.lit(None).cast("array<string>"))
    # match target per RFC 9309 / Google robots spec: path INCLUDING the
    # query ('/*.php' matches '/file.php?x=1'), excluding the fragment.
    # (NOT F.parse_url — its java.net.URI backend throws on URLs the
    # reference's java.net.URL semantics accept.)
    path = F.regexp_extract(
        F.col("url"), r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^#]*)", 1)
    empty = F.array().cast("array<string>")
    dis_best = _best_match_len(path, F.coalesce(F.col("disallow"), empty))
    alw_best = _best_match_len(path, F.coalesce(F.col("allow"), empty))
    return (joined
            .withColumn("_blocked", dis_best > alw_best)
            .drop("disallow", "allow"))


def robots_admission_filter(candidates: DataFrame, robots: DataFrame) -> DataFrame:
    """Drop candidates blocked by robots (filter form of the flag above)."""
    return (with_robots_blocked_flag(candidates, robots)
            .filter(~F.col("_blocked")).drop("_blocked"))


def _effective_delay(params: CrawlParams, host_delays: DataFrame | None):
    """Per-host delay (seconds) after the left joins of robots `_delay`
    and, when adaptive politeness is on, the previous round's `_ad_ms`
    integer mean-latency-derived floor: max(robots-or-default, ad_ms/1e3).
    One integer→double division + one double max — bit-equal cross-engine."""
    delay = F.coalesce(F.col("_delay"), F.lit(params.default_crawl_delay))
    if host_delays is not None:
        delay = F.greatest(
            delay, F.coalesce(F.col("_ad_ms") / F.lit(1000.0), F.lit(0.0)))
    return delay


def _join_delays(df: DataFrame, robots: DataFrame,
                 host_delays: DataFrame | None) -> DataFrame:
    out = df.join(robots.select(F.col("host").alias("host_key"),
                                F.col("crawl_delay").alias("_delay")),
                  "host_key", "left")
    if host_delays is not None:
        out = out.join(host_delays.select("host_key", F.col("adaptive_ms")
                                          .alias("_ad_ms")),
                       "host_key", "left")
    return out


def ip_group_col(n_groups: int):
    """Deterministic host → address-group id (per-IP politeness): the
    sandbox DNS stand-in, md5('ip:' + host_key) first 15 hex digits mod
    n_groups — the same cross-engine md5-band derivation fetchsim uses
    (kernels.md5_key_one). A deployment replaces this expression with
    the resolver's output column; everything downstream keys on the id."""
    return F.pmod(
        F.conv(F.substring(F.md5(F.concat(F.lit("ip:"), F.col("host_key"))),
                           1, 15), 16, 10).cast("long"),
        F.lit(n_groups)).cast("int")


def domain_group_col():
    """host → registered domain (publicsuffix rule over kernels.PSL2):
    the per-SITE politeness unit — a site's subdomains (crawl budget
    multiplication's favorite loophole) share one budget. Pure string
    expressions, mirrors kernels.registered_domain_one exactly."""
    from .kernels import PSL2
    labels = F.split("host_key", r"\.")
    n = F.size(labels)
    last2 = F.concat_ws(".", F.slice(labels, n - 1, 2))
    last3 = F.concat_ws(".", F.slice(labels, n - 2, 3))
    psl = F.array(*[F.lit(s) for s in PSL2])
    return (F.when((n >= 3) & F.array_contains(psl, last2), last3)
            .when(n >= 2, last2)
            .otherwise(F.col("host_key")))


def politeness_group_col(params: CrawlParams):
    """The politeness-unit key expression when grouping is on, else
    None: address group (politeness_ip_groups) or registered domain
    (politeness_by_domain). Both at once is a config error."""
    assert not (params.politeness_ip_groups is not None
                and params.politeness_by_domain), \
        "politeness_ip_groups and politeness_by_domain are exclusive"
    if params.politeness_ip_groups is not None:
        return ip_group_col(params.politeness_ip_groups)
    if params.politeness_by_domain:
        return domain_group_col()
    return None


def group_delays(frontier: DataFrame, robots: DataFrame,
                 params: CrawlParams,
                 host_delays: DataFrame | None = None) -> DataFrame:
    """(_gk, _gd): each politeness group's effective delay = MAX of its
    member hosts' effective (robots ∨ adaptive) delays over the hosts
    present in the CURRENT frontier — the shared server/site is crawled
    at its slowest member's cadence. Groups-sized output; the max is a
    map-side-combinable aggregate, so a hot group (many vhosts on one
    address / subdomains on one site) is absorbed in partial
    aggregation, not a single task."""
    return (_join_delays(frontier, robots, host_delays)
            .withColumn("_gk", politeness_group_col(params))
            .groupBy("_gk")
            .agg(F.max(_effective_delay(params, host_delays)).alias("_gd")))


def schedule_frontier(frontier: DataFrame, robots: DataFrame,
                      params: CrawlParams,
                      host_delays: DataFrame | None = None,
                      ip_delays: DataFrame | None = None,
                      pri_col: str = "priority") -> DataFrame:
    """Exact per-politeness-unit top-budget selection under the total
    order, salted for hot units. The unit is the host (default) or, when
    `ip_delays` is given (params.politeness_ip_groups /
    politeness_by_domain), the group — same two-phase salted window,
    different key. Returns the scheduled rows stamped with
    `fetch_offset_ms` = rank-within-unit × effective delay(unit): the
    explicit, per-unit form of the reference's inter-fetch interval
    stamping (ProcessingService.java:235-240 lastDownLoadCall). Budget
    and offset share one delay and one rank: the unit window's
    row_number under the frontier total order. For groups the delay is
    the FRONTIER-derived group max, not a max over the scheduled subset
    (the slowest member may not have been scheduled)."""
    if ip_delays is not None:
        key = "_gk"
        fb = (frontier.withColumn("_gk", politeness_group_col(params))
              .join(ip_delays, "_gk"))
    else:
        key = "host_key"
        # `_gd` on both paths: the unit's effective delay in seconds
        fb = (_join_delays(frontier, robots, host_delays)
              .withColumn("_gd", _effective_delay(params, host_delays))
              .drop("_delay", "_ad_ms"))
    salt = F.pmod(F.xxhash64("url"), F.lit(params.num_salts)).cast("int")
    fb = (fb.withColumn("budget",
                        F.floor(F.lit(params.round_seconds)
                                / F.col("_gd")).cast("int"))
          .withColumn("salt", salt))
    w_salt = Window.partitionBy(key, "salt").orderBy(*order_cols(pri_col))
    pruned = (fb.withColumn("_srn", F.row_number().over(w_salt))
              .filter(F.col("_srn") <= F.col("budget"))
              .drop("_srn", "salt"))
    w_host = Window.partitionBy(key).orderBy(*order_cols(pri_col))
    sched = (pruned.withColumn("_rn", F.row_number().over(w_host))
             .filter(F.col("_rn") <= F.col("budget"))
             .withColumn("fetch_offset_ms",
                         ((F.col("_rn") - 1) * F.col("_gd") * 1000)
                         .cast("long"))
             .drop("_rn", "budget", "_gd", "_gk"))
    if params.max_scheduled_per_round is not None:
        # U9 backpressure: global top-K in total order. TakeOrderedAndProject
        # keeps this a per-partition top-K + single merge, not a full sort.
        # Offsets are stamped before the cut and stay exact: the unit
        # window sorts by the same total order, so each unit's kept rows
        # are a prefix of its window and keep their ranks.
        sched = (sched.orderBy(*order_cols(pri_col))
                 .limit(params.max_scheduled_per_round))
    return sched

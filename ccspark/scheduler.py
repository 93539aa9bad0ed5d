"""The crawl scheduler — round-based frontier loop (SURVEY.md §3.3).

Spark restatement of the reference's CommonCrawlAnalyzer pipeline
(CommonCrawlAnalyzer.java:96-139 + ProcessingService.java:176-252) and of
its 500-file chunked sequential-job loop (AWSMediaExtractor.java:71-84),
with one scheduling round = `CrawlEngine.run_round`, the ordered phases

    admit      re-admission (recrawl, revisit), max-hops, canonicalize
               (one Arrow pass), PageRank prior, robots, crawl traps
    seen       first-wins batch dedup, bloom/exact seen anti-join
               (`filter_new`), per-host quota, seen Δ + bloom commit
    domains    first-seen hosts commit
    schedule   frontier union, priority view (aging, dual-model),
    + fetch    adaptive/group delays, per-host politeness budget
               (salted top-K), fetch-sim, scheduled + frontier commits
    discover   discovery join, content dedup, links + redirects →
               next candidates commit
    then the round-log commit and maintenance (compaction, expiry,
    rebucket). Every per-round metric (frontier-depth, dedup-rate —
    north_rule) is a count observed on a job the round already runs.

Every round is resumable: the round log records the table versions a
completed round produced; resume rolls tables back to the last complete
round and continues. Crawl ordering and the URL-seen set match
ccspark.oracle exactly (tested per-round, rows AND order).
"""

from __future__ import annotations

import time
from functools import reduce

from pyspark.sql import (DataFrame, Observation, SparkSession, Window,
                         functions as F, types as T)

from .extract import extract_links
from .fetchsim import discovered_docs, with_fetch_sim
from .params import CrawlParams
from .politeness import (order_cols, robots_admission_filter,
                         group_delays, schedule_frontier)
from .seen import SeenSet, with_bucket
from .tables import SnapshotStore, SnapshotTable
from .udfs import CANON_FIELDS, canon_batches, dual_big_udf

CANDIDATE_SCHEMA = T.StructType([
    T.StructField("url_raw", T.StringType()),
    T.StructField("page_url", T.StringType()),
    T.StructField("kind", T.StringType()),
    T.StructField("alt", T.StringType()),
    T.StructField("parent_txt", T.StringType()),
    T.StructField("dom_depth", T.IntegerType()),
    T.StructField("dom_sib", T.IntegerType()),
    T.StructField("src_doc_id", T.StringType()),
    T.StructField("offset", T.IntegerType()),
    # event time (epoch ms) of the discovery — fetch time of the source
    # page; null for seeds / pre-event-time candidate files. Used only by
    # the streaming watermark path (streaming.discovery_rate).
    T.StructField("event_ms", T.LongType()),
])

FRONTIER_COLS = ["url", "url_hash", "bucket", "host", "host_key", "surt",
                 "priority", "depth", "kind", "alt", "parent_txt",
                 "dom_depth", "dom_sib", "src_doc_id", "offset"]


def span_serial_expr():
    """The document's interleaved span sequence serialized in offset
    order as 'offset:kind:body' lines (body = text, or media_ref for
    media spans) — the canonical fetched representation. Shared by the
    WARC payload (export_warc) and the content-digest dedup
    (params.content_dedup); the pure-Python twin is
    oracle._span_serial — byte-for-byte identical by construction."""
    return F.array_join(
        F.transform(
            F.array_sort(F.expr(
                "transform(spans, s -> struct("
                " s.offset AS offset, s.kind AS kind,"
                " coalesce(nullif(s.text, ''), s.media_ref) AS body))")),
            lambda s: F.concat_ws(":", s["offset"], s["kind"], s["body"])),
        "\n")


class _Counts:
    """Row counts observed on the jobs a round already runs, by name.
    `tap` attaches the observation where the count is taken;
    `counts[name]` reads it once an action has run the frame. An
    optimizer that proves a branch empty may eliminate the
    CollectMetrics node entirely (AQE's AQEPropagateEmptyRelation is
    excluded in get_spark, but sessions built elsewhere — e.g. the
    driver harness — may keep it); the read then counts the tap's
    fallback frame instead."""

    def __init__(self):
        self._taps: dict[str, tuple[Observation, DataFrame]] = {}

    def tap(self, name: str, df: DataFrame, where=None) -> DataFrame:
        """`df` observing its row count as `name` — or, given the
        boolean Column `where`, the number of rows where it holds. The
        fallback is `df` (or `df.filter(where)`)."""
        obs = Observation()
        if where is None:
            n, fallback = F.count(F.lit(1)), df
        else:
            n = F.coalesce(F.sum(where.cast("long")), F.lit(0))
            fallback = df.filter(where)
        self._taps[name] = (obs, fallback)
        return df.observe(obs, n.alias("n"))

    def __contains__(self, name: str) -> bool:
        return name in self._taps

    def __getitem__(self, name: str) -> int:
        obs, fallback = self._taps[name]
        try:
            return int(obs.get["n"])
        except Exception:
            return fallback.count()


class _Round:
    """One round's working state, shared by its phases: the round
    number, its metrics, the table versions it committed, its observed
    counts, and the frames it cached (unpersisted when the round ends,
    whether it completes or raises)."""

    def __init__(self, r: int):
        self.r = r
        self.m: dict = {"round": r}
        self.versions: dict[str, int] = {}
        self.counts = _Counts()
        self.cached: list[DataFrame] = []

    def cache(self, df: DataFrame) -> DataFrame:
        self.cached.append(df.cache())
        return self.cached[-1]

    def record(self, *names: str) -> None:
        """Copy each tapped count among `names` into the metrics."""
        for name in names:
            if name in self.counts:
                self.m[name] = self.counts[name]


_CANDIDATE_DEFAULTS = {T.StringType(): "", T.IntegerType(): 0}  # else null


def candidate_rows(df: DataFrame, hop=None, **cols) -> DataFrame:
    """Project ``df`` onto CANDIDATE_SCHEMA: each field is the Column
    passed under its name, else its default ('' for strings, 0 for ints,
    null event_ms). ``hop`` (max-hops lineage) is appended when given."""
    return df.select(
        *[cols.get(f.name, F.lit(_CANDIDATE_DEFAULTS.get(f.dataType))
                   .cast(f.dataType)).alias(f.name)
          for f in CANDIDATE_SCHEMA],
        *([hop.alias("hop")] if hop is not None else []))


def seeds_to_candidates(seeds: DataFrame) -> DataFrame:
    """Seed list → round-0 candidates (S4; MultithreadedAnalyzer.java:185-202)."""
    return candidate_rows(seeds, url_raw=F.col("url"), kind=F.lit("seed"),
                          src_doc_id=F.lit("seed"))


def canonicalize(candidates: DataFrame, round_no: int) -> DataFrame:
    """U1-U4 + U11: normalize (drop malformed), host, surt, priority in
    one mapInArrow pass (udfs.canon_batches), then host_key and depth
    JVM-side. Rows with a null url or a null/empty host are dropped
    inside that pass, so each row crosses into Python once and the
    kernel runs once per row."""
    out = candidates.mapInArrow(
        canon_batches, T.StructType(candidates.schema.fields + CANON_FIELDS))
    return (out
            # case-sensitive www-strip (ProcessingService.java:403-405), then
            # lowercase for robots/politeness grouping
            .withColumn("host_key",
                        F.lower(F.regexp_replace("host", r"^www\.", "")))
            .withColumn("depth", F.lit(round_no)))


def batch_dedup(candidates: DataFrame) -> DataFrame:
    """First-wins dedup inside one round's batch (A3, MediaReduce.java:12-19
    made deterministic): winner = best by total order, then lineage
    (src_doc_id, offset)."""
    w = Window.partitionBy("url").orderBy(
        *order_cols(), F.col("src_doc_id").asc(), F.col("offset").asc())
    return (candidates.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


class CrawlEngine:
    def __init__(self, spark: SparkSession, state_dir: str, documents_path: str,
                 seeds_path: str, robots_path: str,
                 params: CrawlParams = CrawlParams(),
                 filter_kind: str | None = "bloom",
                 bits_per_bucket: int = 1 << 20, cuckoo_buckets: int = 1 << 14,
                 sitemaps_path: str | None = None):
        """filter_kind selects the URL-seen accelerator per the
        north_rule's 'bloom/cuckoo': 'bloom' (the default), 'cuckoo' for
        the deletable-filter backend (recrawl via SeenSet.remove), or
        None for the exact anti-join alone."""
        self.spark = spark
        self.params = params
        self.documents_path = documents_path
        self.store = SnapshotStore(spark, state_dir)
        self.seen = SeenSet(self.store, partitions=params.seen_partitions,
                            filter_kind=filter_kind, bits_per_bucket=bits_per_bucket,
                            cuckoo_buckets=cuckoo_buckets)
        # a prior run may have evolved the layout (rebucket): the
        # persisted spec of record overrides the constructor default.
        # UNCONDITIONAL — a store whose layout already evolved must be
        # probed under the evolved modulus even if the rebucket knob is
        # off in this run's params (restore_spec is a no-op on stores
        # that never stamped spec metrics). rollback_to_last_round
        # re-derives it again after discarding orphan snapshots.
        self.seen.restore_spec()
        self.frontier_tbl = self.store.table("frontier")
        self.scheduled_tbl = self.store.table("scheduled")
        self.candidates_tbl = self.store.table("candidates")
        # U6 domain-seen set (Statistics.java:54-60): first-seen hosts,
        # same delta-chain mechanism as the URL-seen table
        self.domains_tbl = self.store.table("domains")
        # crawl-trap host set (params.trap_ratio_pm): first-trapped hosts,
        # same delta-chain mechanism; empty/absent when the guard is off
        self.traps_tbl = self.store.table("traps")
        # content-digest seen table (params.content_dedup): digests of
        # every page whose links were extracted, delta-committed per
        # round — the content-seen sibling of the URL-seen set
        self.digests_tbl = self.store.table("digests")
        self.seeds_path = seeds_path
        self.sitemaps_path = sitemaps_path
        robots = spark.read.parquet(robots_path)
        if (params.robots_max_age_ms is not None
                and params.crawl_as_of_ms is not None):
            # U12 staleness: stale cache rows behave as absent (unknown
            # host → no disallow, default crawl delay)
            cutoff = params.crawl_as_of_ms - params.robots_max_age_ms
            # fetched_at arrives as TIMESTAMP_NTZ; session TZ is UTC so the
            # NTZ→TZ cast is identity and unix_millis is the stored epoch
            robots = robots.filter(
                F.unix_millis(F.col("fetched_at").cast("timestamp"))
                >= F.lit(cutoff))
        # A refreshed cache can hold several generations per host; the
        # politeness joins assume ONE row per host (fan-out would inflate
        # n_canon/robots_blocked and duplicate candidates until dedup).
        # Keep the freshest generation, ties broken by content — an
        # explicitly order-independent rule (snapshot tables have no row
        # order); run_oracle applies the identical pick.
        payload = [c for c in robots.columns if c != "host"]
        pick_fields = [F.unix_millis(F.col("fetched_at").cast("timestamp")),
                       F.col("crawl_delay"), F.col("disallow")]
        if "allow" in robots.columns:
            pick_fields.append(F.col("allow"))
        pick = F.struct(*pick_fields)
        # Resolved once per engine: every round's robots join and
        # schedule broadcast reads the cached rows instead of re-running
        # the aggregate (engines over the same robots file share the
        # entry — Spark's cache manager matches equal plans).
        self.robots = (robots.groupBy("host")
                       .agg(F.max_by(F.struct(*payload), pick).alias("_r"))
                       .select("host", "_r.*")
                       .cache())
        self.docs = spark.read.parquet(documents_path)
        self._prev_depth = 0  # frontier depth after the last completed round
        # running seen-set cardinality (driver scalar, rides each
        # round's already-observed counts — the rebucket trigger reads
        # THIS instead of a standalone O(total) count() job). None =
        # pre-existing store whose logs predate the metric: resolved
        # once lazily, then maintained.
        self._seen_total: int | None = (
            None if self.seen.seen_tbl.exists() else 0)

    # -- resumability --------------------------------------------------------

    def rollback_to_last_round(self) -> dict | None:
        """Roll every table back to the versions of the last COMPLETE
        round (or to empty), discarding orphan snapshots from a crashed
        attempt, and restore the frontier-depth carry. Returns the last
        round's log entry (None when no round has committed). Shared by
        batch resume and streaming-batch redelivery."""
        last = self.store.last_round()
        tables = [("seen", self.seen.seen_tbl),
                  (self.seen.filter_name, self.seen.filter_tbl),
                  ("frontier", self.frontier_tbl),
                  ("scheduled", self.scheduled_tbl),
                  ("candidates", self.candidates_tbl),
                  ("domains", self.domains_tbl),
                  ("traps", self.traps_tbl),
                  ("digests", self.digests_tbl)]
        if last is None:
            for _, t in tables:
                t.rollback_to(0)
            self._prev_depth = 0
            self._seen_total = 0
            # spec adopted in __init__ may have come from a now-deleted
            # orphan snapshot (e.g. a crash between rebucket's commits
            # and its round-log re-commit) — re-derive from what's left
            self.seen.rederive_spec()
            return None
        for name, tbl in tables:
            v = last["tables"].get(name)
            if v is not None:
                tbl.rollback_to(v)
        self._prev_depth = last["metrics"]["frontier_depth"]
        # logs that predate the seen_total metric leave None → one lazy
        # resolve in the next round, then the running scalar takes over
        self._seen_total = last["metrics"].get("seen_total")
        self.seen.rederive_spec()
        return last

    def resume_round(self) -> tuple[int, DataFrame | None]:
        """(next_round, its candidates). Rolls back any table versions newer
        than the last complete round (crash between commits)."""
        last = self.rollback_to_last_round()
        if last is None:
            return 0, None
        nxt = last["round"] + 1
        cand = self.candidates_tbl.read(last["tables"]["candidates"])
        return nxt, cand

    # -- one round -----------------------------------------------------------
    # run_round is the ordered phase sequence admit → seen → domains →
    # schedule+fetch → discover, then the round-log commit and
    # maintenance. Each phase reads and writes one _Round context.

    def run_round(self, r: int, candidates: DataFrame,
                  batch_id: int | None = None) -> DataFrame:
        t0 = time.perf_counter()
        rc = _Round(r)
        try:
            new = self._seen(rc, self._admit(rc, candidates))
            self._domains(rc, new)
            self._schedule_fetch(rc, new)
            self._discover(rc)
            # A13 phase-timer analog: wall time is observability only —
            # never part of the oracle-checked metric set
            rc.m["wall_s"] = round(time.perf_counter() - t0, 3)
            self.store.commit_round(r, rc.versions, rc.m, batch_id=batch_id)
            self._maintain(rc, batch_id)
        finally:
            # a round that raises (a streaming micro-batch redelivered to
            # this engine) must not leave its frames cached
            for df in rc.cached:
                df.unpersist()
        return self.candidates_tbl.read(rc.versions["candidates"])

    def _readmit(self, rc: _Round, k: int | None, status_pred, metric: str,
                 candidates: DataFrame, **lineage) -> DataFrame:
        """Re-admission (recrawl / revisit): rows fetched k rounds ago
        whose status matches `status_pred` are DELETED from the seen set
        (tombstone delta; cuckoo slot clear) and re-injected ahead of
        `candidates`, so they re-enter the normal canonicalize → robots →
        dedup → seen → schedule pipeline with zero special-casing
        downstream. Priority inputs and max-hops lineage are carried
        verbatim (a re-fetch is the same URL at the same link distance);
        `lineage` sets src_doc_id/offset. A no-op when the policy is off
        or not yet due. Oracle mirror in ccspark.oracle."""
        if k is None or rc.r < k or not self.scheduled_tbl.exists():
            return candidates
        rows = rc.cache(rc.counts.tap(
            metric, self.scheduled_tbl.read_chain()
            .filter((F.col("fetch_round") == rc.r - k) & status_pred)))
        self.seen.remove(rows.select("url"), rc.r)
        rc.record(metric)
        readmitted = candidate_rows(
            rows, url_raw=F.col("url"),
            **{c: F.col(c) for c in ("kind", "alt", "parent_txt",
                                     "dom_depth", "dom_sib")},
            **lineage,
            hop=F.col("hop") if self.params.max_hops is not None else None)
        return readmitted.unionByName(candidates.select(*readmitted.columns))

    def _admit(self, rc: _Round, candidates: DataFrame) -> DataFrame:
        """Phase admit: re-admission, max-hops, canonicalize, PageRank
        prior, robots, crawl traps. Only the re-admission removals and
        the trap commit run here: EVERY admission count is an
        observation that rides the seen-delta commit's job (the round
        runs no standalone metric jobs — each job pays fixed scheduler
        and worker overhead)."""
        p, c = self.params, rc.counts
        # recrawl policy: re-admit failed fetches from k rounds ago.
        # 304 Not Modified is a SUCCESS (revisit policy) — never
        # failure-recrawled.
        candidates = self._readmit(
            rc, p.recrawl_after_rounds, ~F.col("status").isin(200, 304),
            "recrawled", candidates,
            src_doc_id=F.col("src_doc_id"), offset=F.col("offset"))
        # revisit policy (freshness maintenance): successful fetches from
        # k rounds ago re-enter marked src_doc_id='revisit' — fetchsim
        # answers 200 (changed, re-extract) or 304 Not Modified (skip
        # extraction) on the second md5 band. src_doc_id is ONLY the
        # batch-dedup tie-break and the fetchsim revisit marker.
        candidates = self._readmit(
            rc, p.revisit_after_rounds, F.col("status").isin(200, 304),
            "revisited", candidates,
            src_doc_id=F.lit("revisit"), offset=F.lit(0))
        # max-hops frontier control (Heritrix max-hops): default missing
        # hop lineage to 0 (seed round, external candidate files), then
        # drop candidates beyond the limit BEFORE admission
        if p.max_hops is not None:
            if "hop" not in candidates.columns:
                candidates = candidates.withColumn(
                    "hop", F.lit(0).cast("int"))
            candidates = (c.tap("hops_exceeded", candidates,
                                F.col("hop") > p.max_hops)
                          .filter(F.col("hop") <= p.max_hops))
        canon = canonicalize(c.tap("candidates_in", candidates), rc.r)
        if p.pagerank_prior_weight is not None:
            # OPIC-style host-centrality boost on this batch's link graph
            # (webgraph.apply_pagerank_prior; oracle mirror in
            # ccspark.oracle — exact ordering parity tested). The batch
            # feeds both the rank build and the boost join: cache once.
            from .webgraph import apply_pagerank_prior
            canon = apply_pagerank_prior(rc.cache(canon),
                                         p.pagerank_prior_weight)
        admitted = c.tap("admitted", robots_admission_filter(
            c.tap("canonical", canon), self.robots))
        if p.trap_ratio_pm is None:
            return admitted
        # crawl-trap guard (params.trap_ratio_pm): per-host URL-template
        # collapse on THIS round's admitted batch — template = query
        # stripped, digit runs → 'N'. Hosts whose distinct-URL /
        # distinct-template ratio crosses the explosion threshold join a
        # persistent trap table (first-seen delta, like domains) and
        # their candidates are dropped at admission from this round on.
        # Detection is a hosts-sized aggregate (two count_distinct with
        # map-side partial distinct) and the drop is a broadcast
        # anti-join — the robots disallow-list shape. Oracle mirror in
        # ccspark.oracle (exact per-round parity tested).
        admitted = rc.cache(admitted)
        tmpl = F.regexp_replace(
            F.regexp_replace("url", r"\?.*$", ""), "[0-9]+", "N")
        stats = (admitted.select("host_key", "url", tmpl.alias("tmpl"))
                 .groupBy("host_key")
                 .agg(F.countDistinct("url").alias("n_urls"),
                      F.countDistinct("tmpl").alias("n_templates")))
        self._first_seen(rc, self.traps_tbl, stats.filter(
            (F.col("n_urls") >= p.trap_min_urls)
            & (F.expr("(1000 * n_urls) div n_templates") >= p.trap_ratio_pm))
            .select("host_key"), "trap_hosts_new")
        return c.tap("kept", admitted.join(
            F.broadcast(self.traps_tbl.read_chain().select("host_key")),
            "host_key", "left_anti"))

    def _first_seen(self, rc: _Round, tbl: SnapshotTable, hosts: DataFrame,
                    metric: str) -> None:
        """Commit the `hosts` (host_key rows) that `tbl`'s chain has not
        seen yet, stamped with this round as first_round — the
        first-seen delta the domain and trap tables share — and record
        the delta's size as `metric`."""
        if tbl.exists():
            hosts = hosts.join(tbl.read_chain(), "host_key", "left_anti")
        delta = rc.counts.tap(metric, hosts.withColumn("first_round",
                                                       F.lit(rc.r)))
        rc.versions[tbl.name] = tbl.commit(delta, rc.r)
        rc.record(metric)

    def _seen(self, rc: _Round, admitted: DataFrame) -> DataFrame:
        """Phase seen: batch dedup, `filter_new`, host quota, `seen.add`.
        The seen commit's job carries every admission count; the
        admission metrics are derived from them here. Returns `new`, the
        round's cached never-seen rows."""
        p, c, m = self.params, rc.counts, rc.m
        # bucket under the LIVE spec (self.seen.partitions, not
        # p.seen_partitions): rebucket_target_keys may have evolved the
        # layout since construction
        new = self.seen.filter_new(with_bucket(
            batch_dedup(admitted), partitions=self.seen.partitions))
        if p.max_urls_per_host is not None:
            new = self._host_quota(rc, new)
        new = rc.cache(c.tap("new_seen", new))
        rc.versions.update(self.seen.add(new, rc.r))
        rc.record("candidates_in", "hops_exceeded")
        n_adm = c["admitted"]
        m["malformed_dropped"] = m["candidates_in"] - c["canonical"]
        m["robots_blocked"] = c["canonical"] - n_adm
        n_kept = c["kept"] if "kept" in c else n_adm
        if "kept" in c:
            m["trap_dropped"] = n_adm - n_kept
        rc.record("new_seen", "host_cap_dropped")
        # dup_dropped stays the PRE-cap dedup count: kept − (admitted
        # post-cap + cap-dropped)
        m["dup_dropped"] = (n_kept - m["new_seen"]
                            - m.get("host_cap_dropped", 0))
        m["dedup_rate"] = (m["dup_dropped"] / n_kept) if n_kept else 0.0
        # seen-set cardinality as driver arithmetic (like frontier_depth):
        # total = prev − tombstoned (recrawl + revisit removals, both
        # already observed) + new admissions. Exact because every removal
        # targets a URL present in the resolved set (each scheduled
        # record is consumed by at most one removal round, and a URL
        # re-enters the scheduled chain only after re-admission), and
        # because recrawl (non-2xx/304) and revisit (200/304) target
        # DISJOINT urls under the deterministic fetchsim bands. Under
        # the production HTTP fetcher a url whose status flipped between
        # rounds could be removed by both paths in one round, drifting
        # this scalar low by 1 per such event — consumers are the
        # rebucket trigger (layout-only; a slightly early evolution) and
        # the metric itself, never correctness; an exact re-sync is one
        # seen_df().count() away if an operator wants it. Legacy stores
        # without the metric resolve once, then ride the scalar.
        if self._seen_total is None:
            self._seen_total = int(self.seen.seen_df().count())
        else:
            self._seen_total += (m["new_seen"] - m.get("recrawled", 0)
                                 - m.get("revisited", 0))
        m["seen_total"] = self._seen_total
        return new

    def _host_quota(self, rc: _Round, new: DataFrame) -> DataFrame:
        """Per-host lifetime quota (Heritrix maxDocumentsFromHost): prior
        admissions = scheduled-chain rows + live-frontier rows (exactly
        every URL that ever passed admission — compaction-safe: the
        scheduled chain is never pruned and the live frontier is
        admitted-minus-scheduled); within the batch, rank per host in
        the SAME deterministic order the first-wins dedup sorts by, and
        drop rows past the remaining allowance BEFORE they enter
        seen/frontier. Hosts-sized aggregate + one window. Oracle mirror
        in ccspark.oracle."""
        cap = self.params.max_urls_per_host
        sources = [self.live_frontier()]
        if self.scheduled_tbl.exists():
            sources.insert(0, self.scheduled_tbl.read_chain())
        prior = [df.select("host_key") for df in sources if df is not None]
        if prior:
            counts = (reduce(DataFrame.unionByName, prior)
                      .groupBy("host_key").agg(F.count(F.lit(1)).alias("_pc")))
            new = (new.join(counts, "host_key", "left")
                   .withColumn("_prior", F.coalesce("_pc", F.lit(0)))
                   .drop("_pc"))
        else:
            new = new.withColumn("_prior", F.lit(0).cast("long"))
        w_cap = Window.partitionBy("host_key").orderBy(
            *order_cols(), F.col("src_doc_id").asc(), F.col("offset").asc())
        ranked = new.withColumn("_hrn", F.row_number().over(w_cap))
        return (rc.counts.tap("host_cap_dropped", ranked,
                              F.col("_prior") + F.col("_hrn") > cap)
                .filter(F.col("_prior") + F.col("_hrn") <= cap)
                .drop("_prior", "_hrn"))

    def _domains(self, rc: _Round, new: DataFrame) -> None:
        """Phase domains (U6): first-seen hosts of this round's new rows."""
        self._first_seen(rc, self.domains_tbl,
                         new.select("host_key").distinct(), "new_domains")

    def _schedule_fetch(self, rc: _Round, new: DataFrame) -> None:
        """Phase schedule + fetch: the frontier union, the scheduling
        priority view (aging, dual-model), the adaptive and group delay
        tables, `schedule_frontier`, fetch-sim, and the scheduled and
        frontier commits. Every table here is counted on the scheduled
        commit's job."""
        p, c, r = self.params, rc.counts, rc.r
        # The frontier is MERGE-ON-READ: each round commits only its NEW
        # rows as a delta; the live set is (chain − scheduled-since-base),
        # resolved lazily — O(new URLs) written per round instead of the
        # whole remaining frontier. Compaction (maintenance) periodically
        # materializes the live set as a 'full' snapshot to bound the
        # subtraction chain (the Iceberg merge-on-read +
        # rewrite-data-files pattern).
        new_frontier = new.select(
            *FRONTIER_COLS, *(["hop"] if p.max_hops is not None else []))
        live = self.live_frontier()
        frontier = rc.cache(live.unionByName(new_frontier)
                            if live is not None else new_frontier)
        # adaptive politeness: previous round's per-host integer mean
        # latency → delay floor (hosts-sized aggregate, joined into the
        # budget exactly like the robots cache). Oracle mirror in
        # ccspark.oracle (exact budgets/offsets/ordering parity tested).
        host_delays = None
        if (p.adaptive_delay_factor_pm is not None and r >= 1
                and self.scheduled_tbl.exists()):
            host_delays = c.tap("adaptive_hosts", (
                self.scheduled_tbl.read_chain()
                .filter(F.col("fetch_round") == r - 1)
                .groupBy("host_key")
                .agg(F.expr(f"(sum(latency_ms) div count(1))"
                            f" * {p.adaptive_delay_factor_pm} div 1000")
                     .alias("adaptive_ms"))))
        # priority aging (starvation control): the SCHEDULING order uses
        # priority + rounds-waited × boost; the persisted priority column
        # is untouched (aging is an ordering view — recorded tables stay
        # lineage-stable and the boost never compounds across resumes).
        # Oracle mirror in ccspark.oracle (same int subtract + double
        # multiply-add, same IEEE op order).
        pri_col = "priority"
        sched_in = frontier
        if p.age_boost_pm is not None:
            sched_in = frontier.withColumn(
                "_eff", F.col("priority")
                + (F.lit(r) - F.col("depth")) * F.lit(p.age_boost_pm / 1000.0))
            pri_col = "_eff"
        # dual-model arbitration ordering (ProcessingService.java:200-222
        # parity, params.dual_model_priority): arbitration-big URLs
        # schedule first via a +1000.0 effective-priority boost over the
        # (possibly aged) base — ordering view only; composes with aging
        # in that op order (oracle mirrors (base + 1000.0) exactly).
        if p.dual_model_priority:
            sched_in = sched_in.withColumn(
                "_eff", F.col(pri_col)
                + F.when(dual_big_udf(F.col("url"), F.col("priority")),
                         F.lit(1000.0)).otherwise(F.lit(0.0)))
            pri_col = "_eff"
        # grouped politeness (per-IP address group or per-registered-
        # domain site): a groups-sized max aggregate over the frontier,
        # counted as the group-count metric. Oracle mirror in
        # ccspark.oracle.
        ip_delays = None
        if p.politeness_ip_groups is not None or p.politeness_by_domain:
            ip_delays = c.tap(
                "ip_groups" if p.politeness_ip_groups is not None
                else "domain_groups",
                group_delays(frontier, self.robots, p, host_delays))
        # the scheduled rows carry their fetch offsets already
        sched = c.tap("scheduled", schedule_frontier(
            sched_in, self.robots, p, host_delays, ip_delays, pri_col))
        fetched = (with_fetch_sim(sched.drop("_eff"),
                                  redirects=p.follow_redirects,
                                  revisit_changed_pct=(
                                      p.revisit_changed_pct
                                      if p.revisit_after_rounds is not None
                                      else None))
                   .withColumn("fetch_round", F.lit(r)))
        if p.revisit_after_rounds is not None:
            fetched = c.tap("not_modified", fetched, F.col("status") == 304)
        rc.versions["scheduled"] = self.scheduled_tbl.commit(fetched, r)
        rc.record("scheduled", "ip_groups", "domain_groups",
                  "adaptive_hosts", "not_modified")
        rc.versions["frontier"] = self.frontier_tbl.commit(
            new_frontier, r, repartition=(min(p.seen_partitions, 32), "bucket"))
        # arithmetic, not a count job: depth = prev_depth + new − scheduled
        rc.m["frontier_depth"] = (self._prev_depth + rc.m["new_seen"]
                                  - rc.m["scheduled"])
        self._prev_depth = rc.m["frontier_depth"]

    def _discover(self, rc: _Round) -> None:
        """Phase discover: fetched pages joined to their documents,
        content dedup, link extraction and followed redirects, committed
        as the next round's candidates (whose job carries the counts)."""
        p, c = self.params, rc.counts
        fetched = self.scheduled_tbl.read(rc.versions["scheduled"])
        hits = c.tap("pages_discovered", discovered_docs(
            fetched, self.docs,
            carry_cols=("hop",) if p.max_hops is not None else ()))
        if p.content_dedup:
            # content-digest dedup: a page whose span digest was already
            # seen — any earlier round (digests delta chain) or earlier
            # in this batch (within-batch winner = smallest page_url) —
            # keeps its fetch record but does NOT re-extract links: a
            # mirrored page's outlinks enter the frontier once. Oracle
            # mirror in ccspark.oracle.
            hits = hits.withColumn("_dg", F.md5(span_serial_expr()))
            if self.digests_tbl.exists():
                hits = hits.join(self.digests_tbl.read_chain()
                                 .select(F.col("digest").alias("_dg")),
                                 "_dg", "left_anti")
            w_dg = Window.partitionBy("_dg").orderBy(F.col("page_url").asc())
            hits = rc.cache(c.tap("content_unique", (
                hits.withColumn("_rn", F.row_number().over(w_dg))
                .filter(F.col("_rn") == 1).drop("_rn"))))
            rc.versions["digests"] = self.digests_tbl.commit(
                hits.select(F.col("_dg").alias("digest")), rc.r)
            hits = hits.drop("_dg")
        next_cand = extract_links(hits, follow_links=p.follow_links)
        if p.follow_redirects:
            # 301 targets re-enter the frontier as candidates with
            # redirect lineage (page_url = the redirecting URL, so a
            # relative Location would resolve against it); they then
            # flow through the NORMAL canonicalize → robots → seen-dedup
            # → politeness pipeline — a redirect is frontier traffic,
            # not a side channel, which is what keeps ordering total
            # and targets deduped at 10^10 scale
            redir = c.tap("redirects_followed", candidate_rows(
                fetched.filter(F.col("status") == 301),
                url_raw=F.col("redirect_to"), page_url=F.col("url"),
                kind=F.lit("redirect"), src_doc_id=F.lit("redirect"),
                # a followed redirect is one hop (Heritrix counts the
                # R-hop toward max-hops)
                hop=((F.col("hop") + F.lit(1)).cast("int")
                     if p.max_hops is not None else None)))
            next_cand = next_cand.select(*redir.columns).unionByName(redir)
        rc.versions["candidates"] = self.candidates_tbl.commit(next_cand, rc.r)
        rc.record("pages_discovered")
        if p.content_dedup:
            rc.m["content_dups"] = (rc.m["pages_discovered"]
                                    - c["content_unique"])
        rc.record("redirects_followed")

    def _maintain(self, rc: _Round, batch_id: int | None) -> None:
        """Phase maintenance, AFTER the round-log commit (a crash here
        loses the maintenance, never round data): compaction, the round
        log re-committed, expiry, rebucket, the round log re-committed.
        Each re-commit makes the new 'full' versions state of record —
        without it, rollback_to_last_round (batch resume AND every
        streaming micro-batch) would treat them as orphans of a crashed
        attempt and delete them, silently re-growing the chains."""
        p, r, versions = self.params, rc.r, rc.versions
        bucketed = (min(p.seen_partitions, 32), "bucket")
        if (p.compact_seen_every is not None
                and (r + 1) % p.compact_seen_every == 0):
            # compact_seen (not raw compact_chain): materializes the
            # RESOLVED set so recrawl tombstones are reclaimed, not
            # carried into the full snapshot forever
            versions["seen"] = self.seen.compact_seen(r, repartition=bucketed)
            # filter (bloom/cuckoo): materialize latest-bucket-wins so
            # the delta chain stays bounded (same cadence as the seen chain)
            bv = self.seen.compact_filter(r)
            if bv is not None:
                versions[self.seen.filter_name] = bv
            # frontier: materialize the live set as a 'full' snapshot so
            # the merge-on-read subtraction chain stays bounded
            versions["frontier"] = self.frontier_tbl.commit(
                self.live_frontier(), r, kind="full", repartition=bucketed)
            self.store.commit_round(r, versions, rc.m, batch_id=batch_id)
            if p.expire_keep_last is not None:
                # history GC after the re-commit: the fresh 'full'
                # snapshots are now the chain bases, so everything
                # before them is reclaimable without touching any
                # version the round log of record references
                for tbl in (self.seen.seen_tbl, self.seen.filter_tbl,
                            self.frontier_tbl):
                    tbl.expire_snapshots(p.expire_keep_last)
                    tbl.remove_orphans()
        # automatic partition evolution (params.rebucket_target_keys):
        # grow the bucket count when keys/bucket exceeds the target, read
        # off the running seen_total scalar — NOT a standalone O(total)
        # count() job per round
        if p.rebucket_target_keys is not None:
            newp = self.seen.partitions
            while self._seen_total > p.rebucket_target_keys * newp:
                newp *= 2
            if newp != self.seen.partitions:
                versions.update(self.seen.rebucket(newp, r))
                rc.m["rebucketed_to"] = newp
                self.store.commit_round(r, versions, rc.m, batch_id=batch_id)

    def live_frontier(self) -> DataFrame | None:
        """The unscheduled frontier, resolved merge-on-read: the delta
        chain minus scheduled rows committed since the chain's 'full'
        base snapshot (None before any round)."""
        if not self.frontier_tbl.exists():
            return None
        chain = self.frontier_tbl.read_chain()
        if self.scheduled_tbl.exists():
            base = self.frontier_tbl.chain_base_round()
            sched = (self.scheduled_tbl.read_chain()
                     .filter(F.col("fetch_round") > base).select("url"))
            chain = chain.join(sched, "url", "left_anti")
        return chain

    # -- full run --------------------------------------------------------------

    def run(self, resume: bool = False) -> list[dict]:
        start, cand = (self.resume_round() if resume else (0, None))
        if cand is None:
            if start != 0:
                raise RuntimeError("resume requested but no candidates snapshot")
            seeds = self.spark.read.parquet(self.seeds_path)
            cand = seeds_to_candidates(seeds)
            if self.params.sitemap_seeding and self.sitemaps_path:
                cand = cand.unionByName(
                    self._sitemap_candidates(self.sitemaps_path))
        for r in range(start, self.params.rounds):
            cand = self.run_round(r, cand)
        return self.store.round_metrics()

    def _sitemap_candidates(self, sitemaps_path: str) -> DataFrame:
        """Sitemap discovery (params.sitemap_seeding): `<loc>` entries of
        the advertised sitemaps become round-0 candidates. Lineage is
        (sitemap:<host>, entry position) — unique per entry, so the
        first-wins batch dedup stays deterministic, and 'seed' < 'sitemap'
        lexicographically means a URL present in both sources keeps its
        seed lineage. Blobs are protocol-bounded (50k URLs / 50 MB), so
        from_xml + posexplode is a per-row expression — no shuffle."""
        from .sitemap import parse_sitemaps
        blobs = self.spark.read.parquet(sitemaps_path)
        sm = parse_sitemaps(blobs.select("host", "xml"), with_pos=True)
        return candidate_rows(
            sm, url_raw=F.col("loc"), kind=F.lit("sitemap"),
            src_doc_id=F.concat(F.lit("sitemap:"), F.col("host")),
            offset=F.col("sm_pos"))

    # -- inspection -------------------------------------------------------------

    def export_frontier_ranged(self, path: str, n_files: int = 16) -> dict:
        """Materialize the live frontier as a RANGE-PARTITIONED priority
        queue (north_rule: 'priority queue realized as salted,
        range-partitioned frontier tables'): file k holds a contiguous
        slice of the total order, globally above every row of file k+1,
        and rows are sorted within each file — so a fetcher fleet drains
        highest-priority work by reading files in index order, no global
        sort at read time, and a partial drain (first j files) is exactly
        the global top slice. `repartitionByRange` samples split bounds
        (reservoir per partition) — bounds land where the data is, so a
        skew-free ~equal-rows split even when priorities cluster; the
        within-file sort is a local no-shuffle pass.

        Returns a manifest {file → rows, pri_max, pri_min} (written as
        <path>.manifest.json BESIDE the parquet directory — inside it,
        Spark's directory reader would trip on the non-parquet file) —
        the per-partition lineage a reader uses for range pruning
        without opening files."""
        import json
        import os

        live = self.live_frontier()
        if live is None:
            return {}
        order = [F.col("priority").desc(), F.col("depth").asc(),
                 F.col("surt").asc(), F.col("url").asc()]
        (live.repartitionByRange(n_files, *order)
             .sortWithinPartitions(*order)
             .write.mode("overwrite").parquet(path))
        files = (self.spark.read.parquet(path)
                 .withColumn("_f", F.element_at(
                     F.split(F.input_file_name(), "/"), -1))
                 .groupBy("_f")
                 .agg(F.count(F.lit(1)).alias("rows"),
                      F.max("priority").alias("pri_max"),
                      F.min("priority").alias("pri_min"))
                 .collect())
        manifest = {r._f: {"rows": r.rows, "pri_max": r.pri_max,
                           "pri_min": r.pri_min}
                    for r in sorted(files, key=lambda r: r._f)}
        with open(path.rstrip("/") + ".manifest.json", "w") as fh:
            json.dump(manifest, fh, indent=1, sort_keys=True)
        return manifest

    def export_warc(self, out_dir: str) -> DataFrame:
        """Archive the crawl: every successfully fetched page (status
        200 with a known document) written as WARC response records
        through the distributed `.warc.gz` sink (warc.write_warc — one
        shard per partition, one gzip member per record, Common Crawl's
        layout, byte-readable back through warc_records). The payload is
        the document's interleaved span sequence serialized in offset
        order ('kind:text-or-ref' lines — the input_hint table IS the
        fetched representation in this engine; a deployment with raw
        bytes swaps its payload column in). Returns the shard manifest
        (path, n_records, n_bytes)."""
        from .warc import write_warc

        sched = (self.scheduled_rounds()
                 .filter(F.col("status") == 200)
                 .select("url", "content_type"))
        docs = self.docs.select(
            F.col("page_url").alias("url"),
            F.encode(span_serial_expr(), "UTF-8").alias("payload"))
        rows = (sched.join(docs, "url")
                .select(F.col("url").alias("uri"),
                        F.coalesce("content_type",
                                   F.lit("text/html")).alias("mime"),
                        "payload"))
        return write_warc(rows, out_dir)

    def export_cdx(self, out_dir: str) -> DataFrame:
        """Index the crawl: one CDX line per successful fetch, keyed by
        the row's SURT (already computed at canonicalization), timestamp
        = a 14-digit day derived from the fetch round, digest = the
        deterministic fetch_id prefix. Written through cdx.write_cdx
        (zipnum-style gz shards grouped by SURT host prefix + secondary
        manifest). With export_warc this completes the archive stack a
        Common Crawl-style deployment publishes: WARC shards + CDX
        index."""
        from .cdx import write_cdx

        cap = (self.scheduled_rounds()
               .filter(F.col("status") == 200)
               .select(F.col("surt").alias("cdx_key"),
                       F.concat(F.date_format(
                           F.date_add(F.lit("2026-01-01"),
                                      F.col("fetch_round")),
                           "yyyyMMdd"), F.lit("000000")).alias("ts14"),
                       "url",
                       F.substring("fetch_id", 1, 8).alias("digest")))
        return write_cdx(cap, out_dir)

    def scheduled_rounds(self) -> DataFrame:
        """All scheduled rows across committed rounds, in total order."""
        return (self.scheduled_tbl.read_chain()
                .orderBy(F.col("fetch_round").asc(), *order_cols()))

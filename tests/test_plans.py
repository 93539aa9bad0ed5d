"""Physical-plan audits: the plans must stay the plans we designed.

These assert the Catalyst properties the 100 TB story depends on —
column pruning reaching the parquet scan, broadcasts where a dim is
small, window-group-limit pushdown for top-k, and bounded exchange
counts in the scheduling pipeline. A regression here is a performance
bug even when results stay correct.
"""

from __future__ import annotations

import re

import pytest

from pyspark.sql import functions as F

from ccspark import analytics
from ccspark.registry import ALL

SF = "/root/testdata/sf0.001"


def phys(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


class TestColumnPruning:
    def test_sum_by_key_scan_reads_only_needed_columns(self, spark):
        p = phys(analytics.q_sum_by_key(spark, SF))
        scan = [ln for ln in p.splitlines() if "FileScan" in ln or "Scan parquet" in ln]
        assert scan, p
        text = " ".join(scan)
        assert "l_shipdate" not in text, "unneeded column read"
        assert "l_orderkey" not in text, "unneeded column read"

    def test_word_count_prunes_documents(self, spark):
        p = phys(analytics.q_word_count(spark, SF))
        scan = " ".join(ln for ln in p.splitlines() if "Scan" in ln)
        assert "n_chars" not in scan

    def test_first_wins_filter_pushdown(self, spark):
        """A filter on the scan column reaches PushedFilters."""
        from pyspark.sql import functions as F
        df = (spark.read.parquet(f"{SF}/lineitem.parquet")
              .filter(F.col("l_quantity") > 40).select("l_orderkey"))
        p = phys(df)
        assert "PushedFilters: [" in p
        assert "GreaterThan(l_quantity" in p


class TestJoinStrategies:
    def test_region_members_broadcasts_dims(self, spark):
        p = phys(analytics.q_region_members(spark, SF))
        assert "BroadcastHashJoin" in p

    def test_seen_anti_join_is_hash_anti(self, spark):
        p = phys(analytics.q_seen_anti_join(spark, SF))
        assert "LeftAnti" in p

    def test_vocab_join_broadcasts_vocab(self, spark):
        p = phys(analytics.q_vocab_join(spark, SF))
        assert "BroadcastHashJoin" in p and "LeftSemi" in p


class TestWindowOptimizations:
    def test_topk_per_key_uses_window_group_limit(self, spark):
        """rank<=k must push into WindowGroupLimit (partial top-k before
        the shuffle) — without it the full orders table sorts per key."""
        p = phys(analytics.q_topk_per_key(spark, SF))
        assert "WindowGroupLimit" in p

    def test_schedule_pipeline_exchange_budget(self, spark):
        """The full scheduling pipeline must not grow extra shuffles:
        canonicalize adds none; dedup 1 (by url); politeness 2 (salt
        window + host window). Anything above 4 is a plan regression."""
        from ccspark.benchflow import synthetic_candidates
        from ccspark.scheduler import canonicalize, batch_dedup
        from ccspark.seen import with_bucket
        from ccspark.politeness import schedule_frontier
        from ccspark.params import CrawlParams
        robots = spark.createDataFrame(
            [], "host string, crawl_delay double, disallow array<string>")
        sched = schedule_frontier(
            with_bucket(batch_dedup(canonicalize(
                synthetic_candidates(spark, 1000), 0))),
            robots, CrawlParams())
        p = phys(sched)
        n_ex = sum(1 for ln in p.splitlines()
                   if "Exchange hashpartitioning" in ln or "Exchange rangepartitioning" in ln)
        assert n_ex <= 4, f"{n_ex} exchanges:\n{p}"

    def test_schedule_frontier_ranks_once(self, spark):
        """Budget and fetch offset come from one rank: the scheduled rows
        carry fetch_offset_ms, and the plan holds exactly two windows
        (salt pre-prune + unit), not a second window for the offsets."""
        from ccspark.benchflow import synthetic_candidates
        from ccspark.scheduler import canonicalize
        from ccspark.politeness import schedule_frontier
        from ccspark.params import CrawlParams
        robots = spark.createDataFrame(
            [], "host string, crawl_delay double, disallow array<string>")
        sched = schedule_frontier(
            canonicalize(synthetic_candidates(spark, 1000), 0),
            robots, CrawlParams())
        assert "fetch_offset_ms" in sched.columns
        p = phys(sched)
        n_win = len(re.findall(r"^[\s:+|-]*(?:\*\(\d+\) )?Window\b", p, re.M))
        assert n_win == 2, p

    def test_canonicalize_has_no_exchange(self, spark):
        from ccspark.benchflow import synthetic_candidates
        from ccspark.scheduler import canonicalize
        p = phys(canonicalize(synthetic_candidates(spark, 1000), 0))
        assert "Exchange" not in p

    def test_canonicalize_crosses_into_python_once(self, spark):
        """One Python evaluation node: the kernel runs once per row and
        the malformed-row filter is inside it, so the optimizer has no
        JVM filter to push below a UDF and re-evaluate it there."""
        from ccspark.benchflow import synthetic_candidates
        from ccspark.scheduler import canonicalize
        p = phys(canonicalize(synthetic_candidates(spark, 1000), 0))
        py = re.findall(r"^[\s:+|-]*(?:\*\(\d+\) )?(\w*(?:EvalPython|InArrow|InPandas))\b",
                        p, re.M)
        assert len(py) == 1, f"{py}:\n{p}"


class TestSeenRoundPlans:
    def test_filter_new_probes_once(self, spark, tmp_path):
        """The bloom probe is one cogroup: its flagged rows feed a single
        anti-join keyed on (url, maybe_seen), not a union of a
        definitely-new branch and an anti-joined maybe-seen branch (which
        evaluated the Python probe once per branch)."""
        from ccspark.seen import SeenSet, with_bucket
        from ccspark.tables import SnapshotStore

        seen = SeenSet(SnapshotStore(spark, str(tmp_path / "st")),
                       partitions=4, filter_kind="bloom",
                       bits_per_bucket=1 << 12)
        urls = spark.createDataFrame(
            [(f"http://h/{i}",) for i in range(40)], "url string")
        seen.add(with_bucket(urls.filter("url < 'http://h/2'"),
                             partitions=4), 0)
        new = seen.filter_new(with_bucket(urls, partitions=4))
        p = phys(new)
        assert p.count("FlatMapCoGroupsInPandas") == 1, p
        assert new.columns == with_bucket(urls, partitions=4).columns
        assert ({r.url for r in new.collect()}
                == {r.url for r in urls.filter("url >= 'http://h/2'")
                    .collect()})

    @staticmethod
    def _round1_jobs(spark, fx, tmp_path, params, **kw) -> int:
        """Spark jobs round 1 of the crawl fixture runs (round 0 first,
        untagged)."""
        from ccspark.scheduler import CrawlEngine, seeds_to_candidates

        eng = CrawlEngine(spark, str(tmp_path / "st"), fx["documents"],
                          fx["seeds"], fx["robots"], params=params, **kw)
        sc = spark.sparkContext
        cand = eng.run_round(0, seeds_to_candidates(
            spark.read.parquet(fx["seeds"])))
        group = f"round-budget-{tmp_path.name}"
        sc.setJobGroup(group, "round 1 job budget", False)
        try:
            eng.run_round(1, cand)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    def test_round_job_budget(self, spark, fx_small, tmp_path):
        """Round 1 of the crawl fixture runs at most 27 Spark jobs. Each
        of three wastes adds jobs: a second bloom probe (union branches),
        a schema-inference job per snapshot read, and the robots
        aggregate re-run per broadcast. It also fails if the bloom commit
        stops reusing the cached `new` (canonicalize and its broadcasts
        would run again)."""
        from ccspark.params import CrawlParams

        jobs = self._round1_jobs(spark, fx_small, tmp_path,
                                 CrawlParams(rounds=2))
        assert 0 < jobs <= 27, f"{jobs} jobs in round 1"

    def test_policy_round_job_budget(self, spark, fx_small, tmp_path):
        """Round 1 under the kitchen-sink params (every optional policy
        on; host quota, traps, PageRank, adaptive and domain delays,
        content dedup, compaction, expiry and rebucket all run in it)
        takes at most 83 Spark jobs, the count measured when the round
        was split into phases: no policy may add a standalone metric
        job."""
        from test_kitchen_sink import PARAMS

        jobs = self._round1_jobs(spark, fx_small, tmp_path, PARAMS,
                                 filter_kind=None)
        assert 0 < jobs <= 83, f"{jobs} jobs in round 1"


class TestDedupPlans:
    def test_minhash_lsh_join_keys_are_band_and_hash(self, spark):
        """The LSH self-join must key on (band, minhash) — never a cross
        product of documents."""
        fn, _ = ALL["dedup_minhash_lsh"]
        p = phys(fn(spark, SF))
        assert "CartesianProduct" not in p

    def test_ann_lsh_topk_joins_on_bucket(self, spark):
        fn, _ = ALL["ann_lsh_topk"]
        p = phys(fn(spark, SF))
        assert "bucket" in p


class TestRound2PlanAudits:
    def test_minhash_lsh_single_documents_scan(self, spark):
        """dedup_minhash_lsh persists the distinct-shingle DF before its
        four-way fan-out: the optimized plan must read documents through
        ONE cached relation, not re-tokenize per branch (round-1 defect:
        three redundant full-corpus passes)."""
        from ccspark import dedup
        df = dedup.q_dedup_minhash_lsh(spark, SF)
        p = optimized(df)
        scans = p.count("documents.parquet")
        caches = p.count("InMemoryRelation")
        assert caches >= 1, p[:2000]
        assert scans <= caches, (
            f"{scans} documents scans vs {caches} cached relations — "
            "the shingle pipeline is being recomputed")

    def test_ann_lsh_weights_precomputed(self, spark):
        """The hyperplane ±1 weights are driver-side array literals —
        round 1 evaluated 8 planes × 64 md5 calls PER ROW inside the
        projection fold. No md5 may appear anywhere in the bucket plan."""
        from ccspark import similarity
        p = phys(similarity.q_ann_lsh_buckets(spark, SF))
        assert "md5" not in p.lower(), "per-row weight derivation is back"

    def test_ngram_pruned_vocab_containment_join_is_broadcast(self, spark):
        """The A10 containment self-join runs over the CAPPED vocab via a
        broadcast nested-loop — never a shuffled corpus-sized product."""
        from ccspark import analytics as A
        p = phys(A.q_ngram_pruned_vocab(spark, SF))
        assert "BroadcastNestedLoopJoin" in p
        assert "LeftAnti" in p

    def test_bucketed_join_has_no_exchange_or_sort(self, spark, tmp_path):
        """Two tables bucketed by the same key and bucket count must
        sort-merge join with ZERO exchanges and ZERO sorts — the
        co-located at-rest form of the 1e10-URL seen join (sources.
        write_bucketed). Broadcast is disabled so the planner can't
        sidestep the claim."""
        from ccspark.sources import read_bucketed, write_bucketed
        a = spark.range(0, 1000).withColumnRenamed("id", "k") \
            .withColumn("va", F.col("k") * 2)
        b = spark.range(500, 1500).withColumnRenamed("id", "k") \
            .withColumn("vb", F.col("k") + 1)
        write_bucketed(a, "t_bucket_a", "k", 4)
        write_bucketed(b, "t_bucket_b", "k", 4)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            # Spark 3+ hides the per-bucket sortBy order from the planner
            # by default (single-file-per-bucket is a write-side contract
            # it no longer trusts); write_bucketed enforces one file per
            # bucket, so the legacy flag is safe and restores sort elision
            spark.conf.set(
                "spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
            j = read_bucketed(spark, "t_bucket_a").join(
                read_bucketed(spark, "t_bucket_b"), "k")
            p = j._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in p, p[:2000]
            assert "Exchange" not in p, p[:2000]
            assert "Sort" not in p.replace("SortMergeJoin", "SMJ"), p[:2000]
            assert j.count() == 500
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.conf.set(
                "spark.sql.legacy.bucketedTableScan.outputOrdering", "false")
            spark.sql("drop table if exists t_bucket_a")
            spark.sql("drop table if exists t_bucket_b")

    def test_aqe_splits_skewed_join_partition(self, spark):
        """Skew story, AQE half (SCALE.md: 'salting or AQE skew-join'):
        with adaptive skew-join on, a hot key whose shuffle partition
        dwarfs the median is SPLIT at runtime — the final adaptive plan
        carries the skew=true marker instead of one straggler task. The
        round loop itself runs AQE-off with salted budgets (politeness);
        this pins the AQE path the analytical joins use."""
        confs = {
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.adaptive.skewJoin.enabled": "true",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
                "64KB",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        }
        prev = {k: spark.conf.get(k) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            big = spark.range(0, 200000).select(
                F.when(F.col("id") % 4 != 0, F.lit(0))
                .otherwise(F.col("id")).alias("k"),
                F.sha2(F.col("id").cast("string"), 256).alias("pad"))
            small = spark.range(0, 200000).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
            j = big.join(small, "k")
            assert len(j.collect()) == 200000
            p = j._jdf.queryExecution().executedPlan().toString()
            assert "isFinalPlan=true" in p
            assert "skew=true" in p, p[:2000]
        finally:
            for k, v in prev.items():
                spark.conf.set(k, v)


class TestR4PipelineOpPlans:
    """Round-4 ops: the scale-critical plan properties."""

    def test_substring_spans_combine_windows_and_no_cartesian(self, spark):
        p = phys(ALL["dedup_substring_spans"][0](spark, SF))
        assert "CartesianProduct" not in p
        # gram multiplicity must map-side combine (shuffle O(distinct grams))
        assert "partial_count" in p
        # the island merge must run per-doc, never as a global window
        wins = [ln for ln in p.splitlines() if "windowspecdefinition" in ln]
        assert wins and all("doc_id" in ln for ln in wins), p

    def test_pack_chunks_data_window_is_partitioned(self, spark):
        p = phys(ALL["pack_chunks"][0](spark, SF))
        assert "CartesianProduct" not in p
        # group offsets join the data side via broadcast
        assert "BroadcastHashJoin" in p
        # the window over DATA rows is partitioned by the range group g;
        # the only unpartitioned window runs on the tiny group table
        wins = [ln for ln in p.splitlines() if "windowspecdefinition" in ln]
        data_wins = [ln for ln in wins if "n_tokens" in ln]
        assert data_wins and all(
            "windowspecdefinition(g#" in ln for ln in data_wins), p

    def test_dedup_incremental_probes_are_semi_joins(self, spark):
        p = phys(ALL["dedup_incremental"][0](spark, SF))
        assert "CartesianProduct" not in p
        assert p.count("LeftSemi") >= 4, p

    def test_host_pagerank_no_cartesian(self, spark):
        p = phys(ALL["host_pagerank"][0](spark, SF))
        assert "CartesianProduct" not in p

    def test_dedup_lines_exchange_budget(self, spark):
        """The window shuffle (line) and the reassembly shuffle (doc_id)
        are the ONLY exchanges — chunking never explodes pre-shuffle and
        the reassembly aggregation partial-aggregates map-side."""
        p = phys(ALL["dedup_lines"][0](spark, SF))
        assert "CartesianProduct" not in p
        assert p.count("Exchange") == 2, p
        assert "ObjectHashAggregate" in p   # partial agg before doc_id ex.

    def test_sitemap_parse_single_exchange(self, spark):
        """Parsing is a per-row from_xml expression; the only exchange is
        the fixture-synthesis groupBy(host) (absent in a deployment that
        reads blobs where they land)."""
        df = ALL["sitemap_parse"][0](spark, SF)
        p = phys(df)
        assert p.count("Exchange") == 1, p
        assert "from_xml" in optimized(df), "XML parse left the plan"

    def test_sitemap_discover_no_exchange(self, spark):
        p = phys(ALL["sitemap_discover"][0](spark, SF))
        assert "Exchange" not in p, p

    def test_robots_blocked_no_nested_loop(self, spark):
        """RFC wildcard matching must stay an expression inside the
        host_key equi-join — never a BroadcastNestedLoopJoin."""
        from ccspark.politeness import with_robots_blocked_flag
        cand = spark.createDataFrame(
            [("http://h.com/a/x.html", "h.com")],
            "url string, host_key string")
        rb = spark.createDataFrame(
            [("h.com", ["/*.php$"], ["/a/"])],
            "host string, disallow array<string>, allow array<string>")
        p = phys(with_robots_blocked_flag(cand, rb))
        assert "BroadcastNestedLoop" not in p
        assert "CartesianProduct" not in p


class TestLateR4Plans:
    """Plan audits for the late round-4 operators."""

    def test_mime_sniff_is_shuffle_free(self, spark):
        from ccspark import multimodal
        p = phys(multimodal.q_media_mime_sniff(spark, SF))
        assert "Exchange" not in p, p[:2000]

    def test_shard_assign_single_agg_exchange(self, spark):
        """Rendezvous assignment: the explode over the shard range stays
        in the row's partition — the only exchanges are the host
        distinct + the per-host argmax agg (same key, and Catalyst may
        reuse the partitioning)."""
        from ccspark import sharding
        hosts = sharding._hosts(spark, SF)
        p = phys(sharding.assign_shards(hosts, sharding.N_SHARDS))
        n_ex = sum(1 for ln in p.splitlines()
                   if "Exchange hashpartitioning" in ln)
        assert n_ex <= 2, p[:3000]
        assert "partial_max" in p or "partial" in p.lower(), (
            "argmax should map-side combine")

    def test_registered_domain_one_exchange(self, spark):
        """Zero shuffle past the host groupBy that builds the fixture."""
        from ccspark import content
        p = phys(content.q_url_registered_domain(spark, SF))
        n_ex = sum(1 for ln in p.splitlines()
                   if "Exchange hashpartitioning" in ln)
        assert n_ex == 1, p[:3000]

    def test_latency_quantiles_partial_agg(self, spark):
        """EXACT percentiles still map-side combine: one exchange on
        host with partial_percentile below it."""
        from ccspark import recrawl
        p = phys(recrawl.q_fetch_latency_quantiles(spark, SF))
        n_ex = sum(1 for ln in p.splitlines()
                   if "Exchange hashpartitioning" in ln)
        assert n_ex == 1, p[:3000]
        assert "partial_percentile" in p, p[:3000]

    def test_grouped_politeness_reuses_gk_partitioning(self, spark):
        """The per-IP selection's budget join and windows all key on
        _gk: the plan must not shuffle on anything else between the
        group-delay join and the final window."""
        from ccspark.benchflow import synthetic_candidates
        from ccspark.params import CrawlParams
        from ccspark.politeness import group_delays, schedule_frontier
        from ccspark.scheduler import batch_dedup, canonicalize
        from ccspark.seen import with_bucket

        params = CrawlParams(politeness_ip_groups=64)
        robots = spark.createDataFrame(
            [], "host string, crawl_delay double, disallow array<string>")
        cand = synthetic_candidates(spark, 10_000)
        deduped = with_bucket(batch_dedup(canonicalize(cand, 0)),
                              partitions=8)
        gd = group_delays(deduped, robots, params)
        p = phys(schedule_frontier(deduped, robots, params, None, gd))
        gk_ex = sum(1 for ln in p.splitlines()
                    if "Exchange hashpartitioning(_gk" in ln)
        assert gk_ex >= 1, p[:3000]


class TestSession5Ops:
    def test_bpe_pair_counts_partial_agg(self, spark):
        """The pair-count groupBy partial-aggregates map-side (the only
        corpus-shaped shuffle in a merge round) and the best-pair top-1
        is a TakeOrdered, not a global sort."""
        from ccspark import textops
        seqs = textops._bpe_word_types(spark, SF)
        p = phys(textops._bpe_pair_counts(seqs)
                 .orderBy(F.col("cnt").desc(), "a", "b").limit(1))
        assert "partial_sum" in p, p[:3000]
        assert "TakeOrderedAndProject" in p, p[:3000]

    def test_bpe_merge_apply_broadcasts_best_pair(self, spark):
        """The 1-row merge pair enters the plan as a broadcast, never a
        shuffle."""
        from ccspark import textops
        df = textops.q_tokenizer_bpe_merges(spark, SF)
        assert "BroadcastNestedLoopJoin" in phys(df) or \
            "BroadcastExchange" in phys(df)

    def test_hits_iteration_partial_aggregates(self, spark):
        """Each HITS half-iteration's groupBy partial-aggregates before
        its exchange — the BSP centrality shape."""
        from ccspark import webgraph
        p = phys(webgraph.q_host_hits(spark, SF))
        assert "partial_sum" in p, p[:3000]

    def test_fairness_window_after_hosts_sized_agg(self, spark):
        """The unpartitioned ranking window runs AFTER the groupBy
        collapsed the admitted set to hosts-sized counts: the plan's
        window sits above a HashAggregate, and the single-partition
        exchange moves the counts, not the admissions."""
        from ccspark import analytics as A
        p = phys(A.q_politeness_fairness(spark, SF))
        w = p.find("Window")
        agg = p.find("HashAggregate")
        assert w != -1 and agg != -1 and w < p.rfind("HashAggregate"), \
            p[:3000]
        assert "Exchange SinglePartition" in p, p[:3000]

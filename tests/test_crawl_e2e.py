"""End-to-end: the Spark engine must reproduce the pure-Python oracle's
crawl ordering, URL-seen set, and per-round metrics EXACTLY (north_rule).
"""

import pytest
from pyspark.sql import functions as F

from ccspark.oracle import run_oracle
from ccspark.params import CrawlParams
from ccspark.scheduler import CrawlEngine

PARAMS = CrawlParams(rounds=3)

METRIC_KEYS = ["candidates_in", "malformed_dropped", "robots_blocked",
               "dup_dropped", "new_seen", "seen_total", "new_domains",
               "scheduled", "frontier_depth", "pages_discovered"]


def _run_engine(spark, fx, tmp_path, name, **kw):
    eng = CrawlEngine(spark, str(tmp_path / name), fx["documents"],
                      fx["seeds"], fx["robots"], params=PARAMS, **kw)
    metrics = eng.run()
    return eng, metrics


def _scheduled_lists(eng):
    rows = (eng.scheduled_rounds()
            .select("fetch_round", "url", "priority", "depth", "surt")
            .collect())
    out = {}
    for r in rows:
        out.setdefault(r.fetch_round, []).append((r.url, r.priority))
    return out


@pytest.fixture(scope="module")
def oracle_small(fx_small):
    return run_oracle(fx_small["documents"], fx_small["seeds"],
                      fx_small["robots"], PARAMS)


class TestEngineMatchesOracle:
    @pytest.fixture(scope="class")
    def engine(self, spark, fx_small, tmp_path_factory):
        tmp = tmp_path_factory.mktemp("state")
        return _run_engine(spark, fx_small, tmp, "exact", filter_kind=None)

    def test_scheduled_ordering_exact(self, engine, oracle_small):
        eng, _ = engine
        got = _scheduled_lists(eng)
        for r, want in enumerate(oracle_small.scheduled):
            want_list = [(c["url"], c["priority"]) for c in want]
            assert got.get(r, []) == want_list, f"round {r} ordering mismatch"

    def test_seen_set_exact(self, engine, oracle_small):
        eng, _ = engine
        seen = {r.url: r.first_round for r in
                eng.seen.seen_df().select("url", "first_round").collect()}
        assert seen == oracle_small.seen

    def test_metrics_match(self, engine, oracle_small):
        _, metrics = engine
        assert len(metrics) == len(oracle_small.metrics)
        for got, want in zip(metrics, oracle_small.metrics):
            for k in METRIC_KEYS:
                assert got[k] == want[k], f"round {got['round']} metric {k}"

    def test_frontier_leftover_matches(self, engine, oracle_small):
        eng, _ = engine
        left = {r.url for r in
                eng.live_frontier().select("url").collect()}
        assert left == set(oracle_small.frontier)

    def test_fetch_offsets_match(self, engine, oracle_small):
        """Per-host in-round fetch offsets (the reference's inter-fetch
        interval, explicit) must equal the oracle's rank×delay stamps."""
        eng, _ = engine
        rows = (eng.scheduled_rounds()
                .select("fetch_round", "url", "fetch_offset_ms").collect())
        got = {(r.fetch_round, r.url): r.fetch_offset_ms for r in rows}
        for r, sched in enumerate(oracle_small.scheduled):
            for c in sched:
                assert got[(r, c["url"])] == c["fetch_offset_ms"], c["url"]

    def test_domain_seen_set_exact(self, engine, oracle_small):
        eng, _ = engine
        doms = {r.host_key: r.first_round for r in
                eng.domains_tbl.read_chain().collect()}
        assert doms == oracle_small.domains


class TestBloomEquivalence:
    def test_bloom_accelerated_run_identical(self, spark, fx_small, tmp_path,
                                             oracle_small):
        eng, metrics = _run_engine(spark, fx_small, tmp_path, "bloom",
                                   filter_kind="bloom", bits_per_bucket=1 << 14)
        got = _scheduled_lists(eng)
        for r, want in enumerate(oracle_small.scheduled):
            assert got.get(r, []) == [(c["url"], c["priority"]) for c in want]
        seen = {r.url for r in eng.seen.seen_df().select("url").collect()}
        assert seen == set(oracle_small.seen)

    def test_bloom_delta_commit_skips_untouched_buckets(self, spark, tmp_path):
        """A round's bloom commit writes ONLY the buckets that received
        new URLs; untouched buckets stay in their earlier snapshot files
        (latest-bucket-wins on read). Round 2 rewrote every bitmap every
        round — 12 GiB/round at the 1e10-URL design point."""
        from ccspark.seen import SeenSet, with_bucket
        from ccspark.tables import SnapshotStore

        store = SnapshotStore(spark, str(tmp_path / "st"))
        seen = SeenSet(store, partitions=8, filter_kind="bloom",
                       bits_per_bucket=1 << 12)
        urls0 = spark.createDataFrame(
            [(f"http://h/{i}",) for i in range(64)], "url string")
        seen.add(with_bucket(urls0, partitions=8), 0)
        v1 = seen.filter_tbl.latest_version()
        v1_files = seen.filter_tbl.meta(v1)["files"]
        n_buckets_v1 = seen.filter_tbl.read(v1).count()
        assert n_buckets_v1 > 1  # 64 urls spread over several buckets

        one = with_bucket(spark.createDataFrame(
            [("http://h/brand-new-url",)], "url string"), partitions=8)
        new = seen.filter_new(one)
        assert new.count() == 1
        seen.add(new, 1)
        v2 = seen.filter_tbl.latest_version()
        # the delta snapshot holds exactly the one touched bucket …
        assert seen.filter_tbl.read(v2).count() == 1
        # … the earlier snapshot's manifest (and files) are untouched …
        assert seen.filter_tbl.meta(v1)["files"] == v1_files
        # … and the resolved state is still the union: nothing re-admits
        resolved = {r.bucket: r.n for r in seen._filter_df().collect()}
        assert sum(resolved.values()) == 65
        both = urls0.union(spark.createDataFrame(
            [("http://h/brand-new-url",)], "url string"))
        assert seen.filter_new(with_bucket(both, partitions=8)).count() == 0

    def test_bloom_compaction_bounds_chain_and_preserves_state(
            self, spark, tmp_path):
        from ccspark.seen import SeenSet, with_bucket
        from ccspark.tables import SnapshotStore

        store = SnapshotStore(spark, str(tmp_path / "stc"))
        seen = SeenSet(store, partitions=4, filter_kind="bloom",
                       bits_per_bucket=1 << 12)
        for r in range(3):
            urls = spark.createDataFrame(
                [(f"http://h/r{r}/{i}",) for i in range(20)], "url string")
            seen.add(seen.filter_new(with_bucket(urls, partitions=4)), r)
        before = {r.bucket: (r.bitmap, r.n)
                  for r in seen._filter_df().collect()}
        seen.compact_filter(2)
        after = {r.bucket: (r.bitmap, r.n)
                 for r in seen._filter_df().collect()}
        assert before == after
        # post-compaction the chain read touches ONE snapshot (the full)
        last = seen.filter_tbl.latest_version()
        assert seen.filter_tbl.meta(last)["kind"] == "full"
        assert seen.filter_tbl.read_chain().count() == len(before)


class TestResume:
    def test_resume_after_partial_run_is_byte_identical(self, spark, fx_small,
                                                        tmp_path, oracle_small):
        # full run in one go
        full = CrawlEngine(spark, str(tmp_path / "full"), fx_small["documents"],
                           fx_small["seeds"], fx_small["robots"], params=PARAMS)
        full.run()

        # interrupted run: 2 rounds, then a NEW engine resumes round 3
        part = CrawlEngine(spark, str(tmp_path / "part"), fx_small["documents"],
                           fx_small["seeds"], fx_small["robots"],
                           params=CrawlParams(rounds=2))
        part.run()
        resumed = CrawlEngine(spark, str(tmp_path / "part"), fx_small["documents"],
                              fx_small["seeds"], fx_small["robots"], params=PARAMS)
        resumed.run(resume=True)

        a = _scheduled_lists(full)
        b = _scheduled_lists(resumed)
        assert a == b
        sa = {r.url for r in full.seen.seen_df().select("url").collect()}
        sb = {r.url for r in resumed.seen.seen_df().select("url").collect()}
        assert sa == sb == set(oracle_small.seen)

    def test_resume_rolls_back_uncommitted_round(self, spark, fx_small, tmp_path):
        eng = CrawlEngine(spark, str(tmp_path / "rb"), fx_small["documents"],
                          fx_small["seeds"], fx_small["robots"],
                          params=CrawlParams(rounds=2))
        eng.run()
        # simulate a crash mid-round-2: extra seen delta without a round commit
        extra = spark.createDataFrame(
            [("http://crash.example/x", 1, 1)],
            "url string, url_hash long, bucket int")
        eng.seen.add(extra.withColumn("url_hash", F.xxhash64("url")), 2)
        resumed = CrawlEngine(spark, str(tmp_path / "rb"), fx_small["documents"],
                              fx_small["seeds"], fx_small["robots"],
                              params=CrawlParams(rounds=3))
        resumed.run(resume=True)
        seen = {r.url for r in resumed.seen.seen_df().select("url").collect()}
        assert "http://crash.example/x" not in seen


class TestBackpressure:
    def test_u9_round_cap_matches_oracle(self, spark, fx_small, tmp_path):
        """U9: global per-round cap (ProcessingService.java:44-45 analog)
        — engine and oracle must agree on WHICH URLs make the cut."""
        params = CrawlParams(rounds=2, max_scheduled_per_round=25)
        want = run_oracle(fx_small["documents"], fx_small["seeds"],
                          fx_small["robots"], params)
        eng = CrawlEngine(spark, str(tmp_path / "cap"), fx_small["documents"],
                          fx_small["seeds"], fx_small["robots"], params=params)
        eng.run()
        got = _scheduled_lists(eng)
        for r, w in enumerate(want.scheduled):
            assert len(w) <= 25
            assert got.get(r, []) == [(c["url"], c["priority"]) for c in w]


class TestCompaction:
    def test_compacted_run_identical_and_chain_bounded(self, spark, fx_small,
                                                       tmp_path, oracle_small):
        """Seen-chain compaction is pure maintenance: same scheduled
        ordering and seen set, but read_chain afterwards reads one 'full'
        snapshot instead of one delta per round."""
        params = CrawlParams(rounds=3, compact_seen_every=2)
        eng = CrawlEngine(spark, str(tmp_path / "cp"), fx_small["documents"],
                          fx_small["seeds"], fx_small["robots"], params=params)
        eng.run()
        got = _scheduled_lists(eng)
        for r, want in enumerate(oracle_small.scheduled):
            assert got.get(r, []) == [(c["url"], c["priority"]) for c in want]
        assert ({r.url for r in eng.seen.seen_df().select("url").collect()}
                == set(oracle_small.seen))
        tbl = eng.seen.seen_tbl
        kinds = [tbl.meta(v).get("kind") for v in tbl.versions()]
        assert "full" in kinds, kinds
        # chain read spans only the tail: full snapshot + later deltas
        last_full = max(v for v in tbl.versions()
                        if tbl.meta(v).get("kind") == "full")
        tail = [v for v in tbl.versions() if v >= last_full]
        assert len(tail) < len(tbl.versions())


class TestRobotsStaleness:
    def test_stale_robots_treated_as_absent(self, spark, fx_small, tmp_path):
        """U12 TTL: with every cache row stale, no host is blocked and all
        budgets use the default delay — engine must still equal the oracle
        under the same staleness params."""
        fixture_ts = 1767225600000  # fetched_at in fixtures.py
        params = CrawlParams(rounds=2, robots_max_age_ms=3600_000,
                             crawl_as_of_ms=fixture_ts + 7200_000)
        want = run_oracle(fx_small["documents"], fx_small["seeds"],
                          fx_small["robots"], params)
        assert all(m["robots_blocked"] == 0 for m in want.metrics)
        eng = CrawlEngine(spark, str(tmp_path / "ttl"), fx_small["documents"],
                          fx_small["seeds"], fx_small["robots"], params=params)
        metrics = eng.run()
        got = _scheduled_lists(eng)
        for r, w in enumerate(want.scheduled):
            assert got.get(r, []) == [(c["url"], c["priority"]) for c in w]
        for g, w in zip(metrics, want.metrics):
            for k in METRIC_KEYS:
                assert g[k] == w[k]

    def test_multi_generation_robots_cache(self, spark, fx_small, tmp_path):
        """A refreshed cache holds several generations per host; the
        engine must reduce to the freshest row before joining (a dup row
        would fan candidates out through the politeness joins) and pick
        the SAME row as the oracle."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        base = pq.read_table(fx_small["robots"])
        rows = base.to_pylist()
        old_gen = [dict(r, crawl_delay=999.0, disallow=["/"],
                        fetched_at=r["fetched_at"].replace(year=2024))
                   for r in rows]
        both = pa.Table.from_pylist(old_gen + rows, schema=base.schema)
        multi = str(tmp_path / "robots_multi.parquet")
        pq.write_table(both, multi)

        want = run_oracle(fx_small["documents"], fx_small["seeds"], multi,
                          PARAMS)
        eng = CrawlEngine(spark, str(tmp_path / "mg"), fx_small["documents"],
                          fx_small["seeds"], multi, params=PARAMS)
        metrics = eng.run()
        got = _scheduled_lists(eng)
        for r, w in enumerate(want.scheduled):
            assert got.get(r, []) == [(c["url"], c["priority"]) for c in w]
        for g, w in zip(metrics, want.metrics):
            for k in METRIC_KEYS:
                assert g[k] == w[k]

    def test_fresh_robots_still_apply(self, spark, fx_small, tmp_path):
        fixture_ts = 1767225600000
        params = CrawlParams(rounds=1, robots_max_age_ms=86400_000,
                             crawl_as_of_ms=fixture_ts + 3600_000)
        want = run_oracle(fx_small["documents"], fx_small["seeds"],
                          fx_small["robots"], params)
        eng = CrawlEngine(spark, str(tmp_path / "fresh"), fx_small["documents"],
                          fx_small["seeds"], fx_small["robots"], params=params)
        metrics = eng.run()
        assert metrics[0]["robots_blocked"] == want.metrics[0]["robots_blocked"]
        assert metrics[0]["scheduled"] == want.metrics[0]["scheduled"]


class TestClassifierEvalParity:
    def test_priority_eval_matches_pyoracle(self, spark, fx_small):
        """FakeArffCreator.java:54-119 confusion/F1 arithmetic for the
        priority>0.5 threshold vs the media-URL truth — engine counts and
        single-division F1s must equal the pure-Python twin exactly."""
        import pandas as pd
        import pyarrow.parquet as pq

        from ccspark import kernels as K
        from ccspark.extract import extract_links
        from ccspark.oracle import extract_links_py
        from ccspark.scheduler import canonicalize
        from ccspark.similarity import confusion_f1

        docs = spark.read.parquet(fx_small["documents"])
        got = confusion_f1(
            canonicalize(extract_links(docs, follow_links=True), 0).select(
                (F.col("priority") > 0.5).alias("pred_big"),
                F.col("url").rlike(K.SPARK_MEDIA_RE).alias("truth_big"))
        ).collect()[0]

        cands = []
        for d in pq.read_table(fx_small["documents"]).to_pylist():
            cands.extend(extract_links_py(d, follow_links=True))
        keep = []
        for c in cands:
            src = K.strip_whitespace(pd.Series([c["url_raw"]])).iloc[0]
            page = K.strip_whitespace(pd.Series([c["page_url"]])).iloc[0]
            if src == "":
                continue
            url = K.normalize_one(src, page) if not K.is_absolute(src) else src
            if url is None:
                continue
            host = K.hosts_of(pd.Series([url])).iloc[0]
            if host is None or host == "":
                continue
            keep.append(dict(c, url=url))
        pdf = pd.DataFrame({
            "url": [c["url"] for c in keep],
            "page_url": [c["page_url"] for c in keep],
            "kind": [c["kind"] for c in keep],
            "alt": [c["alt"] for c in keep],
            "parent_txt": [c["parent_txt"] for c in keep],
            "dom_depth": [c["dom_depth"] for c in keep],
            "dom_sib": [c["dom_sib"] for c in keep],
        })
        pred = (K.priority_scores(pdf) > 0.5).to_numpy()
        truth = K.is_media_series(pdf["url"]).to_numpy()
        tp_b = int((truth & pred).sum())
        fn_b = int((truth & ~pred).sum())
        fp_b = int((~truth & pred).sum())
        tp_s = int((~truth & ~pred).sum())
        assert (got.tp_big, got.fn_big, got.fp_big, got.tp_small,
                got.fn_small, got.fp_small) == (tp_b, fn_b, fp_b, tp_s,
                                                fp_b, fn_b)
        assert got.f1_big == 2 * tp_b / (2 * tp_b + fn_b + fp_b)
        assert got.f1_small == 2 * tp_s / (2 * tp_s + fn_b + fp_b)
        assert got.f1_avg == (got.f1_big + got.f1_small) / 2


class TestSpanInvariant:
    def test_span_sequence_preserved(self, spark, fx_small):
        """input_hint: per-row span-sequence equality (kind, text,
        media_ref, order) for every doc flowing through the engine."""
        import pyarrow.parquet as pq
        docs = spark.read.parquet(fx_small["documents"])
        roundtrip = docs.select("doc_id", F.explode("spans").alias("sp")) \
            .select("doc_id", "sp.kind", "sp.text", "sp.media_ref", "sp.offset") \
            .collect()
        got = {}
        for r in roundtrip:
            got.setdefault(r.doc_id, []).append((r.offset, r.kind, r.text, r.media_ref))
        raw = pq.read_table(fx_small["documents"]).to_pylist()
        for d in raw:
            want = [(s["offset"], s["kind"], s["text"], s["media_ref"])
                    for s in d["spans"]]
            assert sorted(got[d["doc_id"]]) == sorted(want)
            assert [s["offset"] for s in d["spans"]] == sorted(
                s["offset"] for s in d["spans"]), "offsets strictly increasing"


class TestRecrawlPolicy:
    """recrawl_after_rounds: failed fetches from k rounds ago leave the
    seen set via SeenSet.remove (tombstone delta + filter update) and are
    re-scheduled — the ENGINE exercises the deletion path, pinned by the
    pure-Python oracle across a 4-round run for both filter backends."""

    PARAMS = CrawlParams(rounds=4, recrawl_after_rounds=2)

    @pytest.fixture(scope="class")
    def oracle_recrawl(self, fx_small):
        from ccspark.oracle import run_oracle as _ro
        return _ro(fx_small["documents"], fx_small["seeds"],
                   fx_small["robots"], self.PARAMS)

    @pytest.mark.parametrize("kw", [
        {"filter_kind": "cuckoo", "cuckoo_buckets": 1 << 8},
        {"filter_kind": "bloom", "bits_per_bucket": 1 << 14},
    ], ids=["cuckoo", "bloom"])
    def test_recrawl_run_matches_oracle(self, spark, fx_small, tmp_path,
                                        oracle_recrawl, kw):
        eng = CrawlEngine(spark, str(tmp_path / "rc"), fx_small["documents"],
                          fx_small["seeds"], fx_small["robots"],
                          params=self.PARAMS, **kw)
        metrics = eng.run()
        # some round actually re-admitted something, or the test is vacuous
        assert any(m.get("recrawled", 0) > 0 for m in oracle_recrawl.metrics)
        for got, want in zip(metrics, oracle_recrawl.metrics):
            for k in METRIC_KEYS + ["recrawled"]:
                if k in want or k in got:
                    assert got.get(k) == want.get(k), \
                        f"round {got['round']} metric {k}"
        got_sched = _scheduled_lists(eng)
        for r, want in enumerate(oracle_recrawl.scheduled):
            assert got_sched.get(r, []) == \
                [(c["url"], c["priority"]) for c in want], f"round {r}"
        seen = {r.url: r.first_round for r in
                eng.seen.seen_df().select("url", "first_round").collect()}
        assert seen == oracle_recrawl.seen

    def test_recrawl_with_compaction_identical(self, spark, fx_small,
                                               tmp_path, oracle_recrawl):
        """Compaction mid-run (compact_seen drops the tombstones) must not
        change recrawl results."""
        params = CrawlParams(rounds=4, recrawl_after_rounds=2,
                             compact_seen_every=2)
        eng = CrawlEngine(spark, str(tmp_path / "rcc"), fx_small["documents"],
                          fx_small["seeds"], fx_small["robots"],
                          params=params, filter_kind="cuckoo",
                          cuckoo_buckets=1 << 8)
        eng.run()
        got_sched = _scheduled_lists(eng)
        for r, want in enumerate(oracle_recrawl.scheduled):
            assert got_sched.get(r, []) == \
                [(c["url"], c["priority"]) for c in want], f"round {r}"
        seen = {r.url: r.first_round for r in
                eng.seen.seen_df().select("url", "first_round").collect()}
        assert seen == oracle_recrawl.seen


class TestTrapGuard:
    """Crawl-trap guard (params.trap_ratio_pm): engine ≡ pure-Python
    oracle on scheduled ordering, seen set, trap table, and the
    trap_hosts_new / trap_dropped metrics — including cumulative
    blocking in rounds AFTER detection."""

    PARAMS = CrawlParams(rounds=4, trap_ratio_pm=2000, trap_min_urls=4)

    @pytest.fixture(scope="class")
    def oracle_trap(self, fx_small):
        return run_oracle(fx_small["documents"], fx_small["seeds"],
                          fx_small["robots"], self.PARAMS)

    def test_guard_matches_oracle(self, spark, fx_small, tmp_path,
                                  oracle_trap):
        # the fixture must actually trip the guard, and keep dropping in
        # LATER rounds (persistent trap set), or the test is vacuous
        assert sum(m["trap_hosts_new"] for m in oracle_trap.metrics) > 0
        first_new = next(i for i, m in enumerate(oracle_trap.metrics)
                         if m["trap_hosts_new"] > 0)
        assert any(m["trap_dropped"] > 0
                   for m in oracle_trap.metrics[first_new + 1:])

        eng = CrawlEngine(spark, str(tmp_path / "trap"),
                          fx_small["documents"], fx_small["seeds"],
                          fx_small["robots"], params=self.PARAMS)
        metrics = eng.run()
        for got, want in zip(metrics, oracle_trap.metrics):
            for k in METRIC_KEYS + ["trap_hosts_new", "trap_dropped"]:
                if k in want or k in got:
                    assert got.get(k) == want.get(k), \
                        f"round {got['round']} metric {k}"
        got_sched = _scheduled_lists(eng)
        for r, want in enumerate(oracle_trap.scheduled):
            assert got_sched.get(r, []) == \
                [(c["url"], c["priority"]) for c in want], f"round {r}"
        seen = {r.url: r.first_round for r in
                eng.seen.seen_df().select("url", "first_round").collect()}
        assert seen == oracle_trap.seen
        traps = {r.host_key: r.first_round for r in
                 eng.traps_tbl.read_chain().collect()}
        assert traps == oracle_trap.traps

    def test_guard_off_adds_no_state(self, spark, fx_small, tmp_path):
        eng = CrawlEngine(spark, str(tmp_path / "notrap"),
                          fx_small["documents"], fx_small["seeds"],
                          fx_small["robots"], params=CrawlParams(rounds=2))
        metrics = eng.run()
        assert not eng.traps_tbl.exists()
        assert all("trap_hosts_new" not in m and "trap_dropped" not in m
                   for m in metrics)


class TestPagerankPrior:
    """params.pagerank_prior_weight: OPIC-style host-centrality boost on
    each round's own link graph. Engine ≡ pure-Python oracle on the full
    scheduled ordering and priorities (the boost is integer-rank ×
    one float multiply-add, so the order is bit-reproducible), and the
    prior actually CHANGES the ordering vs the unboosted run."""

    PARAMS = CrawlParams(rounds=3, pagerank_prior_weight=0.25)

    @pytest.fixture(scope="class")
    def oracle_pr(self, fx_small):
        return run_oracle(fx_small["documents"], fx_small["seeds"],
                          fx_small["robots"], self.PARAMS)

    def test_prior_run_matches_oracle(self, spark, fx_small, tmp_path,
                                      oracle_pr):
        eng = CrawlEngine(spark, str(tmp_path / "pr"), fx_small["documents"],
                          fx_small["seeds"], fx_small["robots"],
                          params=self.PARAMS)
        metrics = eng.run()
        for got, want in zip(metrics, oracle_pr.metrics):
            for k in METRIC_KEYS:
                assert got.get(k) == want.get(k), \
                    f"round {got['round']} metric {k}"
        got_sched = _scheduled_lists(eng)
        for r, want in enumerate(oracle_pr.scheduled):
            assert got_sched.get(r, []) == \
                [(c["url"], c["priority"]) for c in want], f"round {r}"

    def test_prior_changes_ordering(self, oracle_pr, oracle_small):
        base = [[c["url"] for c in rnd] for rnd in oracle_small.scheduled]
        boosted = [[c["url"] for c in rnd] for rnd in oracle_pr.scheduled]
        assert base != boosted, "prior had no effect — vacuous test"

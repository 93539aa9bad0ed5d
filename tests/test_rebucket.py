"""Partition evolution (SeenSet.rebucket): re-keying the seen layout
from P to P' buckets must preserve the exact set, rebuild the filter
blobs under the new spec, keep filter_new semantics identical, leave
pre-rebucket versions time-travelable under the OLD spec, and accept
deltas under the new spec afterwards."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ccspark.seen import SeenSet, with_bucket
from ccspark.tables import SnapshotStore


def _urls(spark, lo, hi):
    return spark.createDataFrame(
        [(f"http://h{i % 9}.com/page{i}",) for i in range(lo, hi)],
        "url string")


KINDS = [
    {"filter_kind": "cuckoo", "cuckoo_buckets": 1 << 8},
    {"filter_kind": "bloom", "bits_per_bucket": 1 << 12},
    {"filter_kind": None},
]


class TestRebucket:
    def _mk(self, spark, tmp_path, **kw):
        store = SnapshotStore(spark, str(tmp_path / "st"))
        seen = SeenSet(store, partitions=4, **kw)
        seen.add(with_bucket(_urls(spark, 0, 60), partitions=4), 0)
        return seen

    @pytest.mark.parametrize("kw", KINDS, ids=["cuckoo", "bloom", "exact"])
    @pytest.mark.parametrize("newp", [16, 2], ids=["grow", "shrink"])
    def test_set_preserved_and_filter_semantics_identical(
            self, spark, tmp_path, kw, newp):
        seen = self._mk(spark, tmp_path, **kw)
        before = {r.url for r in seen.seen_df().collect()}
        versions = seen.rebucket(newp, 1)
        assert "seen" in versions
        assert seen.partitions == newp
        after = seen.seen_df().collect()
        assert {r.url for r in after} == before
        # every row's bucket follows the NEW modulus
        bad = (seen.seen_df()
               .filter(F.pmod(F.col("url_hash"), F.lit(newp)).cast("int")
                       != F.col("bucket")).count())
        assert bad == 0
        # filter_new under the new spec: all seen blocked, new pass
        mixed = _urls(spark, 0, 80)  # 60 seen + 20 new
        out = seen.filter_new(with_bucket(mixed, partitions=newp))
        assert out.count() == 20
        assert {r.url for r in out.collect()} == {
            f"http://h{i % 9}.com/page{i}" for i in range(60, 80)}

    @pytest.mark.parametrize("kw", KINDS[:2], ids=["cuckoo", "bloom"])
    def test_filter_rebuilt_under_new_spec(self, spark, tmp_path, kw):
        seen = self._mk(spark, tmp_path, **kw)
        seen.rebucket(16, 1)
        rows = seen._filter_df().collect()
        assert sum(r.n for r in rows) == 60
        assert all(0 <= r.bucket < 16 for r in rows)

    def test_time_travel_reads_old_spec(self, spark, tmp_path):
        seen = self._mk(spark, tmp_path, filter_kind="cuckoo",
                        cuckoo_buckets=1 << 8)
        v0 = seen.seen_tbl.latest_version()
        seen.rebucket(16, 1)
        old = seen.seen_df(version=v0).collect()
        assert {r.url for r in old} == {
            f"http://h{i % 9}.com/page{i}" for i in range(60)}
        assert all(0 <= r.bucket < 4 for r in old)

    @pytest.mark.parametrize("kw", KINDS, ids=["cuckoo", "bloom", "exact"])
    def test_deltas_compose_after_rebucket(self, spark, tmp_path, kw):
        """add() and remove() keep working on the evolved layout, and
        the manifest records the spec change."""
        seen = self._mk(spark, tmp_path, **kw)
        versions = seen.rebucket(16, 1)
        m = seen.seen_tbl.meta(versions["seen"])
        assert m["kind"] == "full"
        assert m["metrics"]["partitions"] == 16
        assert m["metrics"]["rebucket_from"] == 4
        new = _urls(spark, 60, 90)
        seen.add(seen.filter_new(with_bucket(new, partitions=16)), 2)
        assert seen.seen_df().count() == 90
        seen.remove(_urls(spark, 0, 5), 3)
        assert seen.seen_df().count() == 85
        out = seen.filter_new(with_bucket(_urls(spark, 0, 90),
                                          partitions=16))
        assert out.count() == 5

    def test_spec_restored_after_restart(self, spark, tmp_path):
        """A fresh SeenSet over the same store adopts the evolved layout
        from the persisted spec metrics (restore_spec), and compaction
        re-stamps the spec so it survives history GC of the rebucket
        commit itself."""
        store = SnapshotStore(spark, str(tmp_path / "st"))
        seen = SeenSet(store, partitions=4, filter_kind="cuckoo",
                       cuckoo_buckets=1 << 8)
        seen.add(with_bucket(_urls(spark, 0, 60), partitions=4), 0)
        seen.rebucket(16, 1)
        seen.compact_seen(2)
        seen.seen_tbl.expire_snapshots(1)  # rebucket manifest expired
        fresh = SeenSet(SnapshotStore(spark, str(tmp_path / "st")),
                        partitions=4, filter_kind="cuckoo",
                        cuckoo_buckets=1 << 8)
        assert fresh.restore_spec()
        assert fresh.partitions == 16
        assert fresh.filter_new(
            with_bucket(_urls(spark, 0, 60), partitions=16)).count() == 0

    def test_cuckoo_capacity_resize_with_shrink(self, spark, tmp_path):
        """Shrinking P concentrates keys per bucket; the same call can
        grow the per-bucket cuckoo capacity so the rebuild fits."""
        seen = self._mk(spark, tmp_path, filter_kind="cuckoo",
                        cuckoo_buckets=1 << 8)
        seen.rebucket(1, 1, cuckoo_buckets=1 << 10)
        assert seen.nbuck == 1 << 10
        rows = seen._filter_df().collect()
        assert len(rows) == 1 and rows[0].n == 60
        assert seen.filter_new(
            with_bucket(_urls(spark, 0, 60), partitions=1)).count() == 0


class TestEngineAutoRebucket:
    """params.rebucket_target_keys in the round loop: layout-only —
    scheduled output and seen set identical to a no-policy run; the
    spec evolves, is recorded in round metrics, and survives resume."""

    def _run(self, spark, fx, tmp_path, name, **pkw):
        from ccspark.params import CrawlParams
        from ccspark.scheduler import CrawlEngine
        eng = CrawlEngine(spark, str(tmp_path / name), fx["documents"],
                          fx["seeds"], fx["robots"],
                          params=CrawlParams(rounds=3, seen_partitions=2,
                                             **pkw),
                          filter_kind="cuckoo", cuckoo_buckets=1 << 8)
        metrics = eng.run()
        return eng, metrics

    def test_parity_and_evolution(self, spark, fx_small, tmp_path):
        base, _ = self._run(spark, fx_small, tmp_path, "base")
        evo, em = self._run(spark, fx_small, tmp_path, "evo",
                            rebucket_target_keys=20)
        cols = ["fetch_round", "url", "priority", "depth", "surt"]
        want = [tuple(r) for r in
                base.scheduled_rounds().select(cols).collect()]
        got = [tuple(r) for r in
               evo.scheduled_rounds().select(cols).collect()]
        assert got == want
        b_seen = {r.url for r in base.seen.seen_df().collect()}
        e_seen = {r.url for r in evo.seen.seen_df().collect()}
        assert e_seen == b_seen
        # the layout actually evolved (fixture discovers ≫ 40 URLs)
        assert evo.seen.partitions > 2
        assert any("rebucketed_to" in m for m in em)
        # every persisted row follows the live modulus
        p = evo.seen.partitions
        assert (evo.seen.seen_df()
                .filter(F.pmod(F.col("url_hash"), F.lit(p)).cast("int")
                        != F.col("bucket")).count()) == 0

    def test_resume_adopts_evolved_spec(self, spark, fx_small, tmp_path):
        from ccspark.params import CrawlParams
        from ccspark.scheduler import CrawlEngine
        p2 = CrawlParams(rounds=2, seen_partitions=2,
                         rebucket_target_keys=20)
        eng = CrawlEngine(spark, str(tmp_path / "r"), fx_small["documents"],
                          fx_small["seeds"], fx_small["robots"], params=p2,
                          filter_kind="cuckoo", cuckoo_buckets=1 << 8)
        eng.run()
        evolved_p = eng.seen.partitions
        assert evolved_p > 2
        p3 = CrawlParams(rounds=3, seen_partitions=2,
                         rebucket_target_keys=20)
        eng2 = CrawlEngine(spark, str(tmp_path / "r"), fx_small["documents"],
                           fx_small["seeds"], fx_small["robots"], params=p3,
                           filter_kind="cuckoo", cuckoo_buckets=1 << 8)
        assert eng2.seen.partitions >= evolved_p  # spec restored pre-run
        eng2.run(resume=True)
        # the resumed run matches an uninterrupted 3-round policy run
        ref = CrawlEngine(spark, str(tmp_path / "ref"), fx_small["documents"],
                          fx_small["seeds"], fx_small["robots"], params=p3,
                          filter_kind="cuckoo", cuckoo_buckets=1 << 8)
        ref.run()
        cols = ["fetch_round", "url", "priority", "depth", "surt"]
        assert ([tuple(r) for r in
                 eng2.scheduled_rounds().select(cols).collect()]
                == [tuple(r) for r in
                    ref.scheduled_rounds().select(cols).collect()])


class TestRebucketProperty:
    """Property: for ANY url multiset and any P → P' evolution, the
    post-rebucket filter_new over (seen ∪ fresh) admits exactly the
    fresh urls — no false negatives ever, approximations included.
    Spark-session-per-example is too slow for hypothesis, so examples
    are drawn once per kind and looped (the repo's crawl-property
    idiom)."""

    import itertools as _it

    CASES = [
        # (n_urls, old_p, new_p)
        (1, 4, 16), (17, 4, 1), (64, 2, 8), (64, 8, 2), (33, 4, 4),
    ]

    @pytest.mark.parametrize("kind", ["cuckoo", "bloom"])
    def test_no_false_negatives_across_evolutions(self, spark, tmp_path,
                                                  kind):
        kw = ({"filter_kind": "cuckoo", "cuckoo_buckets": 1 << 8}
              if kind == "cuckoo"
              else {"filter_kind": "bloom", "bits_per_bucket": 1 << 12})
        for i, (n, old_p, new_p) in enumerate(self.CASES):
            store = SnapshotStore(spark, str(tmp_path / f"st{kind}{i}"))
            seen = SeenSet(store, partitions=old_p, **kw)
            seen.add(with_bucket(_urls(spark, 0, n), partitions=old_p), 0)
            seen.rebucket(new_p, 1)
            probe = _urls(spark, 0, n + 10)
            out = seen.filter_new(with_bucket(probe, partitions=new_p))
            got = {r.url for r in out.collect()}
            want = {f"http://h{j % 9}.com/page{j}" for j in range(n, n + 10)}
            assert got == want, (kind, n, old_p, new_p)


class TestRollbackSpecRederive:
    """ADVICE r5: (1) a crash BETWEEN rebucket's table commits and the
    round-log re-commit leaves orphan snapshots carrying the new spec;
    __init__'s restore_spec adopts them, rollback deletes them — the
    engine must re-derive the spec AFTER rollback or it probes the old
    layout under the new modulus (false-negative filter probes →
    duplicate admissions). (2) restore_spec must run even when
    rebucket_target_keys is off, so a store whose layout already
    evolved resumes under the evolved modulus with any config."""

    def _mk(self, spark, fx, path, **pkw):
        from ccspark.params import CrawlParams
        from ccspark.scheduler import CrawlEngine
        return CrawlEngine(spark, path, fx["documents"], fx["seeds"],
                           fx["robots"],
                           params=CrawlParams(rounds=3, seen_partitions=2,
                                              **pkw),
                           filter_kind="cuckoo", cuckoo_buckets=1 << 8)

    def test_resume_discards_orphan_rebucket_spec(self, spark, fx_small,
                                                  tmp_path):
        eng = self._mk(spark, fx_small, str(tmp_path / "r"))
        eng.run()
        spec_of_record = eng.seen.partitions
        # simulate the crash window: rebucket committed its snapshots
        # (spec metrics stamped) but the round-log re-commit never ran
        eng.seen.rebucket(64, 99)
        # a fresh engine adopts the orphan spec in __init__ ...
        eng2 = self._mk(spark, fx_small, str(tmp_path / "r"))
        assert eng2.seen.partitions == 64
        # ... and must drop it again once rollback discards the orphans
        eng2.rollback_to_last_round()
        assert eng2.seen.partitions == spec_of_record
        # post-rollback probes stay correct: every previously-seen URL
        # is filtered (no duplicate admissions through a wrong modulus)
        seen_urls = eng2.seen.seen_df().select("url")
        out = eng2.seen.filter_new(
            with_bucket(seen_urls, partitions=eng2.seen.partitions))
        assert out.count() == 0

    def test_restore_spec_without_rebucket_knob(self, spark, fx_small,
                                                tmp_path):
        evo = self._mk(spark, fx_small, str(tmp_path / "e"),
                       rebucket_target_keys=20)
        evo.run()
        evolved_p = evo.seen.partitions
        assert evolved_p > 2
        # re-open WITHOUT the knob: constructor says 2 buckets but the
        # persisted layout of record must win unconditionally
        eng2 = self._mk(spark, fx_small, str(tmp_path / "e"))
        assert eng2.seen.partitions == evolved_p
        seen_urls = eng2.seen.seen_df().select("url")
        out = eng2.seen.filter_new(
            with_bucket(seen_urls, partitions=eng2.seen.partitions))
        assert out.count() == 0


class TestRebucketTriggerCost:
    """VERDICT r4 #6: the auto-rebucket trigger reads the running
    seen_total scalar (observed counts riding the round's own jobs) —
    enabling the policy must not add a standalone count() job when no
    evolution fires."""

    def _round_jobs(self, spark, fx, tmp_path, name, **pkw):
        from ccspark.params import CrawlParams
        from ccspark.scheduler import CrawlEngine
        eng = CrawlEngine(spark, str(tmp_path / name), fx["documents"],
                          fx["seeds"], fx["robots"],
                          params=CrawlParams(rounds=2, seen_partitions=2,
                                             **pkw),
                          filter_kind="cuckoo", cuckoo_buckets=1 << 8)
        sc = spark.sparkContext
        sc.setJobGroup(name, name)
        try:
            metrics = eng.run()
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(name)), metrics

    def test_trigger_adds_no_jobs(self, spark, fx_small, tmp_path):
        base_jobs, base_m = self._round_jobs(spark, fx_small, tmp_path,
                                             "nopol")
        # target high enough that no rebucket fires: job count must be
        # IDENTICAL to the policy-off run
        pol_jobs, pol_m = self._round_jobs(spark, fx_small, tmp_path,
                                           "pol", rebucket_target_keys=10**9)
        assert pol_jobs == base_jobs
        assert not any("rebucketed_to" in m for m in pol_m)
        # and the scalar the trigger reads equals the resolved set
        from ccspark.oracle import run_oracle
        from ccspark.params import CrawlParams
        want = run_oracle(fx_small["documents"], fx_small["seeds"],
                          fx_small["robots"],
                          CrawlParams(rounds=2, seen_partitions=2))
        for g, w in zip(pol_m, want.metrics):
            assert g["seen_total"] == w["seen_total"]

"""Cuckoo-filter backend: numpy kernel properties, Spark equivalence
(engine run with filter_kind='cuckoo' ≡ exact ≡ pure-Python oracle), and
the recrawl path (SeenSet.remove) for both filter kinds."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

import ccspark.cuckoo as ck
from ccspark.params import CrawlParams
from ccspark.scheduler import CrawlEngine
from ccspark.seen import SeenSet, with_bucket
from ccspark.tables import SnapshotStore


def _urls(n, prefix="http://h.example.com/p"):
    return pd.Series([f"{prefix}{i}" for i in range(n)])


class TestCuckooKernels:
    def test_alt_bucket_is_involution(self):
        rng = np.random.default_rng(1)
        nbuck = 1 << 12
        fp = rng.integers(1, 65536, 5000).astype(np.uint16)
        b = rng.integers(0, nbuck, 5000).astype(np.int64)
        b2 = ck.alt_bucket(fp, b, nbuck)
        assert (ck.alt_bucket(fp, b2, nbuck) == b).all()

    def test_insert_contains_no_false_negatives(self):
        nbuck = 1 << 12                      # 16384 slots
        table = ck.new_table(nbuck)
        urls = _urls(10_000)                 # 61% load
        fp, i1 = ck.key_parts(urls, nbuck)
        ck.insert(table, fp, i1)
        assert ck.contains(table, fp, i1).all()
        assert abs(ck.load_factor(table) - 10_000 / (nbuck * ck.SLOTS)) < 1e-9

    def test_high_load_insert(self):
        """The published b=4 bound is ~95% load; the engine sizes for
        ≤84%. Verify insertion completes and stays exact at 84%."""
        nbuck = 1 << 10
        table = ck.new_table(nbuck)
        n = int(0.84 * nbuck * ck.SLOTS)
        urls = _urls(n)
        fp, i1 = ck.key_parts(urls, nbuck)
        ck.insert(table, fp, i1)
        assert ck.contains(table, fp, i1).all()

    def test_over_capacity_raises(self):
        nbuck = 8
        table = ck.new_table(nbuck)
        urls = _urls(nbuck * ck.SLOTS + 8)   # > physical slots
        fp, i1 = ck.key_parts(urls, nbuck)
        with pytest.raises(RuntimeError, match="over capacity"):
            ck.insert(table, fp, i1)

    def test_false_positive_rate_small(self):
        nbuck = 1 << 12
        table = ck.new_table(nbuck)
        fp, i1 = ck.key_parts(_urls(8000), nbuck)
        ck.insert(table, fp, i1)
        other = ck.key_parts(_urls(20_000, prefix="http://other.com/x"), nbuck)
        fpr = ck.contains(table, *other).mean()
        # theory ≈ 2·load·SLOTS/65535 ≈ 0.006% at this load; allow slack
        assert fpr < 0.005

    def test_serialize_round_trip(self):
        nbuck = 1 << 8
        table = ck.new_table(nbuck)
        fp, i1 = ck.key_parts(_urls(300), nbuck)
        ck.insert(table, fp, i1)
        back = ck.from_bytes(ck.to_bytes(table))
        assert back.shape == table.shape and (back == table).all()

    def test_delete_removes_only_requested(self):
        nbuck = 1 << 12
        table = ck.new_table(nbuck)
        urls = _urls(6000)
        fp, i1 = ck.key_parts(urls, nbuck)
        ck.insert(table, fp, i1)
        rm = slice(0, 1500)
        deleted = ck.delete(table, fp[rm], i1[rm])
        assert deleted.all()
        # every surviving key still probes positive (the invariant the
        # engine's correctness rests on)
        assert ck.contains(table, fp[1500:], i1[1500:]).all()
        # deleted keys are (almost all) gone — residual hits are fp
        # collisions with surviving keys, bounded by the fp rate
        assert ck.contains(table, fp[rm], i1[rm]).mean() < 0.005

    def test_duplicate_inserts_each_hold_a_slot(self):
        """Deletion safety for fingerprint-colliding keys: duplicates are
        stored, not deduped, so deleting one occurrence leaves the other."""
        nbuck = 1 << 6
        table = ck.new_table(nbuck)
        urls = _urls(10)
        fp, i1 = ck.key_parts(urls, nbuck)
        ck.insert(table, fp, i1)
        ck.insert(table, fp, i1)          # second copy of every key
        assert (table != 0).sum() == 20
        ck.delete(table, fp, i1)          # remove one copy each
        assert ck.contains(table, fp, i1).all()

    @given(st.lists(st.text(min_size=1, max_size=30), min_size=1,
                    max_size=300, unique=True))
    @settings(max_examples=40, deadline=None)
    def test_property_no_false_negatives(self, keys):
        nbuck = 1 << 10
        table = ck.new_table(nbuck)
        fp, i1 = ck.key_parts(pd.Series(keys), nbuck)
        ck.insert(table, fp, i1)
        assert ck.contains(table, fp, i1).all()


class TestCuckooEngineEquivalence:
    def test_cuckoo_accelerated_run_identical(self, spark, fx_small, tmp_path):
        """Same contract the bloom backend passes: the cuckoo-accelerated
        engine reproduces the pure-Python oracle exactly."""
        from ccspark.oracle import run_oracle
        params = CrawlParams(rounds=3)
        oracle = run_oracle(fx_small["documents"], fx_small["seeds"],
                            fx_small["robots"], params)
        eng = CrawlEngine(spark, str(tmp_path / "ck"), fx_small["documents"],
                          fx_small["seeds"], fx_small["robots"], params=params,
                          filter_kind="cuckoo", cuckoo_buckets=1 << 10)
        eng.run()
        rows = (eng.scheduled_rounds()
                .select("fetch_round", "url", "priority").collect())
        got = {}
        for r in rows:
            got.setdefault(r.fetch_round, []).append((r.url, r.priority))
        for r, want in enumerate(oracle.scheduled):
            assert got.get(r, []) == [(c["url"], c["priority"]) for c in want]
        seen = {r.url for r in eng.seen.seen_df().select("url").collect()}
        assert seen == set(oracle.seen)
        # the accelerator persisted under its own table name and is
        # tracked by the round log (rollback would restore it)
        assert eng.seen.filter_name == "cuckoo"
        assert eng.seen.filter_tbl.exists()
        assert "cuckoo" in eng.store.last_round()["tables"]

    def test_cuckoo_delta_commit_skips_untouched_buckets(self, spark, tmp_path):
        store = SnapshotStore(spark, str(tmp_path / "st"))
        seen = SeenSet(store, partitions=8, filter_kind="cuckoo",
                       cuckoo_buckets=1 << 8)
        urls0 = spark.createDataFrame(
            [(f"http://h/{i}",) for i in range(64)], "url string")
        seen.add(with_bucket(urls0, partitions=8), 0)
        v1 = seen.filter_tbl.latest_version()
        v1_files = seen.filter_tbl.meta(v1)["files"]

        one = with_bucket(spark.createDataFrame(
            [("http://h/brand-new-url",)], "url string"), partitions=8)
        new = seen.filter_new(one)
        assert new.count() == 1
        seen.add(new, 1)
        v2 = seen.filter_tbl.latest_version()
        assert seen.filter_tbl.read(v2).count() == 1       # one touched bucket
        assert seen.filter_tbl.meta(v1)["files"] == v1_files
        resolved = {r.bucket: r.n for r in seen._filter_df().collect()}
        assert sum(resolved.values()) == 65
        both = urls0.union(spark.createDataFrame(
            [("http://h/brand-new-url",)], "url string"))
        assert seen.filter_new(with_bucket(both, partitions=8)).count() == 0


class TestRecrawlRemove:
    def _mk(self, spark, tmp_path, **kw):
        store = SnapshotStore(spark, str(tmp_path / "st"))
        seen = SeenSet(store, partitions=4, **kw)
        urls = spark.createDataFrame(
            [(f"http://h{i % 7}.com/p{i}",) for i in range(64)], "url string")
        seen.add(with_bucket(urls, partitions=4), 0)
        return seen, urls

    @pytest.mark.parametrize("kw", [
        {"filter_kind": "cuckoo", "cuckoo_buckets": 1 << 8},
        {"filter_kind": "bloom", "bits_per_bucket": 1 << 12},
        {"filter_kind": None},
    ], ids=["cuckoo", "bloom-rebuild", "exact-only"])
    def test_removed_urls_are_readmitted(self, spark, tmp_path, kw):
        seen, urls = self._mk(spark, tmp_path, **kw)
        rm = spark.createDataFrame(
            [(f"http://h{i % 7}.com/p{i}",) for i in range(10)], "url string")
        versions = seen.remove(rm, 1)
        assert "seen" in versions
        assert seen.seen_df().count() == 54
        # removed URLs pass the full filter_new path again …
        readmit = seen.filter_new(with_bucket(rm, partitions=4))
        assert readmit.count() == 10
        # … while every surviving URL is still blocked
        assert seen.filter_new(with_bucket(urls, partitions=4)).count() == 10

    def test_bloom_rebuild_handles_fully_emptied_bucket(self, spark, tmp_path):
        """A bucket losing ALL its URLs must emit a fresh (empty) bitmap
        that outranks the old row — otherwise latest-bucket-wins would
        resurrect the stale bits and block the recrawl's exact re-add
        fast path forever."""
        store = SnapshotStore(spark, str(tmp_path / "st"))
        seen = SeenSet(store, partitions=4, filter_kind="bloom",
                       bits_per_bucket=1 << 12)
        urls = spark.createDataFrame(
            [(f"http://only.com/{i}",) for i in range(12)], "url string")
        seen.add(with_bucket(urls, partitions=4), 0)
        seen.remove(urls, 1)
        assert seen.seen_df().count() == 0
        flagged = seen.filter_new(with_bucket(urls, partitions=4))
        assert flagged.count() == 12
        # resolved filter rows for touched buckets are all-empty
        for r in seen._filter_df().collect():
            assert r.n == 0


class TestTombstoneRemove:
    """SeenSet.remove commits O(removed) tombstone deltas (never a full
    survivor rewrite), resolves latest-event-wins on read, stays
    time-travelable, and compacts tombstone-free."""

    def _seed(self, spark, tmp_path, **kw):
        store = SnapshotStore(spark, str(tmp_path / "st"))
        seen = SeenSet(store, partitions=4, **kw)
        urls = spark.createDataFrame(
            [(f"http://h{i % 5}.com/p{i}",) for i in range(64)], "url string")
        seen.add(with_bucket(urls, partitions=4), 0)
        return seen, urls

    def test_remove_commits_delta_of_removed_size(self, spark, tmp_path):
        seen, urls = self._seed(spark, tmp_path, filter_kind="cuckoo",
                                cuckoo_buckets=1 << 8)
        v_before = seen.seen_tbl.latest_version()
        rm = urls.limit(0).union(spark.createDataFrame(
            [(f"http://h{i % 5}.com/p{i}",) for i in range(10)], "url string"))
        seen.remove(rm, 1)
        v_after = seen.seen_tbl.latest_version()
        meta = seen.seen_tbl.meta(v_after)
        assert meta["kind"] == "delta"            # NOT a full rewrite
        assert meta["metrics"].get("tombstones") is True
        # the committed snapshot holds exactly the tombstone rows
        assert seen.seen_tbl.read(v_after).count() == 10
        assert seen.seen_df().count() == 54
        # time travel: the pre-remove version still shows all 64
        assert seen.seen_df(v_before).count() == 64

    def test_remove_is_idempotent_and_semijoined(self, spark, tmp_path):
        """Removing never-inserted urls — or the same urls twice — must
        not clear colliding fingerprint slots of SURVIVING urls (the
        false-negative hazard) and must not drift the bucket counts."""
        seen, urls = self._seed(spark, tmp_path, filter_kind="cuckoo",
                                cuckoo_buckets=1 << 6)  # small → collisions
        rm = spark.createDataFrame(
            [(f"http://h{i % 5}.com/p{i}",) for i in range(10)]
            + [(f"http://never-seen.com/x{i}",) for i in range(200)],
            "url string")
        seen.remove(rm, 1)
        seen.remove(rm, 2)   # retried/duplicate recrawl request
        assert seen.seen_df().count() == 54
        # no false negatives: every surviving url still probes maybe-seen
        survivors = spark.createDataFrame(
            [(f"http://h{i % 5}.com/p{i}",) for i in range(10, 64)],
            "url string")
        assert seen.filter_new(with_bucket(survivors, partitions=4)).count() == 0
        # counts didn't drift below the true key count
        n_total = sum(r.n for r in seen._filter_df().collect())
        assert n_total >= 0
        # removed urls re-admit exactly once
        rm10 = spark.createDataFrame(
            [(f"http://h{i % 5}.com/p{i}",) for i in range(10)], "url string")
        readmit = seen.filter_new(with_bucket(rm10, partitions=4))
        assert readmit.count() == 10

    def test_readd_after_remove_wins(self, spark, tmp_path):
        seen, urls = self._seed(spark, tmp_path, filter_kind="cuckoo",
                                cuckoo_buckets=1 << 8)
        rm = spark.createDataFrame([("http://h0.com/p0",)], "url string")
        seen.remove(rm, 1)
        assert seen.seen_df().filter("url = 'http://h0.com/p0'").count() == 0
        seen.add(with_bucket(rm, partitions=4), 3)
        row = seen.seen_df().filter("url = 'http://h0.com/p0'").collect()
        assert len(row) == 1 and row[0].first_round == 3

    @pytest.mark.parametrize("kw", [
        {"filter_kind": "cuckoo", "cuckoo_buckets": 1 << 8},
        {"filter_kind": "bloom", "bits_per_bucket": 1 << 12},
    ], ids=["cuckoo", "bloom"])
    def test_compact_seen_materializes_resolved_set(self, spark, tmp_path, kw):
        seen, urls = self._seed(spark, tmp_path, **kw)
        rm = spark.createDataFrame(
            [(f"http://h{i % 5}.com/p{i}",) for i in range(10)], "url string")
        seen.remove(rm, 1)
        before = {r.url for r in seen.seen_df().select("url").collect()}
        v = seen.compact_seen(2)
        meta = seen.seen_tbl.meta(v)
        assert meta["kind"] == "full"
        # the full snapshot is tombstone-free: exactly the survivors
        assert seen.seen_tbl.read(v).count() == 54
        after = {r.url for r in seen.seen_df().select("url").collect()}
        assert after == before
        # post-compaction reads take the tombstone-free fast path
        assert not seen._chain_has_tombstones()

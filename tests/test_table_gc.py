"""Snapshot-history GC: expire_snapshots / remove_orphans (the Iceberg
maintenance analogs) — unit semantics on a bare SnapshotTable plus the
engine-integrated path (CrawlParams.expire_keep_last)."""

from __future__ import annotations

import os

import pytest

from ccspark.params import CrawlParams
from ccspark.scheduler import CrawlEngine
from ccspark.tables import SnapshotTable


def _tbl(spark, tmp_path, rows_per_version, compact_at=()):
    t = SnapshotTable(spark, str(tmp_path), "t")
    for i, n in enumerate(rows_per_version):
        df = spark.range(n).withColumnRenamed("id", "x")
        t.commit(df, round_no=i)
        if i in compact_at:
            t.compact_chain(round_no=i)
    return t


def test_expire_keeps_chain_closure(spark, tmp_path):
    # v1..v3 deltas, v4 = full (compaction of rounds 0-2), v5 delta
    t = _tbl(spark, tmp_path, [2, 3, 4], compact_at=(2,))
    t.commit(spark.range(5).withColumnRenamed("id", "x"), round_no=3)
    assert t.versions() == [1, 2, 3, 4, 5]
    before_chain = t.read_chain().count()      # full(9) + delta(5)
    expired = t.expire_snapshots(keep_last=2)
    assert expired == [1, 2, 3]
    assert t.versions() == [4, 5]
    assert t.read_chain().count() == before_chain
    assert t.read().count() == 5               # latest plain read intact
    with pytest.raises(Exception):
        t.read(2)                              # expired: no time travel
    assert not os.path.isdir(os.path.join(str(tmp_path), "t", "v2"))


def test_expire_without_compaction_is_a_noop(spark, tmp_path):
    # an uncompacted append chain is fully live — nothing reclaimable
    t = _tbl(spark, tmp_path, [1, 2, 3])
    assert t.expire_snapshots(keep_last=1) == []
    assert t.versions() == [1, 2, 3]
    assert t.read_chain().count() == 6


def test_expire_never_drops_latest_and_respects_age(spark, tmp_path):
    t = _tbl(spark, tmp_path, [1, 2], compact_at=(1,))
    # all manifests were committed "now": an age floor retains everything
    assert t.expire_snapshots(keep_last=1, older_than_s=3600) == []
    assert t.expire_snapshots(keep_last=1) == [1, 2]
    assert t.versions() == [3]


def test_remove_orphans(spark, tmp_path):
    t = _tbl(spark, tmp_path, [2], compact_at=())
    orphan = os.path.join(str(tmp_path), "t", "v9")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-0.parquet"), "wb") as fh:
        fh.write(b"junk")
    # a fresh orphan survives an age-guarded sweep (in-flight commit)
    assert t.remove_orphans(older_than_s=3600) == []
    assert t.remove_orphans() == ["v9"]
    assert not os.path.isdir(orphan)
    assert t.read().count() == 2


def test_engine_expiration_invisible_to_results(spark, fx_small, tmp_path):
    """4 rounds with compaction+expiration vs plain: identical scheduled
    output and metrics; history actually reclaimed; resume still works."""
    base = CrawlEngine(spark, str(tmp_path / "plain"), fx_small["documents"],
                       fx_small["seeds"], fx_small["robots"],
                       params=CrawlParams(rounds=4))
    base.run()
    gc = CrawlEngine(spark, str(tmp_path / "gc"), fx_small["documents"],
                     fx_small["seeds"], fx_small["robots"],
                     params=CrawlParams(rounds=4, compact_seen_every=2,
                                        expire_keep_last=2))
    gc.run()
    cols = ["url", "fetch_round", "status"]
    a = sorted(map(tuple, base.scheduled_rounds().select(cols).collect()))
    b = sorted(map(tuple, gc.scheduled_rounds().select(cols).collect()))
    assert a == b
    am = [{k: v for k, v in m.items() if k != "wall_s"}
          for m in base.store.round_metrics()]
    bm = [{k: v for k, v in m.items() if k != "wall_s"}
          for m in gc.store.round_metrics()]
    assert am == bm
    # history reclaimed: pre-compaction versions are gone (chain closure
    # keeps the live base full + its deltas, so COUNT can match the
    # plain run — what expiration removes is the pre-base history)
    assert min(gc.seen.seen_tbl.versions()) > 1
    assert min(base.seen.seen_tbl.versions()) == 1
    # and the engine still resumes from the expired-history state
    more = CrawlEngine(spark, str(tmp_path / "gc"), fx_small["documents"],
                       fx_small["seeds"], fx_small["robots"],
                       params=CrawlParams(rounds=5, compact_seen_every=2,
                                          expire_keep_last=2))
    metrics = more.run(resume=True)
    assert more.store.last_round()["round"] == 4


class TestCommitClaims:
    """Optimistic concurrency: the O_EXCL version claim serializes racing
    writers onto distinct versions (Iceberg's atomic pointer swap,
    filesystem edition)."""

    def test_claimed_version_is_skipped(self, spark, tmp_path):
        import os

        from ccspark.tables import SnapshotStore
        t = SnapshotStore(spark, str(tmp_path / "s")).table("t")
        t.commit(spark.range(3), 0)                     # v1
        # a rival writer holds the claim on v2 but has not committed
        os.close(os.open(os.path.join(t.snap_dir, ".claim.v2"),
                         os.O_CREAT | os.O_EXCL | os.O_WRONLY))
        v = t.commit(spark.range(4), 1)
        assert v == 3                                    # v2 skipped
        assert t.read_chain().count() == 7               # gap is harmless
        # crashed claim is an orphan; manifest-backed claims are gone
        removed = t.remove_orphans()
        assert ".claim.v2" in removed

    def test_concurrent_commits_both_land(self, spark, tmp_path):
        import threading

        from ccspark.tables import SnapshotStore
        t = SnapshotStore(spark, str(tmp_path / "s2")).table("t")
        got = []

        def committer(n):
            got.append(t.commit(spark.range(n), 0))

        th = [threading.Thread(target=committer, args=(n,))
              for n in (5, 6)]
        for x in th:
            x.start()
        for x in th:
            x.join()
        assert len(set(got)) == 2                        # distinct versions
        assert t.read_chain().count() == 11              # nothing lost

    def test_parent_stays_below_the_claimed_version(self, spark, tmp_path,
                                                    monkeypatch):
        """A rival writer that commits while this one writes its parquet
        cannot make the manifest's parent point past its own version."""
        import os

        from ccspark import tables
        store = tables.SnapshotStore(spark, str(tmp_path / "s3"))
        t = store.table("t")
        t.commit(spark.range(3), 0)                      # v1
        rival = tables.SnapshotTable(spark, store.root, "t")
        real_walk = os.walk

        def walk(path, *a, **kw):
            # runs once, between t's parquet write and its manifest
            monkeypatch.setattr(os, "walk", real_walk)
            assert rival.commit(spark.range(2), 0) == 3  # v2 is claimed
            return real_walk(path, *a, **kw)

        monkeypatch.setattr(os, "walk", walk)
        assert t.commit(spark.range(4), 1) == 2
        assert t.meta(2)["parent"] == 1
        assert t.meta(3)["parent"] == 1
        assert t.read_chain().count() == 9

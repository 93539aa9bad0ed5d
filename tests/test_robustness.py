"""Engine robustness: degenerate inputs must produce empty-but-valid
rounds, and snapshot history must stay readable (time travel)."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ccspark.params import CrawlParams
from ccspark.scheduler import CrawlEngine, seeds_to_candidates


def _write_empty_seeds(path):
    pq.write_table(pa.table({"url": pa.array([], pa.string())}), path)


def test_empty_seed_list_runs_empty_rounds(spark, fx_small, tmp_path):
    seeds = str(tmp_path / "empty_seeds.parquet")
    _write_empty_seeds(seeds)
    eng = CrawlEngine(spark, str(tmp_path / "st"), fx_small["documents"],
                      seeds, fx_small["robots"], params=CrawlParams(rounds=2))
    metrics = eng.run()
    assert len(metrics) == 2
    for m in metrics:
        assert m["candidates_in"] == 0
        assert m["new_seen"] == 0 and m["scheduled"] == 0
        assert m["dedup_rate"] == 0.0
    assert eng.seen.seen_df().count() == 0


def test_all_disallowed_robots_blocks_everything(spark, fx_small, tmp_path):
    # robots that disallow '/' for every host → nothing admitted
    robots_src = pq.read_table(fx_small["robots"])
    # include www-variants: host_key strips exactly ONE leading 'www.'
    # (reference semantics), so a www.www.h seed keys as www.h
    hosts = robots_src.column("host").to_pylist()
    hosts = hosts + [f"www.{h}" for h in hosts]
    blocked = pa.table({
        "host": pa.array(hosts, pa.string()),
        "crawl_delay": pa.array([0.15] * len(hosts), pa.float64()),
        "disallow": pa.array([["/"]] * len(hosts), pa.list_(pa.string())),
        "fetched_at": pa.array([0] * len(hosts), pa.timestamp("ms")),
    })
    rp = str(tmp_path / "robots_all.parquet")
    pq.write_table(blocked, rp)
    eng = CrawlEngine(spark, str(tmp_path / "st2"), fx_small["documents"],
                      fx_small["seeds"], rp, params=CrawlParams(rounds=1))
    metrics = eng.run()
    m = metrics[0]
    assert m["robots_blocked"] > 0
    assert m["scheduled"] == 0 and m["new_seen"] == 0


def test_time_travel_to_earlier_round(spark, fx_small, tmp_path):
    """Snapshot versions from earlier rounds stay readable after later
    rounds commit (Iceberg time-travel property)."""
    eng = CrawlEngine(spark, str(tmp_path / "tt"), fx_small["documents"],
                      fx_small["seeds"], fx_small["robots"],
                      params=CrawlParams(rounds=3))
    eng.run()
    rounds = [eng.store.last_round()]
    # read the scheduled table at its ROUND-0 version
    import json, os
    with open(os.path.join(str(tmp_path / "tt"), "_rounds", "r0.json")) as fh:
        r0 = json.load(fh)
    v0 = r0["tables"]["scheduled"]
    old = eng.scheduled_tbl.read(v0)
    assert old.count() == r0["metrics"]["scheduled"]
    latest = eng.scheduled_tbl.read()
    assert latest.count() == eng.store.last_round()["metrics"]["scheduled"]
    # seen chain at round 0 has exactly round 0's URLs
    seen_r0 = eng.seen.seen_tbl.read_chain(r0["tables"]["seen"])
    assert seen_r0.count() == r0["metrics"]["new_seen"]


def test_zero_budget_host_schedules_nothing(spark, fx_small, tmp_path):
    """round_seconds shorter than every crawl delay → budgets of 0."""
    eng = CrawlEngine(spark, str(tmp_path / "zb"), fx_small["documents"],
                      fx_small["seeds"], fx_small["robots"],
                      params=CrawlParams(rounds=1, round_seconds=0.01))
    metrics = eng.run()
    assert metrics[0]["scheduled"] == 0
    assert metrics[0]["frontier_depth"] == metrics[0]["new_seen"]


class TestCrashPointMatrix:
    """Resumability under a crash at EVERY commit boundary inside a
    round (north_rule: 'resumable from snapshot checkpoints'). The
    round commits its tables in order seen → bloom → domains →
    scheduled → frontier → candidates, then writes the round log. For
    each prefix k we synthesize 'crashed after the k-th commit': the
    round-2 log is deleted and every table AFTER the crash point is
    rolled back to its round-1 version, leaving the prefix as orphan
    snapshots. Resume must discard the orphans, re-run round 2, and
    reproduce the pure-Python oracle EXACTLY."""

    ORDER = ["seen", "bloom", "domains", "scheduled", "frontier",
             "candidates"]

    def test_resume_exact_after_crash_at_every_boundary(
            self, spark, fx_small, tmp_path):
        import json
        import os
        import shutil

        from ccspark.oracle import run_oracle
        from ccspark.params import CrawlParams
        from ccspark.scheduler import CrawlEngine

        params = CrawlParams(rounds=3)
        want = run_oracle(fx_small["documents"], fx_small["seeds"],
                          fx_small["robots"], params)
        base = str(tmp_path / "base")
        eng = CrawlEngine(spark, base, fx_small["documents"],
                          fx_small["seeds"], fx_small["robots"],
                          params=params)
        eng.run()
        r1 = json.load(open(os.path.join(base, "_rounds", "r1.json")))

        for k in range(1, len(self.ORDER) + 1):
            state = str(tmp_path / f"crash{k}")
            shutil.copytree(base, state)
            os.remove(os.path.join(state, "_rounds", "r2.json"))
            eng_k = CrawlEngine(spark, state, fx_small["documents"],
                                fx_small["seeds"], fx_small["robots"],
                                params=params)
            # roll the post-crash tables back to their round-1 versions;
            # the first k stay at round-2 versions = orphan snapshots
            for name in self.ORDER[k:]:
                v = r1["tables"].get(name)
                if v is not None:
                    eng_k.store.table(name).rollback_to(v)
            eng_k.run(resume=True)
            rows = (eng_k.scheduled_rounds()
                    .select("fetch_round", "url", "priority",
                            "fetch_offset_ms").collect())
            got = {}
            for row in rows:
                got.setdefault(row.fetch_round, []).append(
                    (row.url, row.priority, row.fetch_offset_ms))
            for r, w in enumerate(want.scheduled):
                assert got.get(r, []) == [
                    (c["url"], c["priority"], c["fetch_offset_ms"])
                    for c in w], f"crash point {k}, round {r}"
            seen = {row.url: row.first_round for row in
                    eng_k.seen.seen_df().select("url", "first_round")
                    .collect()}
            assert seen == want.seen, f"crash point {k}"


def _cache_entries(spark) -> int:
    """Entries in the session's cache manager (its private list, read
    through reflection — no public accessor exposes the count)."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return field.get(cm).size()


def test_failed_round_unpersists_its_frames(spark, fx_small, tmp_path,
                                            monkeypatch):
    """A round that raises (a streaming micro-batch that fails and is
    redelivered to the same engine) leaves no frame it cached behind."""
    from ccspark.tables import SnapshotTable

    eng = CrawlEngine(spark, str(tmp_path / "st"), fx_small["documents"],
                      fx_small["seeds"], fx_small["robots"],
                      params=CrawlParams(rounds=1))
    real_commit = SnapshotTable.commit

    def failing_commit(self, df, round_no, *a, **kw):
        if self.name == "scheduled":
            raise OSError("injected scheduled-commit failure")
        return real_commit(self, df, round_no, *a, **kw)

    before = _cache_entries(spark)
    monkeypatch.setattr(SnapshotTable, "commit", failing_commit)
    with pytest.raises(OSError, match="injected"):
        eng.run_round(0, seeds_to_candidates(
            spark.read.parquet(fx_small["seeds"])))
    assert _cache_entries(spark) <= before


def test_observed_count_falls_back_when_metrics_are_pruned(spark):
    """With AQE's empty-relation propagation on, a frame observed below
    a join whose other side is empty loses its CollectMetrics node:
    reading the observation raises, and the round's count helper counts
    the frame itself instead."""
    from ccspark.scheduler import _Counts

    key = "spark.sql.adaptive.optimizer.excludedRules"
    saved = spark.conf.get(key, None)
    spark.conf.set(key, "")
    try:
        counts = _Counts()
        left = counts.tap("left", spark.range(10).withColumnRenamed("id", "k"))
        hops = counts.tap("hops", spark.range(10).withColumnRenamed("id", "k"),
                          F.col("k") >= 7)
        empty = spark.range(10).filter("id < 0").withColumnRenamed("id", "k")
        assert left.join(empty, "k").count() == 0
        assert hops.join(empty, "k").count() == 0
        obs, _ = counts._taps["left"]
        with pytest.raises(Exception):
            obs.get
        assert counts["left"] == 10
        assert counts["hops"] == 3
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)

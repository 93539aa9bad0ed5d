"""Per-host lifetime quota (params.max_urls_per_host) e2e: the engine
with host quotas must reproduce the pure-Python oracle EXACTLY, the
quota must bind (host_cap_dropped > 0 somewhere), and the invariant must
hold: no host ever accumulates more than cap admissions (scheduled +
live frontier).
"""

import pytest
from pyspark.sql import functions as F

from ccspark.oracle import run_oracle
from ccspark.params import CrawlParams
from ccspark.scheduler import CrawlEngine

PARAMS = CrawlParams(rounds=3, max_urls_per_host=5)

METRIC_KEYS = ["candidates_in", "malformed_dropped", "robots_blocked",
               "dup_dropped", "new_seen", "new_domains", "scheduled",
               "frontier_depth", "pages_discovered", "host_cap_dropped"]


@pytest.fixture(scope="module")
def engine(spark, fx_small, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("quota_state")
    eng = CrawlEngine(spark, str(tmp / "s"), fx_small["documents"],
                      fx_small["seeds"], fx_small["robots"], params=PARAMS,
                      filter_kind=None)
    metrics = eng.run()
    return eng, metrics


@pytest.fixture(scope="module")
def oracle(fx_small):
    return run_oracle(fx_small["documents"], fx_small["seeds"],
                      fx_small["robots"], PARAMS)


def test_ordering_and_offsets_exact(engine, oracle):
    eng, _ = engine
    rows = (eng.scheduled_rounds()
            .select("fetch_round", "url", "priority", "fetch_offset_ms")
            .collect())
    got = {}
    for r in rows:
        got.setdefault(r.fetch_round, []).append(
            (r.url, r.priority, r.fetch_offset_ms))
    for r, want in enumerate(oracle.scheduled):
        assert got.get(r, []) == [
            (c["url"], c["priority"], c["fetch_offset_ms"]) for c in want], (
            f"round {r} ordering/offset mismatch")


def test_seen_and_metrics(engine, oracle):
    eng, metrics = engine
    seen = {r.url: r.first_round for r in
            eng.seen.seen_df().select("url", "first_round").collect()}
    assert seen == oracle.seen
    for got, want in zip(metrics, oracle.metrics):
        for k in METRIC_KEYS:
            assert got.get(k) == want.get(k), (
                f"round {got['round']} metric {k}")
    assert any(m.get("host_cap_dropped", 0) > 0 for m in metrics)


def test_quota_invariant(engine):
    """scheduled + live frontier per host never exceeds the cap."""
    eng, _ = engine
    parts = eng.scheduled_rounds().select("host_key")
    live = eng.live_frontier()
    if live is not None:
        parts = parts.unionByName(live.select("host_key"))
    counts = parts.groupBy("host_key").agg(
        F.count(F.lit(1)).alias("n")).collect()
    assert counts
    for r in counts:
        assert r.n <= PARAMS.max_urls_per_host, (r.host_key, r.n)
    # the quota actually binds for some host
    assert any(r.n == PARAMS.max_urls_per_host for r in counts)


def test_off_by_default(engine, fx_small, tmp_path_factory, spark):
    tmp = tmp_path_factory.mktemp("quota_off")
    eng = CrawlEngine(spark, str(tmp / "s"), fx_small["documents"],
                      fx_small["seeds"], fx_small["robots"],
                      params=CrawlParams(rounds=2), filter_kind=None)
    metrics = eng.run()
    assert all("host_cap_dropped" not in m for m in metrics)

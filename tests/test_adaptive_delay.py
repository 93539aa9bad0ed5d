"""Adaptive per-host politeness (params.adaptive_delay_factor_pm) e2e:
the engine with delay auto-tuning must reproduce the pure-Python oracle
EXACTLY — ordering, budgets (via scheduled counts), fetch offsets, seen
set, adaptive_hosts metric — and the tuning must actually bind (slower
hosts get smaller budgets / wider offsets than the robots floor).
"""

import pytest
from pyspark.sql import functions as F

from ccspark import kernels as K
from ccspark.oracle import run_oracle
from ccspark.params import CrawlParams
from ccspark.scheduler import CrawlEngine

PARAMS = CrawlParams(rounds=3, adaptive_delay_factor_pm=2000)

METRIC_KEYS = ["candidates_in", "malformed_dropped", "robots_blocked",
               "dup_dropped", "new_seen", "new_domains", "scheduled",
               "frontier_depth", "pages_discovered", "adaptive_hosts"]


@pytest.fixture(scope="module")
def engine(spark, fx_small, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("ad_state")
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


def test_seen_set_exact(engine, oracle):
    eng, _ = engine
    seen = {r.url: r.first_round for r in
            eng.seen.seen_df().select("url", "first_round").collect()}
    assert seen == oracle.seen


def test_metrics_match(engine, oracle):
    _, metrics = engine
    for got, want in zip(metrics, oracle.metrics):
        for k in METRIC_KEYS:
            if k == "adaptive_hosts" and k not in want:
                continue
            assert got.get(k) == want.get(k), (
                f"round {got['round']} metric {k}")
    assert any(m.get("adaptive_hosts", 0) > 0 for m in metrics)


def test_tuning_binds(engine, fx_small):
    """The adaptive floor must actually change scheduling somewhere:
    vs the default-politeness oracle, some round schedules fewer URLs or
    stamps different offsets (mean latency ×2 > the 150 ms default for
    most hosts in the md5 latency band)."""
    eng, metrics = engine
    base = run_oracle(fx_small["documents"], fx_small["seeds"],
                      fx_small["robots"],
                      CrawlParams(rounds=PARAMS.rounds))
    base_sched = [len(rnd) for rnd in base.scheduled]
    got_sched = [m["scheduled"] for m in metrics]
    base_offsets = [[c["fetch_offset_ms"] for c in rnd]
                    for rnd in base.scheduled]
    got_offsets = {}
    for r in (eng.scheduled_rounds()
              .select("fetch_round", "url", "fetch_offset_ms")
              .sort("fetch_round").collect()):
        got_offsets.setdefault(r.fetch_round, []).append(r.fetch_offset_ms)
    assert (got_sched != base_sched
            or any(sorted(got_offsets.get(i, []))
                   != sorted(base_offsets[i])
                   for i in range(len(base_offsets))))


def test_offset_gap_contract(engine, oracle, fx_small):
    """Within a host in an adaptive round, consecutive fetch offsets are
    spaced by the effective delay: int(idx * delay * 1000) with
    delay = max(base, mean_latency_ms×factor÷1000 / 1000) — recomputed
    here independently from the md5 latency band."""
    eng, _ = engine
    # recompute round-0 per-host mean latencies the way fetchsim defines
    r0 = [c for c in oracle.scheduled[0]]
    lat = {}
    for c in r0:
        l = K.md5_key_one(c["url"]) % 500 + 10
        s, n = lat.get(c["host_key"], (0, 0))
        lat[c["host_key"]] = (s + l, n + 1)
    ad = {h: (s // n) * PARAMS.adaptive_delay_factor_pm // 1000
          for h, (s, n) in lat.items()}
    rows = (eng.scheduled_rounds().filter(F.col("fetch_round") == 1)
            .select("host_key", "url", "priority", "depth", "surt",
                    "fetch_offset_ms").collect())
    by_host = {}
    for r in sorted(rows, key=lambda r: (-r.priority, r.depth, r.surt, r.url)):
        by_host.setdefault(r.host_key, []).append(r.fetch_offset_ms)
    import pyarrow.parquet as pq
    robots_hosts = {r["host"] for r in
                    pq.read_table(fx_small["robots"]).to_pylist()}
    checked = 0
    for hk, offs in by_host.items():
        if hk in robots_hosts:
            # robots-declared delays are pinned by the exact-offset test;
            # here verify the default-floor hosts independently
            continue
        delay = max(PARAMS.default_crawl_delay, ad.get(hk, 0) / 1000.0)
        for idx, off in enumerate(offs):
            assert off == int(idx * delay * 1000), (hk, idx)
            checked += 1
    assert checked > 0


def test_off_by_default(engine, fx_small, tmp_path_factory, spark):
    """factor=None: no adaptive_hosts metric, scheduling identical to the
    default oracle (pinned elsewhere; assert the metric-key guard here)."""
    tmp = tmp_path_factory.mktemp("ad_off")
    eng = CrawlEngine(spark, str(tmp / "s"), fx_small["documents"],
                      fx_small["seeds"], fx_small["robots"],
                      params=CrawlParams(rounds=2), filter_kind=None)
    metrics = eng.run()
    assert all("adaptive_hosts" not in m for m in metrics)

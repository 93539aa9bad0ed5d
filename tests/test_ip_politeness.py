"""Per-IP politeness grouping (params.politeness_ip_groups) e2e: with
the address-group unit the engine must reproduce the pure-Python oracle
EXACTLY — ordering, budgets (via scheduled counts), fetch offsets, seen
set, ip_groups metric — and the grouping must actually bind (co-hosted
vhosts share one budget instead of multiplying it).
"""

import pytest

from ccspark import kernels as K
from ccspark.oracle import run_oracle
from ccspark.params import CrawlParams
from ccspark.scheduler import CrawlEngine

#: 4 address groups over the fixture's ~tens of hosts → heavy co-hosting
PARAMS = CrawlParams(rounds=3, politeness_ip_groups=4)

METRIC_KEYS = ["candidates_in", "malformed_dropped", "robots_blocked",
               "dup_dropped", "new_seen", "new_domains", "scheduled",
               "frontier_depth", "pages_discovered", "ip_groups"]


@pytest.fixture(scope="module")
def engine(spark, fx_small, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("ip_state")
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
            assert got.get(k) == want.get(k), (
                f"round {got['round']} metric {k}")
    assert all(m.get("ip_groups", 0) >= 1 for m in metrics)


def test_grouping_binds(engine, oracle, fx_small):
    """Co-hosting must actually constrain scheduling: 4 groups share
    budgets that per-host politeness would multiply, so some round
    schedules FEWER URLs than the default-politeness oracle."""
    _, metrics = engine
    base = run_oracle(fx_small["documents"], fx_small["seeds"],
                      fx_small["robots"], CrawlParams(rounds=PARAMS.rounds))
    got = [m["scheduled"] for m in metrics]
    want = [len(rnd) for rnd in base.scheduled]
    assert got != want
    assert any(g < w for g, w in zip(got, want))


def test_group_offset_spacing(engine, oracle):
    """Within one address group, consecutive offsets in total order are
    spaced by the GROUP delay (max member-host delay) — recomputed here
    independently of both engines' join plumbing."""
    eng, _ = engine
    rows = (eng.scheduled_rounds()
            .filter("fetch_round = 0")
            .select("host_key", "url", "priority", "depth", "surt",
                    "fetch_offset_ms").collect())
    # group delays from the ORACLE's round-0 frontier = round-0 admitted
    # rows (everything admitted in round 0 is scheduled or frontier'd;
    # recompute the group max from the scheduled rows' own hosts is NOT
    # valid in general, so pin only the rank structure: offsets in each
    # group are idx * constant for some constant ≥ the default delay)
    by_gk = {}
    for r in sorted(rows, key=lambda r: (-r.priority, r.depth, r.surt, r.url)):
        gk = K.md5_key_one("ip:" + r.host_key) % PARAMS.politeness_ip_groups
        by_gk.setdefault(gk, []).append(r.fetch_offset_ms)
    checked = 0
    for gk, offs in by_gk.items():
        assert offs[0] == 0
        if len(offs) > 1:
            step = offs[1]
            assert step >= int(PARAMS.default_crawl_delay * 1000)
            for idx, off in enumerate(offs):
                # int(idx * d * 1000) for one group-constant d: allow the
                # float-truncation wobble of ±1 ms vs idx*step
                assert abs(off - idx * step) <= idx, (gk, idx)
                checked += 1
    assert checked > 0


def test_off_by_default(fx_small, tmp_path_factory, spark):
    tmp = tmp_path_factory.mktemp("ip_off")
    eng = CrawlEngine(spark, str(tmp / "s"), fx_small["documents"],
                      fx_small["seeds"], fx_small["robots"],
                      params=CrawlParams(rounds=2), filter_kind=None)
    metrics = eng.run()
    assert all("ip_groups" not in m for m in metrics)

"""Cross-policy composition e2e: priority aging × per-IP politeness ×
redirect following × max-hops, all ON at once, must still reproduce the
pure-Python oracle exactly. Each policy is pinned alone in its own
suite; this guards the INTERACTIONS (aged order feeding group budgets,
redirect targets aging from their admission round, hop lineage through
group scheduling, backpressure cut in aged order).
"""

import pytest

from ccspark.oracle import run_oracle
from ccspark.params import CrawlParams
from ccspark.scheduler import CrawlEngine

PARAMS = CrawlParams(rounds=4, age_boost_pm=5000, politeness_ip_groups=4,
                     follow_redirects=True, max_hops=2,
                     max_scheduled_per_round=30)

METRIC_KEYS = ["candidates_in", "malformed_dropped", "robots_blocked",
               "dup_dropped", "new_seen", "new_domains", "scheduled",
               "frontier_depth", "pages_discovered", "ip_groups",
               "hops_exceeded", "redirects_followed"]


@pytest.fixture(scope="module")
def engine(spark, fx_medium, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("compose_state")
    eng = CrawlEngine(spark, str(tmp / "s"), fx_medium["documents"],
                      fx_medium["seeds"], fx_medium["robots"], params=PARAMS,
                      filter_kind=None)
    metrics = eng.run()
    return eng, metrics


@pytest.fixture(scope="module")
def oracle(fx_medium):
    return run_oracle(fx_medium["documents"], fx_medium["seeds"],
                      fx_medium["robots"], PARAMS)


def test_ordering_offsets_hops_exact(engine, oracle):
    eng, _ = engine
    rows = (eng.scheduled_rounds()
            .select("fetch_round", "url", "priority", "fetch_offset_ms",
                    "hop", "status")
            .collect())
    got = {}
    for r in rows:
        got.setdefault(r.fetch_round, []).append(
            (r.url, r.priority, r.fetch_offset_ms, r.hop, r.status))
    for r, want in enumerate(oracle.scheduled):
        assert got.get(r, []) == [
            (c["url"], c["priority"], c["fetch_offset_ms"], c["hop"],
             c["status"]) for c in want], f"round {r} mismatch"


def test_seen_and_metrics(engine, oracle):
    eng, metrics = engine
    seen = {r.url: r.first_round for r in
            eng.seen.seen_df().select("url", "first_round").collect()}
    assert seen == oracle.seen
    for got, want in zip(metrics, oracle.metrics):
        for k in METRIC_KEYS:
            if k not in want and k not in got:
                continue
            assert got.get(k) == want.get(k), (
                f"round {got['round']} metric {k}")


def test_every_policy_fired(engine):
    """The composition is only a real test if each policy did something:
    redirects followed, hops dropped (or at least hop column present),
    groups formed, backpressure bound."""
    eng, metrics = engine
    assert any(m.get("redirects_followed", 0) > 0 for m in metrics)
    assert any(m.get("ip_groups", 0) > 1 for m in metrics)
    assert any(m["scheduled"] == PARAMS.max_scheduled_per_round
               for m in metrics)
    assert "hop" in eng.scheduled_rounds().columns

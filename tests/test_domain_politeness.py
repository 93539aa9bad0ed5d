"""Per-registered-domain politeness (params.politeness_by_domain) e2e:
the engine with site-level budgets must reproduce the pure-Python oracle
EXACTLY, and the grouping must bind (the fixture's many *.example.com
subdomains share ONE budget instead of multiplying it).
"""

import pytest

from ccspark import kernels as K
from ccspark.oracle import run_oracle
from ccspark.params import CrawlParams
from ccspark.scheduler import CrawlEngine

PARAMS = CrawlParams(rounds=3, politeness_by_domain=True)

METRIC_KEYS = ["candidates_in", "malformed_dropped", "robots_blocked",
               "dup_dropped", "new_seen", "new_domains", "scheduled",
               "frontier_depth", "pages_discovered", "domain_groups"]


@pytest.fixture(scope="module")
def engine(spark, fx_small, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("dom_state")
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


def test_grouping_binds_and_psl_kernel(engine, fx_small):
    """Subdomain collapse must constrain scheduling vs per-host budgets,
    and the shared PSL kernel handles the multi-label suffixes the
    fixture lacks."""
    _, metrics = engine
    base = run_oracle(fx_small["documents"], fx_small["seeds"],
                      fx_small["robots"], CrawlParams(rounds=PARAMS.rounds))
    got = [m["scheduled"] for m in metrics]
    want = [len(rnd) for rnd in base.scheduled]
    assert got != want and any(g < w for g, w in zip(got, want))
    # kernel spot-checks (engine expression mirrors this function)
    assert K.registered_domain_one("a.b.example.com") == "example.com"
    assert K.registered_domain_one("www.shop.co.uk") == "shop.co.uk"
    assert K.registered_domain_one("deep.www.shop.co.uk") == "shop.co.uk"
    assert K.registered_domain_one("shop.co.uk") == "shop.co.uk"
    assert K.registered_domain_one("co.uk") == "co.uk"
    assert K.registered_domain_one("localhost") == "localhost"


def test_exclusive_with_ip_grouping(fx_small, tmp_path_factory, spark):
    tmp = tmp_path_factory.mktemp("dom_excl")
    eng = CrawlEngine(spark, str(tmp / "s"), fx_small["documents"],
                      fx_small["seeds"], fx_small["robots"],
                      params=CrawlParams(rounds=1, politeness_by_domain=True,
                                         politeness_ip_groups=4),
                      filter_kind=None)
    with pytest.raises(AssertionError):
        eng.run()

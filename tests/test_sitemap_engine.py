"""Sitemap seeding (params.sitemap_seeding) e2e: the engine with sitemap
discovery enabled must still reproduce the pure-Python oracle EXACTLY —
ordering, seen set, metrics — and the sitemaps must have an observable
effect (URLs reachable only via `<loc>` entries get scheduled).
"""

import pytest
from pyspark.sql import functions as F

from ccspark.oracle import run_oracle
from ccspark.params import CrawlParams
from ccspark.scheduler import CrawlEngine

PARAMS = CrawlParams(rounds=2, sitemap_seeding=True)

METRIC_KEYS = ["candidates_in", "malformed_dropped", "robots_blocked",
               "dup_dropped", "new_seen", "new_domains", "scheduled"]


@pytest.fixture(scope="module")
def engine(spark, fx_small, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("sm_state")
    eng = CrawlEngine(spark, str(tmp / "s"), fx_small["documents"],
                      fx_small["seeds"], fx_small["robots"], params=PARAMS,
                      filter_kind=None, sitemaps_path=fx_small["sitemaps"])
    metrics = eng.run()
    return eng, metrics


@pytest.fixture(scope="module")
def oracle(fx_small):
    return run_oracle(fx_small["documents"], fx_small["seeds"],
                      fx_small["robots"], PARAMS,
                      sitemaps_path=fx_small["sitemaps"])


def test_ordering_exact(engine, oracle):
    eng, _ = engine
    rows = (eng.scheduled_rounds()
            .select("fetch_round", "url", "priority").collect())
    got = {}
    for r in rows:
        got.setdefault(r.fetch_round, []).append((r.url, r.priority))
    for r, want in enumerate(oracle.scheduled):
        assert got.get(r, []) == [(c["url"], c["priority"]) for c in want], (
            f"round {r} ordering mismatch")


def test_seen_set_exact(engine, oracle):
    eng, _ = engine
    seen = {r.url: r.first_round for r in
            eng.seen.seen_df().select("url", "first_round").collect()}
    assert seen == oracle.seen


def test_metrics_match(engine, oracle):
    _, metrics = engine
    for got, want in zip(metrics, oracle.metrics):
        for k in METRIC_KEYS:
            assert got[k] == want[k], f"round {got['round']} metric {k}"


def test_sitemap_only_urls_scheduled(engine):
    """The feature is observable: /sm/ extras exist in no document span
    and no seed — they can only arrive via sitemap parsing."""
    eng, _ = engine
    n = (eng.scheduled_rounds()
         .filter(F.col("url").contains("/sm/extra")).count())
    assert n > 0


def test_off_by_default(spark, fx_small, tmp_path_factory):
    """sitemap_seeding=False (the north_rule reference-parity default)
    ignores the sitemaps table even when one is wired up."""
    tmp = tmp_path_factory.mktemp("sm_off")
    eng = CrawlEngine(spark, str(tmp / "s"), fx_small["documents"],
                      fx_small["seeds"], fx_small["robots"],
                      params=CrawlParams(rounds=1), filter_kind=None,
                      sitemaps_path=fx_small["sitemaps"])
    eng.run()
    assert (eng.scheduled_rounds()
            .filter(F.col("url").contains("/sm/extra")).count()) == 0

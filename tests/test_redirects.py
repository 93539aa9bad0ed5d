"""Redirect-following (params.follow_redirects) e2e: the engine with 301
handling enabled must reproduce the pure-Python oracle EXACTLY —
ordering, seen set, metrics including redirects_followed — and the
feature must be observable (kind='redirect' candidates get scheduled)
while staying OFF by default (reference-parity fetch outcomes).
"""

import pytest
from pyspark.sql import functions as F

from ccspark.oracle import run_oracle
from ccspark.params import CrawlParams
from ccspark.scheduler import CrawlEngine

PARAMS = CrawlParams(rounds=3, follow_redirects=True)

METRIC_KEYS = ["candidates_in", "malformed_dropped", "robots_blocked",
               "dup_dropped", "new_seen", "new_domains", "scheduled",
               "frontier_depth", "pages_discovered", "redirects_followed"]


@pytest.fixture(scope="module")
def engine(spark, fx_small, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("rd_state")
    eng = CrawlEngine(spark, str(tmp / "s"), fx_small["documents"],
                      fx_small["seeds"], fx_small["robots"], params=PARAMS,
                      filter_kind=None)
    metrics = eng.run()
    return eng, metrics


@pytest.fixture(scope="module")
def oracle(fx_small):
    return run_oracle(fx_small["documents"], fx_small["seeds"],
                      fx_small["robots"], PARAMS)


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
            if k == "redirects_followed" and k not in want:
                continue
            assert got.get(k) == want.get(k), (
                f"round {got['round']} metric {k}")


def test_redirect_targets_scheduled(engine, oracle):
    """Observable effect: /moved targets exist in no document span and
    no seed — they can only enter the frontier via the 301 hop — and at
    least one was actually scheduled in a later round."""
    eng, _ = engine
    n = (eng.scheduled_rounds()
         .filter(F.col("url").endswith("/moved")
                 & (F.col("kind") == "redirect")).count())
    assert n > 0
    assert any(m.get("redirects_followed", 0) > 0 for m in oracle.metrics)


def test_redirect_band_is_301_not_404(engine):
    """Within the redirect run, every scheduled URL whose md5 band lands
    in [95,97) reads 301 and carries a redirect_to; the 200 band is
    untouched (the carve-out contract that keeps pinned oracles green)."""
    eng, _ = engine
    rows = (eng.scheduled_rounds()
            .select("status", "redirect_to",
                    F.pmod(F.conv(F.substring(F.md5("url"), 1, 15), 16, 10)
                            .cast("long"), F.lit(100)).alias("band"))
            .collect())
    assert rows
    for r in rows:
        if r.band < 95:
            assert r.status == 200 and r.redirect_to is None
        elif r.band < 97:
            assert r.status == 301 and r.redirect_to.endswith("/moved")
        else:
            assert r.status == 404 and r.redirect_to is None


def test_off_by_default(spark, fx_small, tmp_path_factory):
    """follow_redirects=False: no 301s, no redirect_to column, no
    redirect candidates — bit-parity with the pinned default oracles."""
    tmp = tmp_path_factory.mktemp("rd_off")
    eng = CrawlEngine(spark, str(tmp / "s"), fx_small["documents"],
                      fx_small["seeds"], fx_small["robots"],
                      params=CrawlParams(rounds=2), filter_kind=None)
    eng.run()
    sched = eng.scheduled_rounds()
    assert "redirect_to" not in sched.columns
    assert sched.filter(F.col("status") == 301).count() == 0
    assert sched.filter(F.col("kind") == "redirect").count() == 0

"""Frontier priority aging (params.age_boost_pm) e2e: the engine with
aging must reproduce the pure-Python oracle EXACTLY — ordering, offsets,
seen set, metrics — the boost must actually change scheduling vs the
default order, the persisted priority column must stay un-aged, and with
a dominant boost the oldest frontier rows drain first (the bounded-wait
property aging exists for).
"""

import pytest
from pyspark.sql import functions as F

from ccspark.oracle import run_oracle
from ccspark.params import CrawlParams
from ccspark.scheduler import CrawlEngine

# a cap makes the frontier actually back up, so aging has rows to age;
# 10000 pm = +10 effective priority per round waited — dominates the
# priority kernel's span, so age becomes the leading sort term
PARAMS = CrawlParams(rounds=4, age_boost_pm=10000,
                     max_scheduled_per_round=25)

METRIC_KEYS = ["candidates_in", "malformed_dropped", "robots_blocked",
               "dup_dropped", "new_seen", "new_domains", "scheduled",
               "frontier_depth", "pages_discovered"]


@pytest.fixture(scope="module")
def engine(spark, fx_small, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("age_state")
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


def test_seen_set_and_metrics(engine, oracle):
    eng, metrics = engine
    seen = {r.url: r.first_round for r in
            eng.seen.seen_df().select("url", "first_round").collect()}
    assert seen == oracle.seen
    for got, want in zip(metrics, oracle.metrics):
        for k in METRIC_KEYS:
            assert got.get(k) == want.get(k), (
                f"round {got['round']} metric {k}")


def test_no_eff_column_persisted(engine):
    """Aging is an ordering view: the scheduled/frontier tables must not
    grow an _eff column, and priorities stay the un-aged kernel values."""
    eng, _ = engine
    assert "_eff" not in eng.scheduled_rounds().columns
    live = eng.live_frontier()
    if live is not None:
        assert "_eff" not in live.columns


def test_aging_binds(engine, fx_small):
    """Same cap, no aging → a different schedule (some round picks
    different URLs): the boost is the only delta."""
    _, metrics = engine
    base = run_oracle(
        fx_small["documents"], fx_small["seeds"], fx_small["robots"],
        CrawlParams(rounds=PARAMS.rounds,
                    max_scheduled_per_round=PARAMS.max_scheduled_per_round))
    base_urls = [sorted(c["url"] for c in rnd) for rnd in base.scheduled]
    got_urls = [sorted(c["url"] for c in rnd) for rnd in
                run_oracle(fx_small["documents"], fx_small["seeds"],
                           fx_small["robots"], PARAMS).scheduled]
    assert got_urls != base_urls


def test_oldest_drain_first(engine):
    """Dominant boost ⇒ bounded wait: in every round, within a
    politeness unit (host), every scheduled row is at least as old
    (admission depth ≤) as every row LEFT in the frontier for that host
    — fresh candidates cannot starve aged ones."""
    eng, _ = engine
    last = PARAMS.rounds - 1
    sched_last = {(r.host_key, r.depth) for r in
                  (eng.scheduled_rounds()
                   .filter(F.col("fetch_round") == last)
                   .select("host_key", "depth").collect())}
    live = eng.live_frontier()
    left = {} if live is None else {
        r.host_key: r.min_depth for r in
        live.groupBy("host_key").agg(F.min("depth").alias("min_depth"))
        .collect()}
    checked = 0
    for hk, depth in sched_last:
        if hk in left:
            assert depth <= left[hk], (hk, depth, left[hk])
            checked += 1
    assert checked > 0

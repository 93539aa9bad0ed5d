"""max-hops frontier control (params.max_hops) e2e: the engine with a
hop limit must reproduce the pure-Python oracle EXACTLY — ordering, seen
set, metrics including hops_exceeded — with hop lineage threaded
seed→extract(+1)→frontier→scheduled, while staying OFF by default
(no hop column, pinned table schemas unchanged).
"""

import pytest
from pyspark.sql import functions as F

from ccspark.oracle import run_oracle
from ccspark.params import CrawlParams
from ccspark.scheduler import CrawlEngine

PARAMS = CrawlParams(rounds=4, max_hops=1)

METRIC_KEYS = ["candidates_in", "hops_exceeded", "malformed_dropped",
               "robots_blocked", "dup_dropped", "new_seen", "new_domains",
               "scheduled", "frontier_depth", "pages_discovered"]


@pytest.fixture(scope="module")
def engine(spark, fx_small, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("mh_state")
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
            assert got.get(k) == want.get(k), (
                f"round {got['round']} metric {k}")
    # the limit must actually bind somewhere in the run
    assert sum(m.get("hops_exceeded", 0) for m in metrics) > 0


def test_hop_lineage_contract(engine):
    """Every scheduled row's hop is within the limit; seeds carry hop 0,
    link-extracted rows hop >= 1."""
    eng, _ = engine
    rows = eng.scheduled_rounds().select("hop", "kind").collect()
    assert rows
    assert all(0 <= r.hop <= PARAMS.max_hops for r in rows)
    assert all(r.hop == 0 for r in rows if r.kind == "seed")
    assert any(r.hop == 1 for r in rows if r.kind != "seed")


def test_max_hops_zero_is_seed_only(spark, fx_small, tmp_path_factory):
    """max_hops=0: only seeds are ever scheduled — every extracted link
    is one hop away and must be dropped."""
    tmp = tmp_path_factory.mktemp("mh0")
    eng = CrawlEngine(spark, str(tmp / "s"), fx_small["documents"],
                      fx_small["seeds"], fx_small["robots"],
                      params=CrawlParams(rounds=3, max_hops=0),
                      filter_kind=None)
    eng.run()
    kinds = {r.kind for r in eng.scheduled_rounds().select("kind").collect()}
    assert kinds <= {"seed"}
    want = run_oracle(fx_small["documents"], fx_small["seeds"],
                      fx_small["robots"], CrawlParams(rounds=3, max_hops=0))
    assert {r.url for r in eng.scheduled_rounds().select("url").collect()} \
        == {c["url"] for rnd in want.scheduled for c in rnd}


def test_composes_with_redirects(spark, fx_small, tmp_path_factory):
    """Redirect targets are R-hops: hop = source + 1, limit-enforced, and
    the combined run still matches the oracle exactly."""
    p = CrawlParams(rounds=3, max_hops=2, follow_redirects=True)
    tmp = tmp_path_factory.mktemp("mh_rd")
    eng = CrawlEngine(spark, str(tmp / "s"), fx_small["documents"],
                      fx_small["seeds"], fx_small["robots"], params=p,
                      filter_kind=None)
    metrics = eng.run()
    want = run_oracle(fx_small["documents"], fx_small["seeds"],
                      fx_small["robots"], p)
    rows = (eng.scheduled_rounds()
            .select("fetch_round", "url", "priority", "hop", "kind")
            .collect())
    got = {}
    for r in rows:
        got.setdefault(r.fetch_round, []).append((r.url, r.priority))
    for r, w in enumerate(want.scheduled):
        assert got.get(r, []) == [(c["url"], c["priority"]) for c in w]
    for g, w in zip(metrics, want.metrics):
        for k in METRIC_KEYS + ["redirects_followed"]:
            if k not in w:
                continue
            assert g.get(k) == w.get(k), f"round {g['round']} metric {k}"
    # scheduled redirect targets carry source-hop + 1 within the limit
    assert all(1 <= r.hop <= 2 for r in rows if r.kind == "redirect")


def test_off_by_default(spark, fx_small, tmp_path_factory):
    """max_hops=None: no hop column anywhere — pinned default table
    schemas unchanged."""
    tmp = tmp_path_factory.mktemp("mh_off")
    eng = CrawlEngine(spark, str(tmp / "s"), fx_small["documents"],
                      fx_small["seeds"], fx_small["robots"],
                      params=CrawlParams(rounds=2), filter_kind=None)
    eng.run()
    assert "hop" not in eng.scheduled_rounds().columns
    assert "hop" not in eng.candidates_tbl.read_chain().columns

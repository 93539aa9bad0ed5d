"""Content-digest dedup in the discovery loop (params.content_dedup):
with mirrored page content injected into the fixture, the engine must
match the pure-Python oracle exactly AND extract a mirrored page's
outlinks only once (content_dups > 0, fewer candidates than without the
policy).
"""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from ccspark.oracle import run_oracle
from ccspark.params import CrawlParams
from ccspark.scheduler import CrawlEngine

PARAMS = CrawlParams(rounds=3, content_dedup=True)

METRIC_KEYS = ["candidates_in", "malformed_dropped", "robots_blocked",
               "dup_dropped", "new_seen", "new_domains", "scheduled",
               "frontier_depth", "pages_discovered", "content_dups"]


@pytest.fixture(scope="module")
def mirrored_docs(fx_small, tmp_path_factory):
    """Copy the fixture's documents, overwriting every 4th doc's spans
    with one donor's span list — genuine mirrored content under many
    distinct URLs."""
    tbl = pq.read_table(fx_small["documents"])
    rows = tbl.to_pylist()
    donor = rows[0]["spans"]
    for i, r in enumerate(rows):
        if i % 4 == 0:
            r["spans"] = donor
    out = str(tmp_path_factory.mktemp("mirrored") / "documents.parquet")
    pq.write_table(pa.Table.from_pylist(rows, schema=tbl.schema), out)
    return out


@pytest.fixture(scope="module")
def engine(spark, fx_small, mirrored_docs, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("cd_state")
    eng = CrawlEngine(spark, str(tmp / "s"), mirrored_docs,
                      fx_small["seeds"], fx_small["robots"], params=PARAMS,
                      filter_kind=None)
    metrics = eng.run()
    return eng, metrics


@pytest.fixture(scope="module")
def oracle(fx_small, mirrored_docs):
    return run_oracle(mirrored_docs, fx_small["seeds"],
                      fx_small["robots"], PARAMS)


def test_ordering_and_seen_exact(engine, oracle):
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
    seen = {r.url: r.first_round for r in
            eng.seen.seen_df().select("url", "first_round").collect()}
    assert seen == oracle.seen


def test_metrics_and_dedup_binds(engine, oracle, fx_small, mirrored_docs):
    _, metrics = engine
    for got, want in zip(metrics, oracle.metrics):
        for k in METRIC_KEYS:
            assert got.get(k) == want.get(k), (
                f"round {got['round']} metric {k}")
    assert any(m.get("content_dups", 0) > 0 for m in metrics)
    # vs the same fixture WITHOUT the policy: dedup admits fewer or
    # equal candidates every round, strictly fewer somewhere
    base = run_oracle(mirrored_docs, fx_small["seeds"], fx_small["robots"],
                      CrawlParams(rounds=PARAMS.rounds))
    got_in = [m["candidates_in"] for m in metrics]
    base_in = [m["candidates_in"] for m in base.metrics]
    assert got_in != base_in
    assert all(g <= b for g, b in zip(got_in, base_in))


def test_digest_table_persisted(engine):
    eng, metrics = engine
    assert eng.digests_tbl.exists()
    n = eng.digests_tbl.read_chain().count()
    total = sum(m["pages_discovered"] - m.get("content_dups", 0)
                for m in metrics)
    assert n == total


def test_off_by_default(engine, fx_small, mirrored_docs, tmp_path_factory,
                        spark):
    tmp = tmp_path_factory.mktemp("cd_off")
    eng = CrawlEngine(spark, str(tmp / "s"), mirrored_docs,
                      fx_small["seeds"], fx_small["robots"],
                      params=CrawlParams(rounds=2), filter_kind=None)
    metrics = eng.run()
    assert all("content_dups" not in m for m in metrics)
    assert not eng.digests_tbl.exists()

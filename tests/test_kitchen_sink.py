"""Kitchen-sink e2e: EVERY optional crawl policy on at once —
sitemap seeding, redirects, revisits (304), failure recrawl, max-hops,
priority aging, per-domain politeness, per-host lifetime quota,
adaptive delay, crawl-trap guard, PageRank prior, backpressure cap,
content-digest dedup, compaction + snapshot GC, automatic seen-set
partition evolution, dual-model arbitration ordering — and the engine still reproduces the
pure-Python oracle EXACTLY. This is the strongest integration artifact
the parity claim has: any unmodeled interaction between two policies
breaks a row somewhere in 5 rounds.
"""

import dataclasses
import os

import pytest
from pyspark.sql import types as T

from ccspark.oracle import run_oracle
from ccspark.params import CrawlParams
from ccspark.scheduler import CrawlEngine

PARAMS = CrawlParams(
    rounds=5,
    sitemap_seeding=True,
    follow_redirects=True,
    revisit_after_rounds=2,
    recrawl_after_rounds=2,
    max_hops=3,
    age_boost_pm=2000,
    politeness_by_domain=True,
    max_urls_per_host=12,
    adaptive_delay_factor_pm=1500,
    trap_ratio_pm=4000,
    pagerank_prior_weight=0.5,
    max_scheduled_per_round=15,
    compact_seen_every=2,
    expire_keep_last=4,
    content_dedup=True,
    # partition evolution: seen_partitions=2 + a small per-bucket target
    # forces at least one mid-crawl rebucket; layout-only, so every
    # oracle row below must stay bit-identical
    seen_partitions=2,
    rebucket_target_keys=15,
    # r5: the 16th policy — dual-model arbitration ordering
    # (ProcessingService.java:200-222 parity), composed with aging
    dual_model_priority=True,
)

METRIC_KEYS = ["candidates_in", "malformed_dropped", "robots_blocked",
               "dup_dropped", "new_seen", "new_domains", "scheduled",
               "frontier_depth", "pages_discovered", "domain_groups",
               "hops_exceeded", "redirects_followed", "revisited",
               "recrawled", "not_modified", "host_cap_dropped",
               "trap_hosts_new", "trap_dropped", "content_dups"]


@pytest.fixture(scope="module")
def engine(spark, fx_medium, tmp_path_factory):
    state = str(tmp_path_factory.mktemp("sink_state") / "s")
    eng = CrawlEngine(spark, state, fx_medium["documents"],
                      fx_medium["seeds"], fx_medium["robots"], params=PARAMS,
                      sitemaps_path=fx_medium["sitemaps"], filter_kind=None)
    metrics = eng.run()
    return eng, metrics, state


@pytest.fixture(scope="module")
def oracle(fx_medium):
    return run_oracle(fx_medium["documents"], fx_medium["seeds"],
                      fx_medium["robots"], PARAMS,
                      sitemaps_path=fx_medium["sitemaps"])


def test_ordering_offsets_status_exact(engine, oracle):
    eng, _, _state = engine
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
    eng, metrics, _state = engine
    seen = {r.url: r.first_round for r in
            eng.seen.seen_df().select("url", "first_round").collect()}
    assert seen == oracle.seen
    for got, want in zip(metrics, oracle.metrics):
        # every policy's optional metric is present exactly when the
        # oracle records it (wall time and the layout change are
        # engine-only)
        assert set(got) - {"wall_s", "rebucketed_to"} == set(want), (
            f"round {got['round']} metric keys")
        for k in METRIC_KEYS:
            if k not in want and k not in got:
                continue
            assert got.get(k) == want.get(k), (
                f"round {got['round']} metric {k}")


def test_policies_fired(engine):
    """A kitchen sink only proves something if the burners were on."""
    _, metrics, _state = engine
    fired = {k for m in metrics for k, v in m.items()
             if isinstance(v, int) and v > 0}
    for k in ("redirects_followed", "revisited", "recrawled",
              "host_cap_dropped", "domain_groups", "adaptive_hosts",
              "scheduled"):
        assert k in fired, k
    assert any(m["scheduled"] == PARAMS.max_scheduled_per_round
               for m in metrics)


def test_resume_after_everything(engine, oracle, fx_medium, spark):
    """The full-policy state dir must still resume: one more round, and
    its rows match the oracle's 6-round run exactly."""
    _, _, state = engine
    p6 = dataclasses.replace(PARAMS, rounds=6)
    eng2 = CrawlEngine(spark, state, fx_medium["documents"],
                       fx_medium["seeds"], fx_medium["robots"], params=p6,
                       sitemaps_path=fx_medium["sitemaps"], filter_kind=None)
    eng2.run(resume=True)
    want = run_oracle(fx_medium["documents"], fx_medium["seeds"],
                      fx_medium["robots"], p6,
                      sitemaps_path=fx_medium["sitemaps"])
    rows = (eng2.scheduled_rounds().filter("fetch_round = 5")
            .select("url", "fetch_offset_ms").collect())
    assert [(r.url, r.fetch_offset_ms) for r in rows] == [
        (c["url"], c["fetch_offset_ms"]) for c in want.scheduled[5]]


def test_rebucket_fired_and_layout_live(engine):
    """The composed run actually evolved the seen layout (the policy
    bound, not a silent no-op) and every persisted row follows the
    final modulus."""
    from pyspark.sql import functions as F

    eng, metrics, _state = engine
    assert any("rebucketed_to" in m for m in metrics)
    assert eng.seen.partitions > 2
    p = eng.seen.partitions
    assert (eng.seen.seen_df()
            .filter(F.pmod(F.col("url_hash"), F.lit(p)).cast("int")
                    != F.col("bucket")).count()) == 0


def _nullable(schema: T.StructType) -> T.StructType:
    """The schema with every field, element and value nullable."""
    def walk(node):
        if isinstance(node, dict):
            return {k: (True if k in ("nullable", "containsNull",
                                      "valueContainsNull") else walk(v))
                    for k, v in node.items()}
        if isinstance(node, list):
            return [walk(v) for v in node]
        return node
    return T.StructType.fromJson(walk(schema.jsonValue()))


def test_snapshot_schemas_of_record_match_files(engine, spark):
    """Every snapshot the crawl committed reads back, through its
    manifest's schema of record, with the schema its parquet files
    carry (file reads are all-nullable, so compare as nullable)."""
    eng, _, state = engine
    checked = set()
    for name in sorted(os.listdir(state)):
        if not os.path.isdir(os.path.join(state, name, "_snapshots")):
            continue
        t = eng.store.table(name)
        for v in t.versions():
            files = spark.read.parquet(os.path.join(t.dir, f"v{v}")).schema
            assert _nullable(t.read(v).schema) == _nullable(files), (name, v)
            checked.add(name)
    assert {"seen", "frontier", "scheduled", "candidates", "domains",
            "traps", "digests"} <= checked

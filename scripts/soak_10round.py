"""10-round crawl-loop soak (VERDICT r4 ask #8): every optional policy
ON — the kitchen-sink composition (sitemaps, redirects, revisit,
recrawl, max-hops, aging, domain politeness, host quota, adaptive
delay, trap guard, PageRank prior, backpressure, content dedup,
compaction, snapshot GC, auto partition evolution) — run for 10 rounds,
the long-horizon resumable operation the north_rule's checkpointing
exists for.

Asserts (raises on violation, so a green run IS the evidence):
  1. pyoracle-exact scheduled equality at EVERY round including the
     final one (ordering, offsets, status),
  2. round-log integrity: 10 complete round logs whose recorded table
     versions all exist and read back,
  3. bounded chain lengths: with compact_seen_every=2 +
     expire_keep_last=4, no maintained table retains more than a fixed
     version budget, and the live delta chain above the last 'full'
     snapshot stays under the compaction cadence,
  4. per-round walls recorded and flat-ish: mean of the last 3 rounds
     within 3x the mean of rounds 1-3 (host-noise tolerant — the
     structural claim is no unbounded growth, which chain bounds above
     pin structurally).

Writes SOAK_r05.json; run:  python scripts/soak_10round.py
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ccspark import get_spark  # noqa: E402
from ccspark.fixtures import make_crawl_fixture  # noqa: E402
from ccspark.oracle import run_oracle  # noqa: E402
from ccspark.params import CrawlParams  # noqa: E402
from ccspark.scheduler import CrawlEngine  # noqa: E402

ROUNDS = int(os.environ.get("ROUNDS", "10"))
WORK = os.environ.get("WORK", "/tmp/soak10")

PARAMS = CrawlParams(
    rounds=ROUNDS,
    sitemap_seeding=True,
    follow_redirects=True,
    revisit_after_rounds=3,
    recrawl_after_rounds=3,
    max_hops=4,
    age_boost_pm=2000,
    politeness_by_domain=True,
    max_urls_per_host=40,
    adaptive_delay_factor_pm=1500,
    trap_ratio_pm=4000,
    pagerank_prior_weight=0.5,
    max_scheduled_per_round=30,
    compact_seen_every=2,
    expire_keep_last=4,
    content_dedup=True,
    dual_model_priority=True,
    seen_partitions=2,
    rebucket_target_keys=40,
)

# expire_keep_last=4 history + at most one compaction 'full' + the
# current round's delta + rebucket re-commits between GC points
VERSION_BUDGET = 10


def main():
    shutil.rmtree(WORK, ignore_errors=True)
    fx = make_crawl_fixture(os.path.join(WORK, "fx"), n_docs=400, seed=7)
    spark = get_spark("soak10", master="local[8]", shuffle_partitions=8)

    eng = CrawlEngine(spark, os.path.join(WORK, "state"), fx["documents"],
                      fx["seeds"], fx["robots"], params=PARAMS,
                      sitemaps_path=fx["sitemaps"], filter_kind=None)
    walls, metrics = [], []
    # drive round by round so walls are per-round (mirrors run())
    from ccspark.scheduler import seeds_to_candidates
    cand = seeds_to_candidates(spark.read.parquet(fx["seeds"]))
    if PARAMS.sitemap_seeding:
        cand = cand.unionByName(eng._sitemap_candidates(fx["sitemaps"]))
    for r in range(ROUNDS):
        t0 = time.perf_counter()
        cand = eng.run_round(r, cand)
        walls.append(round(time.perf_counter() - t0, 2))
        metrics.append(eng.store.last_round()["metrics"])
        print(json.dumps({"round": r, "wall_s": walls[-1],
                          "scheduled": metrics[-1]["scheduled"],
                          "seen_total": metrics[-1]["seen_total"],
                          "seen_partitions": eng.seen.partitions}),
              flush=True)

    # 1. pyoracle-exact at every round
    want = run_oracle(fx["documents"], fx["seeds"], fx["robots"], PARAMS,
                      sitemaps_path=fx["sitemaps"])
    rows = (eng.scheduled_rounds()
            .select("fetch_round", "url", "priority", "fetch_offset_ms",
                    "status").collect())
    got: dict[int, list] = {}
    for row in rows:
        got.setdefault(row.fetch_round, []).append(
            (row.url, row.priority, row.fetch_offset_ms, row.status))
    assert len(want.scheduled) == ROUNDS
    for r, w in enumerate(want.scheduled):
        exp = [(c["url"], c["priority"], c["fetch_offset_ms"], c["status"])
               for c in w]
        assert got.get(r, []) == exp, f"round {r} diverged from pyoracle"

    # 2. round-log integrity
    import glob
    log_files = sorted(glob.glob(os.path.join(WORK, "state", "_rounds",
                                              "r*.json")))
    assert len(log_files) == ROUNDS, log_files
    last = json.load(open(log_files[-1]))
    for name, v in last["tables"].items():
        tbl = eng.store.table(name)
        assert v in tbl.versions(), (name, v)
        assert tbl.read(v) is not None

    # 3. bounded chains / history
    chain_report = {}
    for name in ("seen", "frontier", "scheduled", "candidates"):
        tbl = eng.store.table(name)
        vs = tbl.versions()
        chain_report[name] = len(vs)
        if name in ("seen", "frontier"):
            assert len(vs) <= VERSION_BUDGET, (name, vs)
    # live delta chain above the last 'full' stays under the cadence
    seen_vs = eng.store.table("seen").versions()
    fulls = [v for v in seen_vs
             if eng.store.table("seen").meta(v).get("kind") == "full"]
    assert fulls, "no compaction 'full' snapshot survived"
    assert max(seen_vs) - max(fulls) <= 3 * PARAMS.compact_seen_every

    # 4. flat-ish walls
    head = sum(walls[1:4]) / 3
    tail = sum(walls[-3:]) / 3
    assert tail <= 3 * head, (walls, "per-round wall grew unbounded")

    evolved = eng.seen.partitions
    out = {"rounds": ROUNDS, "walls_s": walls,
           "head_avg_s": round(head, 2), "tail_avg_s": round(tail, 2),
           "seen_total": metrics[-1]["seen_total"],
           "final_seen_partitions": evolved,
           "rebucket_rounds": [m["round"] for m in metrics
                               if "rebucketed_to" in m],
           "versions_per_table": chain_report,
           "scheduled_total": sum(m["scheduled"] for m in metrics),
           "pyoracle_exact_rounds": ROUNDS}
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "SOAK_r05.json"), "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()

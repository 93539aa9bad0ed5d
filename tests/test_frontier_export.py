"""Range-partitioned frontier export (CrawlEngine.export_frontier_ranged):
the on-disk priority queue. Invariants — file ranges tile the total
order (file k strictly above file k+1 on the priority axis, modulo exact
boundary ties), rows sorted within each file, union of files == the live
frontier row-for-row, manifest bounds match the data.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from ccspark.params import CrawlParams
from ccspark.scheduler import CrawlEngine


@pytest.fixture(scope="module")
def engine(spark, fx_medium, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("fex_state")
    eng = CrawlEngine(spark, str(tmp / "s"), fx_medium["documents"],
                      fx_medium["seeds"], fx_medium["robots"],
                      # a cap keeps a healthy frontier backlog to export
                      params=CrawlParams(rounds=2,
                                         max_scheduled_per_round=20),
                      filter_kind=None)
    eng.run()
    return eng


def test_export_invariants(engine, spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("fex") / "queue")
    manifest = engine.export_frontier_ranged(out, n_files=4)
    assert manifest, "live frontier should be non-empty under the cap"
    with open(out + ".manifest.json") as fh:
        assert json.load(fh) == manifest

    live = engine.live_frontier()
    n_live = live.count()
    assert sum(m["rows"] for m in manifest.values()) == n_live

    # read back with file identity; manifest bounds match the data
    df = (spark.read.parquet(out)
          .withColumn("_f", F.element_at(
              F.split(F.input_file_name(), "/"), -1)))
    got = {r._f: (r.rows, r.pri_max, r.pri_min) for r in
           df.groupBy("_f").agg(F.count(F.lit(1)).alias("rows"),
                                F.max("priority").alias("pri_max"),
                                F.min("priority").alias("pri_min"))
           .collect()}
    for f, m in manifest.items():
        assert got[f] == (m["rows"], m["pri_max"], m["pri_min"])

    # files tile the priority axis in order: each file's min ≥ the next
    # file's max (priority DESC is the leading sort term; equal-priority
    # rows may straddle a boundary, hence ≥ not >)
    names = sorted(manifest)
    for a, b in zip(names, names[1:]):
        assert manifest[a]["pri_min"] >= manifest[b]["pri_max"] or (
            abs(manifest[a]["pri_min"] - manifest[b]["pri_max"]) < 1e-12)

    # within-file sort: priorities non-increasing in row order
    for f in names:
        pris = [r.priority for r in
                spark.read.parquet(os.path.join(out, f)).collect()]
        assert pris == sorted(pris, reverse=True), f

    # union == live frontier exactly (url is the key)
    exported = {r.url for r in df.select("url").collect()}
    assert exported == {r.url for r in live.select("url").collect()}


def test_partial_drain_is_global_top(engine, spark, tmp_path_factory):
    """Reading the first j files = the global top slice of the queue:
    every row in files[0..j) outranks (priority ≥) every row in the
    rest — what lets a fetcher fleet drain in file order."""
    out = str(tmp_path_factory.mktemp("fex2") / "queue")
    manifest = engine.export_frontier_ranged(out, n_files=4)
    names = sorted(manifest)
    if len(names) < 2:
        pytest.skip("frontier too small to split")
    head_min = min(manifest[f]["pri_min"] for f in names[:2])
    tail_max = max(manifest[f]["pri_max"] for f in names[2:])
    assert head_min >= tail_max - 1e-12

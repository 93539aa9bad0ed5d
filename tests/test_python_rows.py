"""No engine path scans a frame built from Python rows on the driver.

PySpark plans `createDataFrame` over a Python list, or over an empty
pandas frame, as a `LogicalRDD` whose RDD is a Python RDD. Scanning it
starts a second `pyspark.daemon` pool with one idle worker per core that
lives as long as the session (about 290 MB on 4 cores). A non-empty
pandas frame plans as a `LocalRelation` and starts nothing.

- every frame a crawl commits has no `LogicalRDD`/`ExistingRDD` in its
  optimized plan, for each filter kind, under the default and the
  kitchen-sink params (the seen filter's first fold used to cogroup
  against an empty Python-rows frame);
- the analytics sites that used to build such frames build none;
- the first fold of a fresh store equals a fold from empty.
"""

from __future__ import annotations

import dataclasses

import pytest
from pyspark.sql import SparkSession, functions as F

from ccspark.params import CrawlParams
from ccspark.scheduler import CrawlEngine
from ccspark.tables import SnapshotTable
from test_plans import optimized


def python_rdd_scans(df) -> list[str]:
    """The `LogicalRDD` leaves of df's optimized plan whose RDD lineage
    holds a Python RDD (a local checkpoint cuts the lineage, so its
    `LogicalRDD` reads a JVM RDD and does not count)."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    out = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if (leaf.nodeName() == "LogicalRDD"
                and "PythonRDD" in leaf.rdd().toDebugString()):
            out.append(leaf.toString())
    return out


@pytest.fixture
def built(monkeypatch):
    """Every frame `SparkSession.createDataFrame` returns while the test
    runs."""
    frames = []
    real = SparkSession.createDataFrame

    def record(self, *a, **kw):
        df = real(self, *a, **kw)
        frames.append(df)
        return df

    monkeypatch.setattr(SparkSession, "createDataFrame", record)
    return frames


def assert_no_python_rdd(frames):
    scans = [s for df in frames for s in python_rdd_scans(df)]
    assert not scans, scans


# ---------------------------------------------------------------------------
# crawl commits
# ---------------------------------------------------------------------------

def _kitchen_sink() -> CrawlParams:
    from test_kitchen_sink import PARAMS
    return dataclasses.replace(PARAMS, rounds=3)


@pytest.mark.parametrize("params", ["default", "kitchen_sink"])
@pytest.mark.parametrize("kind", ["bloom", "cuckoo", None])
def test_no_crawl_commit_scans_an_rdd(spark, fx_small, tmp_path, monkeypatch,
                                      kind, params):
    """Three rounds from a fresh store: no committed frame's optimized
    plan holds a `LogicalRDD` or `ExistingRDD` node."""
    plans = []
    real = SnapshotTable.commit

    def commit(self, df, round_no, *a, **kw):
        plans.append((round_no, self.name, optimized(df)))
        return real(self, df, round_no, *a, **kw)

    monkeypatch.setattr(SnapshotTable, "commit", commit)
    p = CrawlParams(rounds=3) if params == "default" else _kitchen_sink()
    eng = CrawlEngine(spark, str(tmp_path / "st"), fx_small["documents"],
                      fx_small["seeds"], fx_small["robots"], params=p,
                      sitemaps_path=fx_small["sitemaps"], filter_kind=kind)
    assert len(eng.run()) == 3
    assert {r for r, _, _ in plans} == {0, 1, 2}
    bad = [(r, name) for r, name, plan in plans
           if "LogicalRDD" in plan or "ExistingRDD" in plan]
    assert not bad, bad


# ---------------------------------------------------------------------------
# the analytics sites
# ---------------------------------------------------------------------------

def test_schedule_pipeline_robots(spark, built, monkeypatch):
    """benchflow's empty robots table is built JVM-side."""
    from ccspark import benchflow

    scheduled = []
    real = benchflow.schedule_frontier

    def record(df, robots, params):
        out = real(df, robots, params)
        scheduled.append(out)
        return out

    monkeypatch.setattr(benchflow, "schedule_frontier", record)
    assert benchflow.schedule_pipeline(spark, 500) > 0
    assert len(scheduled) == 1
    assert_no_python_rdd(built + scheduled)


def test_heavy_hitters_candidates(spark, built, sf_dir):
    from ccspark.analytics import q_heavy_hitters

    out = q_heavy_hitters(spark, sf_dir)
    assert out.count() > 0
    assert_no_python_rdd(built + [out])


def test_heavy_hitters_no_candidates(spark, built, tmp_path):
    """A corpus with no words yields no candidates but the sentinel, and
    still builds no Python-rows frame."""
    from ccspark.analytics import q_heavy_hitters

    sf = str(tmp_path / "hh")
    (spark.range(4).select(
        F.col("id").alias("doc_id"), F.lit("  ").alias("text"),
        F.lit("en").alias("lang"), F.lit("s").alias("source"),
        F.lit(2).cast("long").alias("n_chars"))
     .write.parquet(sf + "/documents.parquet"))
    out = q_heavy_hitters(spark, sf)
    assert out.count() == 0
    assert_no_python_rdd(built + [out])


def test_host_bfs_depth_seeds(spark, built, sf_dir):
    from ccspark.webgraph import q_host_bfs_depth

    out = q_host_bfs_depth(spark, sf_dir)
    assert out.filter("depth = 0").count() > 0
    assert built, "the seeds frame is built with createDataFrame"
    assert_no_python_rdd(built + [out])


def test_incremental_word_count_materializes_on_executors(spark, built,
                                                         sf_dir):
    from ccspark.incremental import q_incremental_word_count

    out = q_incremental_word_count(spark, sf_dir)
    assert out.count() > 0
    assert_no_python_rdd(built + [out])


# ---------------------------------------------------------------------------
# the first fold
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
def test_first_fold_is_a_fold_from_empty(spark, tmp_path, kind):
    """`SeenSet.add` on an empty store commits, per bucket, the blob
    `_fold_blob(urls, None, …)` and `n = len(urls)` over that bucket's
    URLs. A cuckoo table's slot order within a bucket follows insertion
    order, which a shuffle does not fix, so cuckoo tables compare with
    each bucket's slots sorted."""
    import numpy as np

    from ccspark import cuckoo as ck
    from ccspark.seen import SeenSet, _fold_blob, with_bucket
    from ccspark.tables import SnapshotStore

    parts, m, k, nbuck = 4, 1 << 12, 7, 1 << 8
    seen = SeenSet(SnapshotStore(spark, str(tmp_path / "st")),
                   partitions=parts, filter_kind=kind, bits_per_bucket=m,
                   num_hashes=k, cuckoo_buckets=nbuck)
    urls = with_bucket(spark.range(200).select(
        F.concat(F.lit("http://h"), (F.col("id") % 7).cast("string"),
                 F.lit(".example/p"), F.col("id").cast("string"))
        .alias("url")), partitions=parts)
    seen.add(urls, 0)

    def canon(blob):
        if kind == "bloom":
            return blob
        return np.sort(ck.from_bytes(blob), axis=1).tobytes()

    got = {r.bucket: (canon(bytes(r.bitmap)), r.n)
           for r in seen._filter_df().collect()}
    pdf = urls.select("bucket", "url").toPandas()
    want = {int(b): (canon(_fold_blob(g["url"].reset_index(drop=True), None,
                                      kind, m, k, nbuck)), len(g))
            for b, g in pdf.groupby("bucket")}
    assert sorted(got) == sorted(want) == list(range(parts))
    for b in want:
        assert got[b][1] == want[b][1], b
        assert got[b][0] == want[b][0], b

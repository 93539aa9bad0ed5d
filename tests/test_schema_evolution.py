"""Schema evolution on the snapshot chain (Iceberg add-column
semantics): a delta that adds a column must read back through
read_chain with earlier rows surfacing NULL. Every manifest carries its
snapshot's schema of record, so reads infer nothing and run no job."""

from __future__ import annotations

import json
import os

from ccspark.tables import SnapshotStore


def _evolved_chain(spark, root):
    t = SnapshotStore(spark, root).table("t")
    t.commit(spark.createDataFrame([("u1", 1)], "url string, a int"), 0)
    t.commit(spark.createDataFrame([("u2", 2, 7)],
                                   "url string, a int, hop int"), 1)
    return t


def test_added_column_reads_as_null_for_old_rows(spark, tmp_path):
    t = _evolved_chain(spark, str(tmp_path / "st"))
    got = {r.url: (r.a, r.hop) for r in t.read_chain().collect()}
    assert got == {"u1": (1, None), "u2": (2, 7)}
    # manifests record the column sets of record
    assert t.meta(1)["columns"] == ["url", "a"]
    assert t.meta(2)["columns"] == ["url", "a", "hop"]


def test_fixed_schema_chain_skips_merge(spark, tmp_path):
    t = SnapshotStore(spark, str(tmp_path / "st")).table("t")
    t.commit(spark.createDataFrame([("u1", 1)], "url string, a int"), 0)
    t.commit(spark.createDataFrame([("u2", 2)], "url string, a int"), 1)
    assert {r.url for r in t.read_chain().collect()} == {"u1", "u2"}


def test_compaction_materializes_evolved_schema(spark, tmp_path):
    """After compact_chain the evolved column is baked into the 'full'
    snapshot; subsequent same-schema deltas read merge-free."""
    t = SnapshotStore(spark, str(tmp_path / "st")).table("t")
    t.commit(spark.createDataFrame([("u1", 1)], "url string, a int"), 0)
    t.commit(spark.createDataFrame([("u2", 2, 7)],
                                   "url string, a int, hop int"), 1)
    t.compact_chain(2)
    t.commit(spark.createDataFrame([("u3", 3, 8)],
                                   "url string, a int, hop int"), 3)
    got = {r.url: r.hop for r in t.read_chain().collect()}
    assert got == {"u1": None, "u2": 7, "u3": 8}
    base_cols = t.meta(t.latest_version() - 1)["columns"]
    assert "hop" in base_cols


def test_reads_run_no_job(spark, tmp_path):
    """read() and read_chain() take the schema of record from the
    manifests: building the DataFrames submits no Spark job."""
    t = _evolved_chain(spark, str(tmp_path / "st"))
    sc = spark.sparkContext
    group = f"schema-reads-{tmp_path.name}"
    sc.setJobGroup(group, "snapshot reads", False)
    try:
        dfs = [t.read(), t.read(1), t.read_chain(), t.read_chain(1)]
        cols = [df.columns for df in dfs]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert cols == [["url", "a", "hop"], ["url", "a"],
                    ["url", "a", "hop"], ["url", "a"]]


def test_manifest_without_schema_still_reads(spark, tmp_path):
    """A chain committed before manifests recorded schemas infers each
    version's schema from its files once and still reads add-column
    NULLs."""
    t = _evolved_chain(spark, str(tmp_path / "st"))
    for v in t.versions():
        path = os.path.join(t.snap_dir, f"v{v}.json")
        with open(path) as fh:
            meta = json.load(fh)
        del meta["schema"]
        with open(path, "w") as fh:
            json.dump(meta, fh)
    got = {r.url: (r.a, r.hop) for r in t.read_chain().collect()}
    assert got == {"u1": (1, None), "u2": (2, 7)}
    sc = spark.sparkContext
    group = f"legacy-reads-{tmp_path.name}"
    sc.setJobGroup(group, "legacy snapshot reads", False)
    try:
        again = [t.read_chain().columns, t.read(1).columns]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert again == [["url", "a", "hop"], ["url", "a"]]
    assert [r.a for r in t.read(1).collect()] == [1]

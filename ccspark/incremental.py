"""Incremental aggregate maintenance over the snapshot-table layer.

A crawl re-derives corpus statistics every round; recomputing an
aggregate from scratch is O(corpus) per round, which at 100 TB means
re-reading everything to fold in a 0.1% delta. This module maintains a
materialized additive aggregate incrementally — the materialized-view /
hypertable-rollup pattern — on top of tables.SnapshotTable:

- `fold(delta_df, round_no)` partially aggregates ONLY the round's new
  rows (map-side combine, shuffle O(delta keys)) and commits the partial
  as a delta snapshot;
- `read()` is merge-on-read: groupBy + sum over the live chain — cost
  O(chain keys), never O(corpus);
- `compact(round_no)` folds the chain back to one pre-aggregated 'full'
  snapshot (Iceberg rewrite-data-files analog), bounding chain length;
  older versions stay readable for time travel (`read(version=k)` shows
  the aggregate as of round k).

Correct for any commutative-associative additive measure (counts, sums);
exactness against full recompute is pinned by test_incremental and the
oracle-backed `incremental_word_count` query (3 fold rounds over the
documents table must equal the batch word count value-exactly).

Reference parity: the reference keeps running counters across its round
loop (Statistics.java GLOBAL_COUNT/DOMAIN_COUNT survive job boundaries);
this is that idea for full keyed aggregates instead of scalars.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from .tables import SnapshotTable


class IncrementalAgg:
    """Materialized additive aggregate: keys + long-sum measure columns,
    maintained by per-round delta commits."""

    def __init__(self, spark: SparkSession, root: str, name: str,
                 key_cols: list[str], measure_cols: list[str],
                 partitions: int = 32):
        self.spark = spark
        self.key_cols = list(key_cols)
        self.measure_cols = list(measure_cols)
        self.partitions = partitions
        self.tbl = SnapshotTable(spark, root, name)

    def _partial(self, rows: DataFrame) -> DataFrame:
        return (rows.groupBy(*self.key_cols)
                .agg(*[F.sum(c).cast("bigint").alias(c)
                       for c in self.measure_cols]))

    def fold(self, delta_rows: DataFrame, round_no: int) -> int:
        """Commit the partial aggregate of the round's NEW rows. Work is
        O(delta): the partial agg combines map-side and shuffles only the
        delta's distinct keys; the existing chain is not read."""
        return self.tbl.commit(
            self._partial(delta_rows), round_no,
            repartition=(min(self.partitions, 32), *self.key_cols))

    def read(self, version: int | None = None) -> DataFrame:
        """Serving read (merge-on-read): sum the live delta chain per
        key. Time travel via version → the aggregate as of that commit."""
        chain = self.tbl.read_chain(version)
        return (chain.groupBy(*self.key_cols)
                .agg(*[F.sum(c).cast("bigint").alias(c)
                       for c in self.measure_cols]))

    def compact(self, round_no: int) -> int:
        """Fold the chain to one pre-aggregated 'full' snapshot; reads
        then touch a single snapshot until new deltas accumulate."""
        return self.tbl.commit(
            self.read(), round_no, kind="full",
            repartition=(min(self.partitions, 32), *self.key_cols))


# ---------------------------------------------------------------------------
# oracle-backed query: 3 incremental fold rounds ≡ the batch word count
# ---------------------------------------------------------------------------

def _word_rows(spark, sf_dir) -> DataFrame:
    from .analytics import t
    d = t(spark, sf_dir, "documents")
    return (d.select(F.explode(F.expr(
        "filter(split(text, ' '), x -> x <> '')")).alias("word"),
        F.col("doc_id"))
        .withColumn("cnt", F.lit(1)))


def q_incremental_word_count(spark, sf_dir):
    """Maintain corpus word counts incrementally: the documents table is
    split into 3 deterministic 'rounds' (doc_id % 3); each round folds
    ONLY its slice's partial counts into the materialized table, and the
    serving read merges the chain (with a compaction after round 1 to
    exercise the full-snapshot path). The result must equal the batch
    word_count — the oracle IS the batch SQL, so the driver verifies the
    incremental maintenance end to end at value level."""
    root = tempfile.mkdtemp(prefix="ccspark_incr_")
    try:
        agg = IncrementalAgg(spark, root, "word_counts",
                             ["word"], ["cnt"], partitions=8)
        rows = _word_rows(spark, sf_dir)
        for rnd in range(3):
            agg.fold(rows.filter(F.col("doc_id") % 3 == rnd), rnd)
            if rnd == 1:
                agg.compact(rnd)
        out = agg.read().select("word", F.col("cnt").alias("n"))
        # materialize before the tempdir vanishes, on the executors (no
        # round trip through the driver); production keeps the state dir
        # and returns the lazy merge-on-read plan
        out = out.localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


SQL_INCREMENTAL_WORD_COUNT = (
    "SELECT word, CAST(count(*) AS BIGINT) AS n FROM ("
    " SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))"
    "   AS word FROM documents) GROUP BY word")


REG: dict[str, tuple] = {
    "incremental_word_count": (q_incremental_word_count,
                               SQL_INCREMENTAL_WORD_COUNT),
}

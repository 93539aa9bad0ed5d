"""URL-seen set (SURVEY.md U5/U6/J1) — the engine's central dedup join.

Two cooperating structures, mirroring the reference's intent
(Statistics.java:21-51: a bloom filter documented for 15-20e9 insertions,
with a partitioned-pool workaround sketched at :37-49, while exact counts
are bookkept separately):

1. **Exact seen table** (set of record): snapshot table of
   (url, url_hash, bucket, first_round), hash-partitioned by
   bucket = pmod(xxhash64(url), P). Correctness comes from a left_anti
   join against this table — never from the approximate filter.

2. **Partitioned approximate-filter accelerator** — pluggable kind, per
   the north_rule's "bloom/cuckoo filter":

   - ``bloom``: one bitmap per bucket (k double-hashed bit positions,
     vectorized numpy). Cheapest per key (~1.2 B at 3% fpp) but
     insert-only — removing URLs means rebuilding affected buckets from
     the exact table.
   - ``cuckoo``: partial-key cuckoo table per bucket (cuckoo.py; Fan et
     al. 2014: 4-slot buckets, 16-bit fingerprints, i2 = i1 XOR H(fp)).
     ~2 B/key at 95% max load with fpp ≈ 0.012% (fewer false positives
     = fewer redundant exact-join probes), and O(1) deletion — the
     recrawl path removes keys in place instead of rebuilding.

   Either filter is built and probed inside Arrow applyInPandas/cogroup
   kernels (vectorized numpy — no per-row Python), persisted as a
   (bucket, blob, n, v) snapshot table committed as PER-BUCKET DELTAS: a
   round writes only the buckets that received new URLs, reads resolve
   latest-bucket-wins (max_by v), and compaction periodically
   materializes the resolved state. The probe flags each candidate
   maybe_seen, and ONE left-anti join keyed on (url, maybe_seen) against
   the exact set (url, true) removes the seen rows: a definitely-new row
   (maybe_seen=false) can never match, so only maybe-seen rows can be
   dropped, and the probe kernel runs once per round. False positives
   cost a redundant join match; false negatives are impossible
   (property tests for both kinds).

   A fresh store has no filter rows yet, so its first fold builds each
   touched bucket from empty with the kernel rebucket uses; later
   rounds cogroup the new URLs against the touched buckets' rows.

Engine paths never build a frame from Python rows (a list, or an empty
pandas frame; a non-empty pandas frame plans as a LocalRelation and is
fine): PySpark plans such a frame as a LogicalRDD over a Python RDD,
and scanning it starts a second worker pool of nproc idle Python
workers that lives for the rest of the session — about 290 MB on
4 cores, growing with the core count.

Scale arithmetic (BASELINE.md): P=256 buckets. At bench (1e6 URLs) each
bloom bitmap is 2^20 bits = 128 KiB → 32 MiB total. At 1e10 URLs: 39e6
keys/bucket × ~10 bits ≈ 48 MiB/bucket ≈ 12 GiB total (bloom) or
2^24 cuckoo buckets × 4 × 2 B = 128 MiB/bucket ≈ 32 GiB (cuckoo, with
deletability) — distributed via the cogroup (each task touches only its
bucket's state); nothing is ever collected to the driver or broadcast.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from . import cuckoo as ck
from .tables import SnapshotStore

_HASH_KEY_1 = "ccsparkbloomkey1"
_HASH_KEY_2 = "ccsparkbloomkey2"

FILTER_SCHEMA = T.StructType([
    T.StructField("bucket", T.IntegerType()),
    T.StructField("bitmap", T.BinaryType()),
    T.StructField("n", T.LongType()),
])

# a kernel's answer for a bucket it leaves as it is
_NO_ROWS = pd.DataFrame({c: [] for c in FILTER_SCHEMA.names})


def _bit_positions(urls: pd.Series, m_bits: int, k: int) -> np.ndarray:
    """(len(urls), k) bloom bit indices — fully vectorized (pandas'
    C-implemented 64-bit hashing, two independent keys, double hashing).
    categorize=False: pandas' factorize pre-pass compares strings up to
    the first NUL, so "a" and "a\\x00" in one batch would share a hash."""
    h1 = pd.util.hash_pandas_object(urls, index=False, hash_key=_HASH_KEY_1,
                                    categorize=False).to_numpy()
    h2 = pd.util.hash_pandas_object(urls, index=False, hash_key=_HASH_KEY_2,
                                    categorize=False).to_numpy()
    j = np.arange(k, dtype=np.uint64)
    return ((h1[:, None] + j[None, :] * h2[:, None]) % np.uint64(m_bits)).astype(np.int64)


def _probe_blob(urls: pd.Series, blob: bytes, kind: str,
                m: int, k: int) -> np.ndarray:
    if kind == "cuckoo":
        table = ck.from_bytes(blob)
        fp, i1 = ck.key_parts(urls, table.shape[0])
        return ck.contains(table, fp, i1)
    bits = np.unpackbits(np.frombuffer(blob, dtype=np.uint8))
    idx = _bit_positions(urls, m, k)
    return bits[idx].all(axis=1)


def _fold_blob(urls: pd.Series, blob: bytes | None, kind: str,
               m: int, k: int, nbuck: int) -> bytes:
    if kind == "cuckoo":
        table = ck.from_bytes(blob) if blob is not None else ck.new_table(nbuck)
        fp, i1 = ck.key_parts(urls, table.shape[0])
        ck.insert(table, fp, i1)
        return ck.to_bytes(table)
    if blob is not None:
        bits = np.unpackbits(np.frombuffer(blob, dtype=np.uint8)).copy()
    else:
        bits = np.zeros(m, dtype=np.uint8)
    bits[_bit_positions(urls, m, k).ravel()] = 1
    return np.packbits(bits).tobytes()


def _build_kernel(kind: str, m: int, k: int, nbuck: int):
    """(key, urls_pdf) → the bucket's filter row folded from empty over
    exactly those urls (n = their count). Rebucket builds every bucket
    with it, a fresh store's first `add` builds the touched buckets, and
    the bloom removal rebuilds the touched buckets from their survivors
    (no survivors → an empty bitmap, n = 0)."""
    def build(key, urls_pdf):
        return pd.DataFrame({
            "bucket": [key[0]],
            "bitmap": [_fold_blob(urls_pdf["url"], None, kind, m, k, nbuck)],
            "n": [len(urls_pdf)]})
    return build


def _delete_blob(urls: pd.Series, blob: bytes) -> tuple[bytes, int]:
    """Delete the urls' fingerprints; returns (new blob, #actually
    deleted). The mask matters: a requested key whose slot was already
    cleared (or never inserted) must NOT decrement the bucket's key
    count, or `n` drifts low over repeated removals."""
    table = ck.from_bytes(blob)
    fp, i1 = ck.key_parts(urls, table.shape[0])
    deleted = ck.delete(table, fp, i1)
    return ck.to_bytes(table), int(deleted.sum())


def with_bucket(df: DataFrame, url_col: str = "url", partitions: int = 256) -> DataFrame:
    """JVM-side 64-bit hashing (U7): xxhash64 → bucket. This is the
    Statistics.java:37-49 'hash % NUM_BLOOM' pool-selection made real."""
    return (df
            .withColumn("url_hash", F.xxhash64(F.col(url_col)))
            .withColumn("bucket", F.pmod(F.col("url_hash"), F.lit(partitions)).cast("int")))


class SeenSet:
    def __init__(self, store: SnapshotStore, partitions: int = 256,
                 filter_kind: str | None = "bloom",
                 bits_per_bucket: int = 1 << 20, num_hashes: int = 7,
                 cuckoo_buckets: int = 1 << 14):
        """filter_kind: 'bloom' (default), 'cuckoo', or None (exact
        anti-join only). cuckoo_buckets × 4 slots is the
        per-partition capacity — size ≥ expected keys/partition / 0.84
        (the b=4 high-load bound) rounded up to a power of two."""
        self.store = store
        self.spark = store.spark
        self.partitions = partitions
        assert filter_kind in (None, "bloom", "cuckoo")
        self.kind = filter_kind
        self.m = bits_per_bucket
        self.k = num_hashes
        self.nbuck = cuckoo_buckets
        self.seen_tbl = store.table("seen")
        self.filter_name = filter_kind or "bloom"
        self.filter_tbl = store.table(self.filter_name)
        # constructor-time layout, the fallback when no persisted spec
        # survives (rederive_spec after a rollback discards any spec
        # adopted from a since-rolled-back rebucket snapshot)
        self._ctor_spec = (partitions, cuckoo_buckets)

    # -- read state ---------------------------------------------------------

    def _spec(self) -> dict:
        """The persisted layout spec (stamped into every 'full' commit's
        metrics so it survives restarts and history GC)."""
        return {"partitions": self.partitions, "cuckoo_buckets": self.nbuck}

    def restore_spec(self) -> bool:
        """Adopt the layout spec of record after a restart: the newest
        manifest carrying spec metrics wins (rebucket and compaction
        commits both stamp it). Driver-side manifest walk — no data
        read. Returns True if a persisted spec was found."""
        t = self.seen_tbl
        for v in reversed(t.versions()):
            mm = t.meta(v).get("metrics") or {}
            if "partitions" in mm:
                self.partitions = int(mm["partitions"])
                if "cuckoo_buckets" in mm:
                    self.nbuck = int(mm["cuckoo_buckets"])
                return True
        return False

    def rederive_spec(self) -> bool:
        """restore_spec with a clean slate: reset to the constructor
        layout first, THEN adopt whatever spec the (post-rollback)
        manifests of record carry. Called after rollback_to_last_round —
        a spec adopted in __init__ may have come from an orphaned
        rebucket snapshot the rollback just deleted, and keeping it
        would bucket candidates under a modulus the persisted rows and
        filter blobs don't use (false-negative probes, duplicate
        admissions). Returns True if a persisted spec was found."""
        self.partitions, self.nbuck = self._ctor_spec
        return self.restore_spec()

    def _chain_has_tombstones(self, live: list[dict] | None = None) -> bool:
        """Driver-side manifest scan: any tombstone delta in the live
        chain (`live`, its manifests; the latest chain when omitted)?
        Lets the common (no-recrawl) crawl loop keep its resolution-free
        read path — no groupBy on a chain that is pure appends."""
        if live is None:
            live = self.seen_tbl.chain()
        return any(meta.get("metrics", {}).get("tombstones") for meta in live)

    def seen_df(self, version: int | None = None) -> DataFrame | None:
        """The exact set of record, resolved merge-on-read over the delta
        chain since the last 'full' snapshot. Adds are (deleted=false)
        rows; a recrawl removal commits O(removed) TOMBSTONE rows
        (deleted=true) instead of rewriting the surviving set — the
        Iceberg position/equality-delete analog. Resolution: per url the
        latest event wins, ordered by (first_round, add-beats-tombstone)
        — a removal and re-add in the same round resolves to present,
        matching the engine's remove-then-add round sequence. The
        resolve shuffle is paid only when the live chain actually holds
        tombstones (manifest flag)."""
        live = self.seen_tbl.chain(version)
        if not live:
            return None
        chain = self.seen_tbl.scan(live)
        if not self._chain_has_tombstones(live):
            return chain.drop("deleted") if "deleted" in chain.columns else chain
        key = F.struct(F.col("first_round").alias("r"),
                       (~F.col("deleted")).cast("int").alias("add"))
        return (chain.groupBy("url")
                .agg(F.max_by(
                    F.struct("url_hash", "bucket", "first_round", "deleted"),
                    key).alias("_e"))
                .filter(~F.col("_e.deleted"))
                .select("url", F.col("_e.url_hash").alias("url_hash"),
                        F.col("_e.bucket").alias("bucket"),
                        F.col("_e.first_round").alias("first_round")))

    def compact_seen(self, round_no: int,
                     repartition: tuple | None = None) -> int | None:
        """Materialize the RESOLVED seen set (tombstones applied and
        dropped) as a 'full' snapshot — the seen twin of compact_filter.
        Used instead of the raw compact_chain so compaction actually
        reclaims tombstoned rows rather than carrying them forever."""
        resolved = self.seen_df()
        if resolved is None:
            return None
        # every 'full' snapshot stamps the layout spec of record, so
        # restore_spec finds it even after history GC expires the
        # rebucket commit itself (the chain base is always retained)
        return self.seen_tbl.commit(
            resolved.withColumn("deleted", F.lit(False)), round_no,
            kind="full", metrics=self._spec(), repartition=repartition)

    def _filter_df(self) -> DataFrame | None:
        """Latest blob per bucket, resolved merge-on-read over the delta
        chain: each round commits only the buckets it touched, so a
        bucket's current state is its row with the highest writer
        version `v` since the last 'full' (compaction) snapshot. The
        resolve is a max_by over ≤ P × chain-length tiny rows — nothing
        like the 12 GiB full-rewrite round 2 paid per round."""
        live = self.filter_tbl.chain()
        if not live:
            return None
        chain = self.filter_tbl.scan(live)
        return (chain.groupBy("bucket")
                .agg(F.max_by(F.struct("bitmap", "n"), F.col("v")).alias("_b"),
                     F.max("v").alias("v"))
                .select("bucket", "_b.bitmap", "_b.n", "v"))

    def compact_filter(self, round_no: int) -> int | None:
        """Materialize the resolved per-bucket state as a 'full' snapshot
        so the latest-bucket-wins chain stays bounded (the filter twin of
        the seen chain's compact_chain)."""
        resolved = self._filter_df()
        if resolved is None:
            return None
        return self.filter_tbl.commit(
            resolved, round_no, kind="full",
            repartition=(min(self.partitions, 64), "bucket"))

    def _commit_filter(self, rows: DataFrame, round_no: int,
                       **kw) -> dict[str, int]:
        """Commit per-bucket filter rows stamped with the version they
        will land in (`v`, the latest-bucket-wins key), bucketed under
        the live spec. Returns {filter table name: version}."""
        next_v = (self.filter_tbl.latest_version() or 0) + 1
        return {self.filter_name: self.filter_tbl.commit(
            rows.withColumn("v", F.lit(next_v).cast("long")), round_no,
            repartition=(min(self.partitions, 64), "bucket"), **kw)}

    # -- vectorized per-bucket kernels ---------------------------------------
    # module-level _probe_blob/_fold_blob/_delete_blob are parameterized by
    # (kind, m, k, nbuck) scalars so UDF closures never capture `self`
    # (which holds the SparkSession and cannot ship to executors)

    def _kernel_params(self) -> tuple:
        return (self.kind, self.m, self.k, self.nbuck)

    # -- filter candidates to never-seen ------------------------------------

    def filter_new(self, candidates: DataFrame) -> DataFrame:
        """Candidates (must carry url/url_hash/bucket) → rows whose url has
        never been seen. With a filter, the probe flags maybe_seen and
        one anti-join keyed on (url, maybe_seen) against the exact set
        (url, true) drops the seen rows: definitely-new rows can never
        match. Without one, a plain exact anti-join on url."""
        seen = self.seen_df()
        if seen is None:
            return candidates
        filt = self._filter_df() if self.kind else None
        if filt is None:
            return candidates.join(seen.select("url"), "url", "left_anti")

        out_schema = T.StructType(
            candidates.schema.fields + [T.StructField("maybe_seen", T.BooleanType())])
        kind, m, k, _ = self._kernel_params()

        def probe(key, cand_pdf, filt_pdf):
            if len(cand_pdf) == 0:
                return cand_pdf.assign(maybe_seen=pd.Series([], dtype=bool))
            if len(filt_pdf) == 0 or filt_pdf["bitmap"].iloc[0] is None:
                return cand_pdf.assign(maybe_seen=False)
            return cand_pdf.assign(
                maybe_seen=_probe_blob(cand_pdf["url"],
                                       filt_pdf["bitmap"].iloc[0], kind, m, k))

        flagged = (candidates.groupBy("bucket")
                   .cogroup(filt.groupBy("bucket"))
                   .applyInPandas(probe, schema=out_schema))
        return (flagged
                .join(seen.select("url", F.lit(True).alias("maybe_seen")),
                      ["url", "maybe_seen"], "left_anti")
                .select(*candidates.columns))

    # -- commit new URLs -----------------------------------------------------

    def add(self, new_rows: DataFrame, round_no: int,
            metrics: dict | None = None) -> dict[str, int]:
        """Append (url, url_hash, bucket) of `new_rows` to the exact table
        and fold them into the per-bucket filter state. Returns committed
        snapshot versions."""
        add_df = new_rows.select("url", "url_hash", "bucket",
                                 F.lit(round_no).alias("first_round"),
                                 F.lit(False).alias("deleted"))
        # append-only delta commit: the seen chain is never rewritten
        versions = {"seen": self.seen_tbl.commit(
            add_df, round_no, metrics=metrics,
            repartition=(min(self.partitions, 32), "bucket"))}

        if self.kind:
            kind, m, k, nbuck = self._kernel_params()

            def fold(key, urls_pdf, filt_pdf):
                if len(urls_pdf) == 0:
                    # bucket present only on the filter side (can't happen
                    # after the semi-join below, but keep fold total):
                    # nothing new → emit nothing, the old row stays live
                    return _NO_ROWS
                blob = filt_pdf["bitmap"].iloc[0] if len(filt_pdf) else None
                n = int(filt_pdf["n"].iloc[0]) if len(filt_pdf) else 0
                return pd.DataFrame({
                    "bucket": [key[0]],
                    "bitmap": [_fold_blob(urls_pdf["url"], blob, kind, m, k, nbuck)],
                    "n": [n + len(urls_pdf)]})

            new_urls = add_df.select("bucket", "url")
            filt = self._filter_df()
            if filt is None:
                # no filter yet: every touched bucket folds from empty
                folded = (new_urls.groupBy("bucket")
                          .applyInPandas(_build_kernel(kind, m, k, nbuck),
                                         schema=FILTER_SCHEMA))
            else:
                # DELTA commit: fold (and re-emit) ONLY buckets that
                # received new URLs this round. Round 2 cogrouped the
                # full filter table and re-wrote every blob every round
                # (≈12 GiB/round at the 1e10-URL design point no matter
                # how few URLs arrived); untouched buckets now stay in
                # their old snapshot files and win via max_by(v) on read.
                filt = filt.join(new_urls.select("bucket").distinct(),
                                 "bucket", "left_semi")
                folded = (new_urls.groupBy("bucket")
                          .cogroup(filt.drop("v").groupBy("bucket"))
                          .applyInPandas(fold, schema=FILTER_SCHEMA))
            versions.update(self._commit_filter(folded, round_no))
        return versions

    # -- recrawl: remove URLs from the seen set ------------------------------

    def remove(self, urls: DataFrame, round_no: int) -> dict[str, int]:
        """Recrawl support: delete `urls` (a DataFrame with a `url`
        column) from the seen set so the scheduler re-admits them.

        The exact table commits a TOMBSTONE DELTA — O(removed) rows with
        deleted=true, resolved latest-event-wins on read (seen_df) — the
        Iceberg equality-delete analog. Never a full survivor rewrite:
        at the 1e10-URL design point a per-round recrawl policy must not
        pay an O(total URLs) write for O(removed) work. Compaction
        (compact_seen) periodically materializes the resolved survivors
        and drops the tombstones; older versions stay readable for time
        travel.

        The removal set is first SEMI-JOINED against the exact seen set,
        making remove() idempotent and contract-safe: the cuckoo delete
        contract is 'delete only inserted keys' — deleting a never-
        inserted (or already-removed, e.g. retried recrawl) URL could
        clear a colliding fingerprint slot that belongs to a different
        surviving URL, a filter false negative that breaks the
        'definitely-new bypasses the exact join' invariant.

        The accelerator updates per affected bucket as a delta:

        - **cuckoo**: clears one fingerprint slot per removed key —
          O(removed) work, the capability the cuckoo backend exists for;
          the bucket's key count decrements by the number of slots
          ACTUALLY cleared (the delete mask), not by request count.
        - **bloom**: bits can't be un-set, so affected buckets' bitmaps
          are REBUILT from the surviving exact rows (a bucket losing all
          its URLs emits an empty bitmap — the old row must not win the
          latest-bucket-wins read).
        """
        seen = self.seen_df()
        if seen is None:
            return {}
        removed = (with_bucket(urls.select("url").distinct(),
                               partitions=self.partitions)
                   .join(seen.select("url"), "url", "left_semi"))
        removed.cache()
        try:
            tomb = removed.select(
                "url", "url_hash", "bucket",
                F.lit(round_no).alias("first_round"),
                F.lit(True).alias("deleted"))
            versions = {"seen": self.seen_tbl.commit(
                tomb, round_no, metrics={"tombstones": True},
                repartition=(min(self.partitions, 32), "bucket"))}
            if not self.kind:
                return versions
            filt = self._filter_df()
            if filt is None:
                return versions
            touched = removed.select("bucket").distinct()
            filt = filt.join(touched, "bucket", "left_semi")

            kind, m, k, nbuck = self._kernel_params()
            if kind == "cuckoo":

                def upd(key, rm_pdf, filt_pdf):
                    if len(filt_pdf) == 0 or len(rm_pdf) == 0:
                        return _NO_ROWS
                    blob, n_del = _delete_blob(rm_pdf["url"],
                                               filt_pdf["bitmap"].iloc[0])
                    n = max(0, int(filt_pdf["n"].iloc[0]) - n_del)
                    return pd.DataFrame({"bucket": [key[0]], "bitmap": [blob],
                                         "n": [n]})

                updated = (removed.select("bucket", "url").groupBy("bucket")
                           .cogroup(filt.drop("v").groupBy("bucket"))
                           .applyInPandas(upd, schema=FILTER_SCHEMA))
            else:
                build = _build_kernel(kind, m, k, nbuck)

                def upd(key, touched_pdf, surv_pdf):
                    if len(touched_pdf) == 0:
                        return _NO_ROWS
                    return build(key, surv_pdf)

                survivors = seen.join(removed.select("url"), "url", "left_anti")
                surv_urls = survivors.select("bucket", "url")
                updated = (touched.groupBy("bucket")
                           .cogroup(surv_urls
                                    .join(touched, "bucket", "left_semi")
                                    .groupBy("bucket"))
                           .applyInPandas(upd, schema=FILTER_SCHEMA))
            versions.update(self._commit_filter(updated, round_no))
            return versions
        finally:
            removed.unpersist()

    # -- partition evolution -------------------------------------------------

    def rebucket(self, new_partitions: int, round_no: int,
                 cuckoo_buckets: int | None = None) -> dict[str, int]:
        """Partition evolution (Iceberg's partition-spec evolution, for
        the hash-bucketed seen layout): re-key the whole seen state from
        P to `new_partitions` buckets and commit both tables as 'full'
        snapshots under the new spec.

        Why it must exist: bucket = pmod(xxhash64(url), P) is baked into
        every persisted row AND into the per-bucket filter blobs, so P
        is load-bearing — a crawl sized at 10^8 URLs (P=256 keeps blobs
        ~MB) that grows toward 10^10 needs more buckets or per-bucket
        filter state outgrows task memory; conversely a filter probe
        over mostly-empty buckets wastes scheduler overhead. Evolving P
        is a ONE-TIME O(total) job — exactly what compaction already
        pays — instead of the fork-lift alternative (new SeenSet +
        re-add everything, losing history and doubling storage
        transiently).

        Mechanics: resolve the exact set (tombstones applied), recompute
        bucket under the new modulus from the already-persisted
        url_hash (no re-hashing of URL strings), commit as kind='full'
        (read_chain starts at the new spec — no old-bucket row can
        leak into a resolved read), then REBUILD every filter blob per
        new bucket with the same fold kernel add() uses (blob layouts
        are bucket-content-derived, so nothing from the old blobs is
        reusable). Deltas after this commit key on the new buckets;
        time travel to pre-rebucket versions still resolves under the
        OLD spec because resolution never mixes rows across a 'full'
        boundary. The commit metrics record the spec change for the
        manifest audit trail. `cuckoo_buckets` optionally resizes the
        per-bucket cuckoo capacity in the same pass (shrinking P grows
        keys/bucket — the two knobs move together)."""
        assert new_partitions >= 1
        resolved = self.seen_df()
        assert resolved is not None, "rebucket on an empty seen set"
        old = self.partitions
        re_rows = (resolved.drop("bucket")
                   .withColumn("bucket",
                               F.pmod(F.col("url_hash"),
                                      F.lit(new_partitions)).cast("int"))
                   .select("url", "url_hash", "bucket", "first_round",
                           F.lit(False).alias("deleted")))
        self.partitions = new_partitions
        if cuckoo_buckets is not None:
            self.nbuck = cuckoo_buckets
        spec = {"rebucket_from": old, **self._spec()}
        versions = {"seen": self.seen_tbl.commit(
            re_rows, round_no, kind="full", metrics=spec,
            repartition=(min(new_partitions, 32), "bucket"))}
        if not self.kind:
            return versions
        built = (re_rows.select("bucket", "url").groupBy("bucket")
                 .applyInPandas(_build_kernel(*self._kernel_params()),
                                schema=FILTER_SCHEMA))
        versions.update(self._commit_filter(built, round_no, kind="full",
                                            metrics=spec))
        return versions

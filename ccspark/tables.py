"""Iceberg-semantics snapshot tables: partitioned parquet + JSON snapshot log.

No Iceberg runtime jar is available in-sandbox (SURVEY.md §7.0), so this
module provides the three Iceberg properties the north_rule exercises —
snapshot isolation, time-travel to round k, and resumability — as
parquet plus an explicit `_snapshots/v{N}.json` log carrying lineage
(files), parent version, metrics and the snapshot's schema of record.
Reads hand that schema to the parquet reader, so a read runs no Spark
job (no footer inference) and an added column reads as NULL in older
snapshots (Iceberg add-column semantics) without parquet schema merging.
The interface is deliberately narrow so a real Iceberg catalog can be
dropped in behind it later.

Replaces the reference's MongoDB persistence (MorphiaManager.java:19-34)
and its 500-file chunked sequential-job checkpointing
(AWSMediaExtractor.java:71-84).
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession, types as T


class SnapshotTable:
    def __init__(self, spark: SparkSession, root: str, name: str):
        self.spark = spark
        self.name = name
        self.dir = os.path.join(root, name)
        self.snap_dir = os.path.join(self.dir, "_snapshots")
        os.makedirs(self.snap_dir, exist_ok=True)
        # schemas inferred for manifests that predate recorded schemas,
        # keyed by (version, committed_at): a version number reused after
        # a rollback is a different snapshot
        self._inferred: dict[tuple, T.StructType] = {}

    # -- snapshot log ------------------------------------------------------

    def versions(self) -> list[int]:
        out = []
        for f in os.listdir(self.snap_dir):
            if f.startswith("v") and f.endswith(".json"):
                out.append(int(f[1:-5]))
        return sorted(out)

    def latest_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def meta(self, version: int) -> dict:
        with open(os.path.join(self.snap_dir, f"v{version}.json")) as fh:
            return json.load(fh)

    # -- commit / read -----------------------------------------------------

    def schema(self, meta: dict) -> T.StructType:
        """The schema of record of the version whose manifest is `meta`.
        A manifest written before schemas were recorded has none; that
        version's schema is inferred from its parquet footers once (one
        Spark job) and remembered."""
        if "schema" in meta:
            return T.StructType.fromJson(json.loads(meta["schema"]))
        key = (meta["version"], meta.get("committed_at"))
        if key not in self._inferred:
            self._inferred[key] = self.spark.read.parquet(
                os.path.join(self.dir, f"v{meta['version']}")).schema
        return self._inferred[key]

    def commit(self, df: DataFrame, round_no: int, metrics: dict | None = None,
               repartition: tuple | None = None, kind: str = "delta") -> int:
        """Write df as the next snapshot version. The JSON manifest is
        written only after the parquet write fully succeeds, so a crash
        mid-write leaves the previous snapshot authoritative (the
        resumability contract). The manifest records df's schema as the
        snapshot's schema of record. kind='full' marks a snapshot that
        replaces the whole chain before it (compaction)."""
        # optimistic concurrency (Iceberg's atomic metadata-pointer swap,
        # filesystem edition): CLAIM the version number via O_EXCL file
        # creation before writing any data — two writers racing the same
        # table serialize onto distinct versions instead of silently
        # overwriting each other's parquet dir + manifest (version gaps
        # are fine: chain/read walk existing manifests, never N±1
        # arithmetic). A claim whose commit crashed is cleaned by
        # remove_orphans; readers ignore claims. One listing per commit:
        # the manifest's parent is the newest version that listing saw,
        # so it is always below the claimed version even when a rival
        # writer commits while this one writes.
        vs = self.versions()
        parent = vs[-1] if vs else None
        version = (parent or 0) + 1
        while True:
            claim = os.path.join(self.snap_dir, f".claim.v{version}")
            try:
                fd = os.open(claim, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.close(fd)
                break
            except FileExistsError:
                version += 1
        path = os.path.join(self.dir, f"v{version}")
        w = df
        if repartition is not None:
            w = w.repartition(*repartition)
        w.write.mode("overwrite").parquet(path)
        files = []
        for base, _, names in os.walk(path):
            for n in names:
                if n.endswith(".parquet"):
                    files.append(os.path.relpath(os.path.join(base, n), path))
        manifest = {
            "table": self.name,
            "version": version,
            "round": round_no,
            "parent": parent,
            "kind": kind,
            "path": path,
            "files": sorted(files),
            "num_files": len(files),
            # schema of record (Iceberg schema tracking): reads pass it
            # to the parquet reader instead of inferring it from footers
            "columns": list(df.columns),
            "schema": df.schema.json(),
            "metrics": metrics or {},
            "committed_at": time.time(),
        }
        tmp = os.path.join(self.snap_dir, f".v{version}.json.tmp")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh, indent=1)
        os.rename(tmp, os.path.join(self.snap_dir, f"v{version}.json"))
        try:
            os.unlink(claim)
        except FileNotFoundError:
            pass
        return version

    def read(self, version: int | None = None) -> DataFrame:
        """Read a snapshot (latest by default) — time travel via version.
        The manifest's schema of record is the read schema."""
        if version is None:
            version = self.latest_version()
        if version is None:
            raise FileNotFoundError(f"no snapshots for table {self.name}")
        return (self.spark.read.schema(self.schema(self.meta(version)))
                .parquet(os.path.join(self.dir, f"v{version}")))

    def chain(self, version: int | None = None) -> list[dict]:
        """Manifests of the live chain at `version` (latest by default):
        the last 'full' snapshot ≤ version and every delta after it,
        oldest first ([] when no snapshot ≤ version exists). One
        directory listing, and each live manifest is opened once — the
        walk goes newest-first and stops at the base. Nothing is cached
        between calls: version numbers are reused after `rollback_to`,
        and another writer may commit in between."""
        out = []
        for v in reversed(self.versions()):
            if version is not None and v > version:
                continue
            out.append(self.meta(v))
            if out[-1].get("kind") == "full":
                break
        return out[::-1]

    def scan(self, manifests: list[dict]) -> DataFrame:
        """The union of the snapshots `manifests` name, read under the
        union of their schemas of record in first-seen order (Iceberg
        add-column semantics: a column a later delta added reads as NULL
        in earlier rows)."""
        if not manifests:
            raise FileNotFoundError(f"no snapshots for table {self.name}")
        fields: dict[str, T.StructField] = {}
        for meta in manifests:
            for f in self.schema(meta).fields:
                fields.setdefault(f.name, f)
        return (self.spark.read.schema(T.StructType(list(fields.values())))
                .parquet(*[os.path.join(self.dir, f"v{meta['version']}")
                           for meta in manifests]))

    def read_chain(self, version: int | None = None) -> DataFrame:
        """Append-mode read: the UNION of delta snapshots since (and
        including) the last 'full' snapshot ≤ version. Used for
        append-only tables (the seen set) so each round commits only its
        delta instead of rewriting history — the Iceberg append analog;
        compaction (`compact_chain`) bounds the chain length."""
        return self.scan(self.chain(version))

    @staticmethod
    def base_round(live: list[dict]) -> int:
        """Round of the 'full' snapshot the chain `live` (as `chain`
        returns it) is based on (-1 when it starts from empty) — lets a
        reader subtract only the deltas that postdate the base (the
        frontier's merge-on-read bookkeeping)."""
        if live and live[0].get("kind") == "full":
            return live[0]["round"]
        return -1

    def compact_chain(self, round_no: int,
                      repartition: tuple | None = None) -> int:
        """Rewrite the live chain into one 'full' snapshot — the Iceberg
        rewrite-data-files maintenance analog. Older versions stay
        readable for time travel; read_chain afterwards reads one
        snapshot until new deltas accumulate."""
        return self.commit(self.read_chain(), round_no, kind="full",
                           repartition=repartition)

    def exists(self) -> bool:
        return self.latest_version() is not None

    # -- maintenance (Iceberg expire_snapshots / remove_orphan_files) -------

    def expire_snapshots(self, keep_last: int,
                         older_than_s: float = 0.0) -> list[int]:
        """Drop manifests + data of versions outside the retention
        window — the Iceberg `expire_snapshots` analog. The retained set
        is CLOSED over append chains: for every retained version v, its
        chain base (last 'full' ≤ v) and all deltas in [base, v] survive,
        so `read_chain(v)` never silently loses rows. Consequence
        (matching Iceberg's files-referenced-by-live-snapshots rule): an
        append chain that was never compacted cannot be expired — run
        `compact_chain` first, then expiration reclaims the pre-base
        history. Expired versions stop being time-travelable (`read`
        raises). The latest version is never expired. Returns the
        versions removed."""
        vs = self.versions()
        if not vs or keep_last < 1:
            return []
        # the retained versions are the newest keep_last, so the chain of
        # the oldest one reaches every base the others need
        kept = vs[-keep_last:]
        keep = set(kept) | {meta["version"] for meta in self.chain(kept[0])}
        now = time.time()
        expired = []
        for v in vs:
            if v in keep:
                continue
            if now - self.meta(v).get("committed_at", 0.0) < older_than_s:
                continue
            os.remove(os.path.join(self.snap_dir, f"v{v}.json"))
            p = os.path.join(self.dir, f"v{v}")
            if os.path.isdir(p):
                shutil.rmtree(p)
            expired.append(v)
        return expired

    def remove_orphans(self, older_than_s: float = 0.0) -> list[str]:
        """Delete `v{N}` data directories that have no manifest — the
        leftovers of a commit that crashed between the parquet write and
        the manifest rename (commit's crash contract). `older_than_s`
        guards a CONCURRENT in-flight commit's directory (Iceberg's
        `older_than` on remove_orphan_files); the engine's single-writer
        rounds can use 0."""
        have = set(self.versions())
        removed = []
        for n in sorted(os.listdir(self.dir)):
            if not (n.startswith("v") and n[1:].isdigit()):
                continue
            p = os.path.join(self.dir, n)
            if int(n[1:]) in have or not os.path.isdir(p):
                continue
            if time.time() - os.path.getmtime(p) < older_than_s:
                continue
            shutil.rmtree(p)
            removed.append(n)
        # stale version CLAIMS (crashed between claim and manifest):
        # same age guard; a claim whose manifest landed was already
        # unlinked by commit, so any survivor here is an orphan
        for n in sorted(os.listdir(self.snap_dir)):
            if not n.startswith(".claim.v"):
                continue
            p = os.path.join(self.snap_dir, n)
            if int(n[len(".claim.v"):]) in have:
                continue
            if time.time() - os.path.getmtime(p) < older_than_s:
                continue
            os.unlink(p)
            removed.append(n)
        return removed

    def rollback_to(self, version: int) -> None:
        """Drop snapshots newer than `version` (crash-recovery helper)."""
        for v in self.versions():
            if v > version:
                os.remove(os.path.join(self.snap_dir, f"v{v}.json"))
                p = os.path.join(self.dir, f"v{v}")
                if os.path.isdir(p):
                    shutil.rmtree(p)


class SnapshotStore:
    """A directory of named snapshot tables + a round-level commit log.

    The round log (`_rounds/r{k}.json`) records which table versions
    belong to a completed scheduling round — the unit of resumability.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.rounds_dir = os.path.join(root, "_rounds")
        os.makedirs(self.rounds_dir, exist_ok=True)
        self._tables: dict[str, SnapshotTable] = {}

    def table(self, name: str) -> SnapshotTable:
        if name not in self._tables:
            self._tables[name] = SnapshotTable(self.spark, self.root, name)
        return self._tables[name]

    def commit_round(self, round_no: int, table_versions: dict[str, int],
                     metrics: dict, batch_id: int | None = None) -> None:
        """batch_id: the streaming micro-batch that produced this round
        (None for batch-mode rounds) — recorded so a redelivered batch
        after a crash can be recognized and skipped idempotently."""
        tmp = os.path.join(self.rounds_dir, f".r{round_no}.json.tmp")
        with open(tmp, "w") as fh:
            json.dump({"round": round_no, "tables": table_versions,
                       "metrics": metrics, "batch_id": batch_id,
                       "committed_at": time.time()}, fh, indent=1)
        os.rename(tmp, os.path.join(self.rounds_dir, f"r{round_no}.json"))

    def last_round(self) -> dict | None:
        rounds = sorted(
            int(f[1:-5]) for f in os.listdir(self.rounds_dir)
            if f.startswith("r") and f.endswith(".json"))
        if not rounds:
            return None
        with open(os.path.join(self.rounds_dir, f"r{rounds[-1]}.json")) as fh:
            return json.load(fh)

    def round_metrics(self) -> list[dict]:
        out = []
        for f in sorted(os.listdir(self.rounds_dir)):
            if f.startswith("r") and f.endswith(".json"):
                with open(os.path.join(self.rounds_dir, f)) as fh:
                    out.append(json.load(fh))
        return [r["metrics"] for r in sorted(out, key=lambda r: r["round"])]

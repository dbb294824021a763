"""Snapshot log for the parquet fallback: time travel, compaction,
and snapshot expiry WITHOUT an Iceberg catalog.

Where the Iceberg jar is on the classpath, LakeTable gets snapshots /
`VERSION AS OF` / `expire_snapshots` from Iceberg metadata for free
(ref IcebergMetadataWriter.kt commits; iceberg-maintenance.ts VACUUM
cadence). This module gives the SAME contract to the parquet fallback,
so the maintenance operators (M1/M2/M3 analogs) are executable — not
just SQL-emitted — in catalogs-less environments:

  - every write lands in a fresh immutable directory `d<id>/`,
  - a manifest `_snapshots/<id>.json` records the LIVE directory set
    after the operation (append = parent dirs + new; overwrite /
    compact = just the new dir),
  - reads resolve a manifest (latest or `at_snapshot`) and scan only
    its directories — time travel is manifest selection,
  - expiry deletes manifests beyond the retention and any directory
    no retained manifest references (the orphan-file sweep VACUUM
    performs).

All filesystem access goes through the Hadoop FS API, so the layout
works on any scheme the cluster can reach, not just the driver's local
disk (same rule as streaming/rollup.py's markers).

Concurrency: commits are OPTIMISTIC — data lands once in a
write-once uniquely-named directory, then the manifest is published
via create-if-absent (the CAS primitive: `fs.create(path,
overwrite=False)`); a loser re-reads the new latest, recomputes its
live set (and, for compact/merge, its derived data) and retries with
the next id. This is Iceberg's commit protocol shape
(ref IcebergMetadataWriter.kt:271-302 — Iceberg commit + DDB
conditional put). Atomic create-no-overwrite holds on HDFS and local
filesystems; raw S3 needs conditional PUTs or a catalog in front —
the same caveat Iceberg documents.
"""

from __future__ import annotations

import json
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from matano_spark import hadoop_fs
from matano_spark.lake import write_hours


class SnapshotLakeTable:
    def __init__(
        self, spark: SparkSession, name: str, path: str, ts_col: str = "ts"
    ):
        self.spark = spark
        self.name = name
        self.path = path.rstrip("/")
        self.ts_col = ts_col

    # -- manifest I/O --------------------------------------------------
    def _manifest_dir(self) -> str:
        return f"{self.path}/_snapshots"

    def snapshots(self) -> list[dict]:
        """All retained manifests, oldest first."""
        fs, p = hadoop_fs.fs_path(self.spark, self._manifest_dir())
        if not fs.exists(p):
            return []
        out = []
        for st in fs.listStatus(p):
            if not st.getPath().getName().endswith(".json"):
                continue
            text = hadoop_fs.read_text(self.spark, st.getPath().toString())
            if text is not None:  # expired between listing and read
                out.append(json.loads(text))
        return sorted(out, key=lambda m: m["id"])

    def _try_commit(self, manifest: dict) -> bool:
        """CAS publish: create-if-absent of `_snapshots/<id>.json`.
        Returns False when another writer already took this id."""
        p = f"{self._manifest_dir()}/{manifest['id']}.json"
        if hadoop_fs.exists(self.spark, p):
            return False
        try:
            # atomic create-no-overwrite
            hadoop_fs.write_text(self.spark, p, json.dumps(manifest), overwrite=False)
        except Exception:
            if hadoop_fs.exists(self.spark, p):  # lost the race inside the window
                return False
            raise
        return True

    MAX_COMMIT_RETRIES = 20

    def _commit_retry(self, attempt) -> dict | None:
        """Run `attempt(prev_manifest) -> manifest | None` against the
        current latest until the CAS publish wins; returns the
        committed manifest (None if `attempt` resolved without one).
        A loser's attempt runs again against the NEW latest, so derived
        ops (compact, merge) recompute from the winner's state — no
        lost updates."""
        for _ in range(self.MAX_COMMIT_RETRIES):
            m = attempt(self._latest())
            if m is None:
                return None
            if self._try_commit(m):
                return m
        raise RuntimeError(
            f"snapshot commit on {self.path} lost {self.MAX_COMMIT_RETRIES} "
            "CAS races — livelock or misconfigured shared writer set"
        )

    def _latest(self) -> dict | None:
        snaps = self.snapshots()
        return snaps[-1] if snaps else None

    # -- writes --------------------------------------------------------
    def _land(self, df: DataFrame, d: str) -> str:
        target = f"{self.path}/{d}"
        if self.ts_col in df.columns or "ts_hour" in df.columns:
            write_hours(df, target, "overwrite", self.ts_col)
        else:  # a table without event time is not hour-partitioned
            df.write.mode("overwrite").parquet(target)
        return d

    @staticmethod
    def _token_dir() -> str:
        # write-once data dir: named by a random token, never reused,
        # so a CAS loser's landed data never collides with the winner's
        return f"d{uuid.uuid4().hex[:10]}"

    def append(self, df: DataFrame) -> int:
        d = self._land(df, self._token_dir())  # land once, commit many

        def attempt(prev):
            return {
                "id": (prev["id"] if prev else -1) + 1,
                "parent": prev["id"] if prev else None,
                "dirs": sorted((prev["dirs"] if prev else []) + [d]),
                "op": "append",
            }

        return self._commit_retry(attempt)["id"]

    def overwrite(self, df: DataFrame) -> int:
        d = self._land(df, self._token_dir())

        def attempt(prev):
            return {
                "id": (prev["id"] if prev else -1) + 1,
                "parent": prev["id"] if prev else None,
                "dirs": [d],
                "op": "overwrite",
            }

        return self._commit_retry(attempt)["id"]

    def commit_epoch(self, df: DataFrame, epoch_id: int) -> int:
        """Streaming-sink commit: one snapshot per micro-batch,
        idempotent under checkpoint replay.

        The data directory is named by the EPOCH (`e<epoch>`), so a
        replay re-lands identical bytes into the same directory; the
        manifest id comes from the table's monotonic snapshot counter
        and records the epoch it belongs to. This keeps streaming
        commits and maintenance snapshots (compact/overwrite/merge,
        which allocate latest+1) in ONE id space — a compact() between
        micro-batches can no longer be overwritten or filtered out by
        the next epoch (the r4 epoch-id/snapshot-id collision)."""
        d = self._land(df, f"e{epoch_id}")  # epoch-stable: replay re-lands
        done: dict = {}

        def attempt(prev):
            existing = [
                m for m in self.snapshots() if m.get("epoch") == epoch_id
            ]
            if existing:
                # Replay: the data dir was re-landed (identical
                # content); the original manifest IS the commit.
                done["id"] = existing[-1]["id"]
                return None
            return {
                "id": (prev["id"] if prev else -1) + 1,
                "parent": prev["id"] if prev else None,
                "dirs": sorted((prev["dirs"] if prev else []) + [d]),
                "op": "append",
                "epoch": epoch_id,
            }

        m = self._commit_retry(attempt)
        return m["id"] if m else done["id"]

    def compact(self) -> int:
        """BIN_PACK analog (M1/M3): rewrite the live directory set into
        ONE directory and commit a snapshot referencing only it. Old
        directories stay on disk for time travel until expiry. On a CAS
        loss the rewrite recomputes from the winner's snapshot, so a
        concurrent append is never dropped."""
        done: dict = {}

        def attempt(prev):
            if prev is None or len(prev["dirs"]) <= 1:
                done["id"] = prev["id"] if prev else -1
                return None
            data = self.read(at_snapshot=prev["id"])
            d = self._land(data, self._token_dir())
            return {
                "id": prev["id"] + 1,
                "parent": prev["id"],
                "dirs": [d],
                "op": "compact",
            }

        m = self._commit_retry(attempt)
        return m["id"] if m else done["id"]

    def merge_by_key(self, df: DataFrame, key_cols: list[str]) -> int:
        """MERGE INTO analog with history: latest-wins upsert committed
        as a fresh snapshot — the pre-merge state stays time-travelable
        until expiry (Iceberg's copy-on-write MERGE behaves the same
        way at the snapshot level).

        Tiebreaker: when the INCOMING batch itself carries several rows
        for one key, `__gen` alone leaves the keeper partition-order-
        dependent; a stable content hash over the non-key columns makes
        the pick deterministic across runs (engine-portable-determinism
        convention).

        Concurrency: the merge is DERIVED from the basis snapshot it
        read, so the CAS commit pins the basis's successor id; a loser
        recomputes against the winner's state rather than publishing a
        merge of a stale table (lost-update prevention)."""
        from pyspark.sql import Window as W

        def attempt(prev):
            new = df.withColumn("__gen", F.lit(1))
            if prev is not None:
                old = self.read(at_snapshot=prev["id"]).withColumn(
                    "__gen", F.lit(0)
                )
                if "ts_hour" in old.columns and "ts_hour" not in new.columns:
                    old = old.drop("ts_hour")
                merged = old.unionByName(new, allowMissingColumns=True)
            else:
                merged = new
            payload = [
                c for c in merged.columns if c not in (*key_cols, "__gen")
            ]
            w = W.partitionBy(*key_cols).orderBy(
                F.desc("__gen"), F.xxhash64(*payload) if payload else F.lit(0)
            )
            latest = (
                merged.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn", "__gen")
            )
            d = self._land(latest, self._token_dir())
            return {
                "id": (prev["id"] if prev else -1) + 1,
                "parent": prev["id"] if prev else None,
                "dirs": [d],
                "op": "overwrite",
            }

        return self._commit_retry(attempt)["id"]

    # -- reads ---------------------------------------------------------
    def read(self, at_snapshot: int | None = None) -> DataFrame:
        """Scan the directory set of one manifest (latest by default) —
        `VERSION AS OF` is just manifest selection."""
        snaps = self.snapshots()
        if not snaps:
            raise FileNotFoundError(f"no snapshots at {self.path}")
        if at_snapshot is None:
            m = snaps[-1]
        else:
            match = [s for s in snaps if s["id"] == at_snapshot]
            if not match:
                raise KeyError(
                    f"snapshot {at_snapshot} expired or never existed "
                    f"(retained: {[s['id'] for s in snaps]})"
                )
            m = match[0]
        # One scan per manifest directory, unioned — the same shape as
        # Iceberg planning a scan from its manifest list; per-dir scans
        # also keep schema evolution safe (allowMissingColumns).
        dfs = [
            self.spark.read.parquet(f"{self.path}/{d}") for d in m["dirs"]
        ]
        out = dfs[0]
        for df in dfs[1:]:
            out = out.unionByName(df, allowMissingColumns=True)
        return out

    # -- maintenance ---------------------------------------------------
    def expire_snapshots(self, keep_last: int = 1) -> dict:
        """M2 analog (VACUUM / expire_snapshots): drop manifests beyond
        the retention, then delete any data directory no retained
        manifest references — the orphan sweep that actually frees
        storage after overwrites/compactions."""
        snaps = self.snapshots()
        keep = snaps[-keep_last:] if keep_last > 0 else []
        drop = snaps[: len(snaps) - len(keep)]
        live_dirs = {d for m in keep for d in m["dirs"]}
        for m in drop:
            hadoop_fs.delete(
                self.spark, f"{self._manifest_dir()}/{m['id']}.json", False
            )
        removed_dirs = []
        fs, root = hadoop_fs.fs_path(self.spark, self.path)
        for st in fs.listStatus(root):
            nm = st.getPath().getName()
            if (
                st.isDirectory()
                and not nm.startswith("_")
                and nm not in live_dirs
            ):
                fs.delete(st.getPath(), True)
                removed_dirs.append(nm)
        return {
            "expired_snapshots": [m["id"] for m in drop],
            "removed_dirs": sorted(removed_dirs),
            "retained": [m["id"] for m in keep],
        }

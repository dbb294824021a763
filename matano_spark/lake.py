"""Lake table: one API over Iceberg (when the runtime jar is on the
classpath) and a snapshot-manifest table on plain parquet (otherwise).
Pipeline code writes through `LakeTable` and never cares which backend
landed the rows.

Iceberg path (ref: MatanoIcebergTableCustomResource.kt table creation,
IcebergMetadataWriter.kt commits): `df.writeTo(t).append()`, `MERGE
INTO` for upserts, `CALL ...` procedures for maintenance — see
operators.maintenance and schema.ddl for the statements.

Parquet path: the same commit contract without a catalog.
  - Data files live under `<root>/ts_hour=yyyy-MM-dd-HH/` (the
    reference's partition path, transformer/src/main.rs:961-965), or
    directly under `<root>` for a table without event time.
  - A write lands in a hidden `_staging/<token>/`, its files move under
    the root with commit-unique names, and then a manifest
    `_snapshots/<id>.json` is published listing the table's live files,
    its schema and the last streaming batch committed per stream.
  - Publishing is create-if-absent of the next id (the CAS primitive).
    A loser re-reads the new latest manifest and rebuilds its commit on
    it: an append re-lists its files, a compaction or merge recomputes
    from the winner's rows. This is Iceberg's commit protocol shape
    (ref IcebergMetadataWriter.kt:271-302, an Iceberg commit plus a
    DynamoDB conditional put). Create-no-overwrite is atomic on HDFS
    and local filesystems; raw S3 needs conditional PUTs or a catalog.
  - A streaming batch commits with `epoch=(stream id, batch id)`; a
    replayed batch the table already holds lands nothing, so a retried
    micro-batch lands its rows once.

The table's contents are what `read` returns: the files of one manifest
(the latest, or `at_snapshot` for time travel). A raw directory read of
the root equals it only while the table is append-only, because files
superseded by `overwrite`, `merge_by_key` or `compact` stay on disk
until `expire_snapshots` deletes them. `read` scans the root with the
manifest's schema and a `pathGlobFilter` naming the listed files, which
Spark applies to file names while it lists the root: no
schema-inference job, no listing job for explicit paths, no per-row
filter, and hour filters still reach the scan as partition filters.
Matching a file name against the glob costs time linear in the number
of live files, so a table is best compacted before it holds thousands.

File layout: every hour-partitioned write goes through `write_hours`,
which lands ONE file per hour partition per commit — the reference's
one Parquet file per (table, ts_hour) per batch (SURVEY.md S13). An
hour larger than AQE's advisory partition size
(`spark.sql.adaptive.advisoryPartitionSizeInBytes`) is split into
several files of about that size.
"""

from __future__ import annotations

import json
import time
import uuid
from typing import Callable

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from matano_spark import hadoop_fs
from matano_spark.operators.maintenance import iceberg_available
from matano_spark.schema.ddl import create_table_ddl

TS_HOUR_FMT = "yyyy-MM-dd-HH"


def ts_hour_utc(col: F.Column | str) -> F.Column:
    """UTC-pinned hour-partition key (ref: partition path derives from
    the event time's UTC hour, IcebergMetadataWriter.kt:60-65 /
    transformer/src/main.rs:961-965). `date_format` alone renders in
    the SESSION timezone — a job launched under a non-UTC session would
    scatter the same instants into different partitions. to_utc_timestamp
    against the current session zone pins rendering to UTC regardless."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(
        F.to_utc_timestamp(c, F.current_timezone()), TS_HOUR_FMT
    )


def with_ts_hour(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """`df` with its UTC hour key; a `ts_hour` already present is kept."""
    if "ts_hour" in df.columns:
        return df
    return df.withColumn("ts_hour", ts_hour_utc(ts_col))


def write_hours(
    df: DataFrame,
    path: str,
    mode: str = "append",
    ts_col: str = "ts",
    replace_hours: bool = False,
) -> None:
    """Write `df` partitioned by `ts_hour`, one file per hour partition.

    The rebalance hint shuffles rows by hour before the write. AQE then
    coalesces a small commit's hours into few tasks, each writing one
    file per hour it holds, and splits an hour above the advisory
    partition size into several tasks (several files). With
    `replace_hours`, an overwrite replaces only the hour partitions
    present in `df` (dynamic partition overwrite)."""
    writer = with_ts_hour(df, ts_col).hint("rebalance", "ts_hour").write.mode(mode)
    if replace_hours:
        writer = writer.option("partitionOverwriteMode", "dynamic")
    writer.partitionBy("ts_hour").parquet(path)


def _union_schema(old: T.StructType, new: T.StructType) -> T.StructType:
    """`old` plus the fields of `new` it lacks: a later append may add
    columns, and files written before it read them as nulls."""
    return T.StructType(
        list(old.fields) + [f for f in new.fields if f.name not in old.names]
    )


class LakeTable:
    MAX_COMMIT_RETRIES = 20
    # Iceberg's remove_orphan_files default (older_than: 3 days)
    ORPHAN_AGE_S = 3 * 24 * 3600

    def __init__(
        self,
        spark: SparkSession,
        name: str,
        path: str,
        ts_col: str = "ts",
        use_iceberg: bool | None = None,
    ):
        self.spark = spark
        self.name = name
        self.path = path.rstrip("/")
        self.ts_col = ts_col
        self.iceberg = (
            iceberg_available(spark) if use_iceberg is None else use_iceberg
        )
        # the latest manifest this instance read or committed: manifests
        # never change, so it stands until a later id appears
        self._latest: dict | None = None

    # -- DDL ----------------------------------------------------------
    def ddl(self, schema) -> str:
        return create_table_ddl(self.name, schema)

    # -- manifests ----------------------------------------------------
    def _manifest_path(self, snapshot_id: int) -> str:
        return f"{self.path}/_snapshots/{snapshot_id}.json"

    def snapshot_ids(self) -> list[int]:
        """Retained snapshot ids, oldest first, read from the manifest
        file names alone."""
        names = (
            p.rsplit("/", 1)[-1]
            for p in hadoop_fs.glob(self.spark, f"{self.path}/_snapshots/*.json")
        )
        return sorted(int(n[:-5]) for n in names if n[:-5].isdigit())

    def snapshot(self, snapshot_id: int | None = None) -> dict | None:
        """The manifest of `snapshot_id` (the latest by default; None
        when the table has no commit). Raises KeyError for an expired or
        unknown id."""
        latest = snapshot_id is None
        if latest:
            ids = self.snapshot_ids()
            if not ids:
                return None
            snapshot_id = ids[-1]
            if self._latest is not None and self._latest["id"] == snapshot_id:
                return self._latest
        for _ in range(100):
            text = hadoop_fs.read_text(self.spark, self._manifest_path(snapshot_id))
            if text is None:
                raise KeyError(
                    f"snapshot {snapshot_id} of {self.path} expired or never existed"
                )
            try:
                manifest = json.loads(text)
            except ValueError:  # its writer is still writing it
                time.sleep(0.01)
                continue
            if latest:
                self._latest = manifest
            return manifest
        raise RuntimeError(f"manifest {snapshot_id} of {self.path} stays unreadable")

    def _try_commit(self, manifest: dict) -> bool:
        """CAS publish: create-if-absent of `_snapshots/<id>.json`.
        Returns False when another writer already took this id."""
        p = self._manifest_path(manifest["id"])
        try:
            hadoop_fs.write_text(self.spark, p, json.dumps(manifest), overwrite=False)
        except Py4JJavaError:
            if hadoop_fs.exists(self.spark, p):  # lost the race
                return False
            raise
        return True

    def _commit(
        self,
        op: str,
        build: Callable[[dict | None], dict | None],
        epoch: tuple[str, int] | None = None,
    ) -> int | None:
        """Publish the snapshot `build(latest)` describes ({"files",
        "schema"}) as the latest's successor, rebuilding on the new
        latest after each lost race. Returns the committed id, or the
        latest id unchanged when `build` returns None."""
        for _ in range(self.MAX_COMMIT_RETRIES):
            prev = self.snapshot()
            made = build(prev)
            if made is None:
                return prev and prev["id"]
            epochs = dict(prev["epochs"]) if prev else {}
            if epoch is not None:
                epochs[epoch[0]] = epoch[1]
            manifest = {
                "id": prev["id"] + 1 if prev else 0,
                "parent": prev and prev["id"],
                "op": op,
                "files": sorted(made["files"]),
                "schema": made["schema"].jsonValue(),
                "epochs": epochs,
            }
            if self._try_commit(manifest):
                self._latest = manifest
                return manifest["id"]
        raise RuntimeError(
            f"snapshot commit on {self.path} lost {self.MAX_COMMIT_RETRIES} "
            "CAS races — livelock or misconfigured shared writer set"
        )

    # -- writes -------------------------------------------------------
    def _land(self, df: DataFrame) -> dict:
        """Write `df` into a staging directory and move its data files
        under the root with commit-unique names. Returns the new files
        (paths relative to the root) and the schema they were written
        with."""
        token = uuid.uuid4().hex
        staging = f"{self.path}/_staging/{token}"
        if self.ts_col in df.columns or "ts_hour" in df.columns:
            df = with_ts_hour(df, self.ts_col)
            write_hours(df, staging, "overwrite")
        else:  # a table without event time is not hour-partitioned
            df.write.mode("overwrite").parquet(staging)
        files = []
        for i, (src, rel) in enumerate(self._data_files(staging)):
            hour = rel.rsplit("/", 1)[0] + "/" if "/" in rel else ""
            files.append(f"{hour}{token}-{i:05d}.parquet")
            hadoop_fs.rename(self.spark, src, f"{self.path}/{files[-1]}")
        hadoop_fs.delete(self.spark, staging)
        return {"files": files, "schema": df.schema}

    def _data_files(self, root: str) -> list[tuple[str, str]]:
        """(path, path relative to `root`) of each parquet file directly
        under `root` or under one of its `ts_hour=` directories."""
        out = []
        for p in hadoop_fs.glob(self.spark, f"{root}/{{*,ts_hour=*/*}}.parquet"):
            parent, name = p.rsplit("/", 2)[1:]
            out.append((p, f"{parent}/{name}" if parent.startswith("ts_hour=") else name))
        return out

    def append(
        self, df: DataFrame, epoch: tuple[str, int] | None = None
    ) -> int | None:
        """Append `df` as one snapshot and return its id.

        `epoch` = (stream id, batch id) makes the commit idempotent per
        streaming batch: a batch at or below the last one the table
        committed for that stream lands nothing and returns None. The
        Iceberg branch does not track epochs and returns None."""
        if self.iceberg:
            df.writeTo(self.name).append()
            return None
        if epoch is not None:
            prev = self.snapshot()
            if prev and prev["epochs"].get(epoch[0], -1) >= epoch[1]:
                return None
        new = self._land(df)

        def build(prev):
            if prev is None:
                return new
            return {
                "files": prev["files"] + new["files"],
                "schema": _union_schema(
                    T.StructType.fromJson(prev["schema"]), new["schema"]
                ),
            }

        return self._commit("append", build, epoch)

    def overwrite(self, df: DataFrame) -> int | None:
        """Replace the whole table with `df`."""
        if self.iceberg:
            df.writeTo(self.name).overwrite(F.lit(True))
            return None
        new = self._land(df)
        return self._commit("overwrite", lambda prev: new)

    def merge_by_key(self, df: DataFrame, key_cols: list[str]) -> int | None:
        """Upsert: MERGE INTO on Iceberg; on parquet a latest-wins
        rewrite committed as a fresh snapshot, so the pre-merge state
        stays readable until expiry (Iceberg's copy-on-write MERGE).

        When the incoming batch holds several rows for one key, a hash
        of the non-key columns picks the keeper, the same one on every
        run. The merge is derived from the snapshot it read; after a
        lost race it is recomputed from the winner's rows, so a
        concurrent commit is never dropped."""
        if self.iceberg:
            view = f"__merge_src_{self.name.replace('.', '_')}"
            df.createOrReplaceTempView(view)
            on = " AND ".join(f"t.{k} = s.{k}" for k in key_cols)
            self.spark.sql(
                f"MERGE INTO {self.name} t USING {view} s ON {on} "
                "WHEN MATCHED THEN UPDATE SET * "
                "WHEN NOT MATCHED THEN INSERT *"
            )
            return None

        def build(prev):
            merged = df.withColumn("__gen", F.lit(1))
            if prev is not None:
                old = self._scan(prev).withColumn("__gen", F.lit(0))
                if "ts_hour" not in df.columns:
                    old = old.drop("ts_hour")
                merged = old.unionByName(merged, allowMissingColumns=True)
            payload = [c for c in merged.columns if c not in (*key_cols, "__gen")]
            w = W.partitionBy(*key_cols).orderBy(
                F.desc("__gen"), F.xxhash64(*payload) if payload else F.lit(0)
            )
            return self._land(
                merged.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn", "__gen")
            )

        return self._commit("merge", build)

    # -- reads --------------------------------------------------------
    def _scan(self, manifest: dict, schema: T.StructType | None = None) -> DataFrame:
        if schema is None:
            schema = T.StructType.fromJson(manifest["schema"])
        elif "ts_hour" not in schema.names and any(
            f["name"] == "ts_hour" for f in manifest["schema"]["fields"]
        ):
            schema = T.StructType(
                list(schema.fields) + [T.StructField("ts_hour", T.StringType())]
            )
        live = ",".join(f.rsplit("/", 1)[-1] for f in manifest["files"])
        return (
            self.spark.read.schema(schema)
            .option("pathGlobFilter", f"{{{live}}}")
            .parquet(self.path)
        )

    def read(self, schema=None, at_snapshot: int | None = None) -> DataFrame:
        """The table as of the latest snapshot, or of `at_snapshot`.

        Without `schema`, the parquet path reads with the schema its
        manifest records. Pass the RESOLVED table schema to read with
        it instead: files written before a pack upgrade declared a new
        field yield typed nulls for it — the evolution semantics
        Iceberg provides from its own metadata."""
        if self.iceberg:
            if at_snapshot is not None:
                raise ValueError("at_snapshot reads the parquet path's manifests")
            return self.spark.read.table(self.name)
        m = self.snapshot(at_snapshot)
        if m is None:
            raise FileNotFoundError(f"no snapshot at {self.path}")
        return self._scan(m, schema)

    def read_hours(
        self, start_hour: str, end_hour: str, schema=None
    ) -> DataFrame:
        """Partition-pruned read over [start_hour, end_hour] — the
        'last day of partitions' alert-state scan shape
        (matano_alerts.rs:578-601)."""
        df = self.read(schema)
        return df.filter(
            (F.col("ts_hour") >= start_hour) & (F.col("ts_hour") <= end_hour)
        )

    # -- maintenance (parquet path; Iceberg runs maintenance_sql) ------
    def compact(self) -> int | None:
        """BIN_PACK (M1/M3): rewrite the live files into one file per
        hour partition (one file for a table without event time, each
        split at AQE's advisory size) and commit a snapshot listing only
        those. The old files stay readable by time travel until expiry.
        Returns the latest id; a table already at one file per
        partition is left as it is."""

        def build(prev):
            if prev is None:
                return None
            parts = {f.rsplit("/", 1)[0] if "/" in f else "" for f in prev["files"]}
            if len(prev["files"]) <= len(parts):
                return None
            data = self._scan(prev)
            if "ts_hour" not in data.columns:
                data = data.hint("rebalance")
            return self._land(data)

        return self._commit("compact", build)

    def expire_snapshots(self, keep_last: int = 1) -> dict:
        """M2 (VACUUM / expire_snapshots): drop the manifests beyond the
        `keep_last` latest (the latest always stays, as in Iceberg) and
        delete the data files only they listed — the files overwrites,
        merges and compactions superseded.

        A file no manifest lists belongs to a commit in flight, or to a
        writer that died between moving its files and publishing; it is
        deleted, as is a staging directory, only once it is older than
        ORPHAN_AGE_S, so a concurrent append keeps its rows."""
        ids = self.snapshot_ids()
        keep = ids[-max(keep_last, 1):]
        drop = ids[: len(ids) - len(keep)]
        live = {f for sid in keep for f in self.snapshot(sid)["files"]}
        expired = {f for sid in drop for f in self.snapshot(sid)["files"]} - live
        for sid in drop:
            hadoop_fs.delete(self.spark, self._manifest_path(sid), False)
        cutoff = time.time() - self.ORPHAN_AGE_S
        removed = []
        for p, rel in self._data_files(self.path):
            if rel in expired or (
                rel not in live and hadoop_fs.modified(self.spark, p) < cutoff
            ):
                hadoop_fs.delete(self.spark, p, False)
                removed.append(rel)
        for p in hadoop_fs.glob(self.spark, f"{self.path}/_staging/*"):
            if hadoop_fs.modified(self.spark, p) < cutoff:
                hadoop_fs.delete(self.spark, p)
        return {
            "expired_snapshots": drop,
            "removed_files": sorted(removed),
            "retained": keep,
        }

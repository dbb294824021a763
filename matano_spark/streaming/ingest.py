"""Streaming ingestion: raw log files → transformed, hour-partitioned
lake table + quarantine channel.

Reference pipeline (SURVEY.md §3.1): S3 event → route → decompress →
frame lines → VRL transform → Avro → Parquet → Iceberg commit, across
4 Lambdas. Here: one `readStream` file source → transform pipeline →
`foreachBatch` writing partitioned parquet — checkpointed, exactly-once
per input file (S16; the file-source log replaces the DynamoDB
sequencer markers).

Error sidelining (S17, ref transformer/src/main.rs:1433-1494): the
JSON reader runs PERMISSIVE with a corrupt-record column; rows that
fail parsing are appended to a quarantine directory keyed by
(log_source, error_kind) so rows_in == rows_out + sidelined always
holds. Iceberg note: where the iceberg runtime jar is on the
classpath, `_write_batch` swaps the parquet append for
`df.writeTo(table).append()` — the pipeline code is unchanged
(tables.py abstraction); this container has no iceberg jar, so the
parquet path is the tested one.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from matano_spark.lake import write_hours

CORRUPT_COL = "_corrupt_record"


def read_json_stream(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """JSON-lines file source with corrupt-record capture (S1+S3).

    The schema is declared, never inferred (SURVEY §1.3: schemas are
    resolved at build time; inference is not the production path).
    """
    # StructType.add mutates the receiver — build a fresh schema.
    full = T.StructType(
        list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())]
    )
    reader = (
        spark.readStream.format("json")
        .schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(source_dir)


def run_ingest(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    pipeline: Callable[[DataFrame], DataFrame],
    out_dir: str,
    checkpoint_dir: str,
    quarantine_dir: str,
    log_source: str = "default",
    ts_col: str = "ts",
):
    """Start (availableNow) the ingest job; returns the query handle.

    Each micro-batch:
      1. split corrupt rows → quarantine (grouped by error kind)
      2. transform good rows with the compiled pipeline
      3. append to the lake partitioned by the UTC ts_hour (W1 hidden
         partition analog, ref IcebergMetadataWriter.kt:60-65)
    """
    stream = read_json_stream(spark, source_dir, schema)

    def write_batch(batch: DataFrame, epoch_id: int) -> None:
        batch = batch.persist()
        try:
            bad = batch.filter(F.col(CORRUPT_COL).isNotNull())
            good = batch.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
            n_bad = bad.count()
            if n_bad:
                (
                    bad.select(
                        F.lit(log_source).alias("log_source"),
                        F.lit("parse_error").alias("error_kind"),
                        F.col(CORRUPT_COL).alias("raw"),
                        F.lit(epoch_id).alias("epoch_id"),
                    ).write.mode("append").parquet(quarantine_dir)
                )
            write_hours(pipeline(good), out_dir, ts_col=ts_col)
        finally:
            batch.unpersist()

    return (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def ingest_counts(spark: SparkSession, out_dir: str, quarantine_dir: str):
    """Conservation check (ref matano_log row accounting,
    transformer/src/main.rs:1119-1158): rows written + sidelined."""
    from pyspark.errors import AnalysisException

    def _count(path: str) -> int:
        try:  # Spark-reader probe: path may be object storage
            return spark.read.parquet(path).count()
        except AnalysisException:
            return 0

    return _count(out_dir), _count(quarantine_dir)


def run_ingest_snapshots(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    pipeline: Callable[[DataFrame], DataFrame],
    table_path: str,
    checkpoint_dir: str,
    quarantine_dir: str,
    table_name: str = "default",
    ts_col: str = "ts",
):
    """run_ingest with a SNAPSHOT-LOG sink: each micro-batch commits
    one snapshot whose DATA DIRECTORY is named by the epoch id, so a
    checkpoint replay OVERWRITES the same directory and keeps the
    original manifest — idempotent end to end (the parquet-append sink
    can duplicate rows on replay-after-write-before-commit; this one
    cannot). Manifest ids come from the table's monotonic snapshot
    counter (shared with compact/overwrite/merge), so maintenance ops
    interleave safely between micro-batches. Every batch is also
    time-travelable: the manifest whose `epoch` field matches is the
    lake exactly as of that micro-batch — the Iceberg-commit-per-batch
    behavior (IcebergMetadataWriter.kt) on the fallback."""
    from matano_spark.lake_snapshots import SnapshotLakeTable

    table = SnapshotLakeTable(spark, table_name, table_path, ts_col=ts_col)
    stream = read_json_stream(spark, source_dir, schema)

    def write_batch(batch: DataFrame, epoch_id: int) -> None:
        batch = batch.persist()
        try:
            bad = batch.filter(F.col(CORRUPT_COL).isNotNull())
            good = batch.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
            if bad.count():
                (
                    bad.select(
                        F.lit(table_name).alias("log_source"),
                        F.lit("parse_error").alias("error_kind"),
                        F.col(CORRUPT_COL).alias("raw"),
                        F.lit(epoch_id).alias("epoch_id"),
                    ).write.mode("overwrite").parquet(
                        f"{quarantine_dir}/epoch={epoch_id}"
                    )
                )
            # idempotent replay: commit_epoch re-lands the epoch-named
            # dir and reuses the original manifest; maintenance
            # snapshots (compact etc.) interleave safely because the
            # manifest counter is shared, not the epoch id.
            table.commit_epoch(pipeline(good), epoch_id)
        finally:
            batch.unpersist()

    return (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )

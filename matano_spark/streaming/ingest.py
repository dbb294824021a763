"""Streaming ingestion: raw log files → transformed, hour-partitioned
lake table + quarantine channel.

Reference pipeline (SURVEY.md §3.1): S3 event → route → decompress →
frame lines → VRL transform → Avro → Parquet → Iceberg commit, across
4 Lambdas. Here: one `readStream` file source whose `foreachBatch`
calls `pipeline.land`, the landing body batch ingestion uses too. The
file-source log makes each input file exactly-once per checkpoint (S16;
it replaces the DynamoDB sequencer markers), and each micro-batch is
one snapshot of the `LakeTable` committed with the batch's epoch, so a
batch Spark replays after its write lands its rows once.

Error sidelining (S17, ref transformer/src/main.rs:1433-1494): the
JSON reader runs PERMISSIVE with a corrupt-record column; `land`
quarantines the lines it marks, so rows_in == rows_out + sidelined
always holds.

The lake's contents are what `LakeTable.read` returns. The table here
is append-only, so a plain parquet read of its directory returns the
same rows.
"""

from __future__ import annotations

import json
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from matano_spark import hadoop_fs
from matano_spark.lake import LakeTable
from matano_spark.pipeline import CORRUPT_COL, land


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

    Each micro-batch lands through `pipeline.land` into the LakeTable at
    `out_dir`, with the transform's output as the table schema and the
    epoch (stream id, batch id). The stream id is the query id the
    checkpoint records, so a fresh checkpoint starts new epochs instead
    of colliding with the old stream's."""
    table = LakeTable(spark, log_source, out_dir, ts_col=ts_col, use_iceberg=False)
    stream = read_json_stream(spark, source_dir, schema)

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        meta = hadoop_fs.read_text(spark, f"{checkpoint_dir}/metadata")
        epoch = (json.loads(meta)["id"], batch_id)
        land(batch, pipeline, None, table, quarantine_dir, log_source, epoch)

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

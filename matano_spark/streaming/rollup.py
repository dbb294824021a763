"""Continuous aggregate: a streaming-maintained hourly rollup level.

The batch cascade (operators.rollup.time_cascade) aggregates raw →
hour → day → month in one job. This module keeps the HOURLY level live
under a stream: each micro-batch folds its rows into per-(bucket, key)
partial sums and merges them into the level table; coarser resolutions
derive from the maintained level with `coarsen` — never from raw.

Merge cost per batch is O(touched day partitions), the same bounded
dynamic-overwrite shape as the alert sink (streaming/alerting.py):
a micro-batch only carries recent event times, so it touches a handful
of partitions no matter how much history the level holds.

The level stores float sums as scaled bigints (`__sv`) — partial sums
fold exactly across micro-batches, so a streamed level is bit-identical
to a batch recompute (asserted in tests/test_streaming_rollup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from matano_spark import hadoop_fs
from matano_spark.operators.rollup import SCALE


def _read_marker(spark, marker: str) -> int:
    """Last committed epoch, via the Hadoop FS API (works on any
    scheme the cluster can reach, not just the driver's local disk)."""
    try:
        return int((hadoop_fs.read_text(spark, marker) or "").strip())
    except ValueError:
        return -1


def _write_marker(spark, marker: str, epoch_id: int) -> None:
    hadoop_fs.write_text(spark, marker, str(epoch_id))


def _delta(batch: DataFrame, ts_col: str, key_cols: list[str], value_col: str):
    scaled = F.round(F.col(value_col) * F.lit(SCALE), 0).cast("bigint")
    return batch.groupBy(
        F.date_trunc("hour", F.col(ts_col)).alias("bucket"), *key_cols
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(scaled).alias("__sv"),
    )


def streaming_hourly_level(
    events: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    ts_col: str = "ts",
    key_cols: list[str] | None = None,
    value_col: str = "value",
):
    """Maintain the hourly rollup level under `events` (a streaming
    DataFrame). Returns the started query (availableNow trigger)."""
    key_cols = key_cols or []

    def merge_batch(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        # Replay guard: foreachBatch is at-least-once; an additive merge
        # must skip epochs it already committed. The marker lands AFTER
        # the overwrite, so the residual double-count window is only a
        # crash between the two writes — the same guarantee class as the
        # reference's DDB dedup marker (IcebergMetadataWriter.kt:307).
        marker = out_dir + "_meta/last_epoch"
        if epoch_id <= _read_marker(spark, marker):
            return
        # materialize once: the distinct-pday collect and the merge
        # below must not each re-run the micro-batch aggregation
        delta = (
            _delta(batch, ts_col, key_cols, value_col)
            .withColumn("pday", F.date_format("bucket", "yyyy-MM-dd"))
            .localCheckpoint(eager=True)
        )
        touched = [r.pday for r in delta.select("pday").distinct().collect()]
        if not touched:
            return
        from pyspark.errors import AnalysisException

        try:
            # probe via the Spark reader, not the driver's local
            # filesystem — out_dir may be object storage
            old = spark.read.parquet(out_dir).filter(F.col("pday").isin(touched))
            merged = old.unionByName(delta)
        except AnalysisException:  # PATH_NOT_FOUND on the first batch
            merged = delta
        level = merged.groupBy("bucket", *key_cols, "pday").agg(
            F.sum("n_events").alias("n_events"),
            F.sum("__sv").alias("__sv"),
        )
        level = level.localCheckpoint(eager=True)
        (
            level.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("pday")
            .parquet(out_dir)
        )
        _write_marker(spark, marker, epoch_id)

    return (
        events.writeStream.foreachBatch(merge_batch)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_level(spark, out_dir: str, key_cols: list[str] | None = None) -> DataFrame:
    """The maintained hourly level with user-facing measures."""
    key_cols = key_cols or []
    return spark.read.parquet(out_dir).select(
        "bucket",
        *key_cols,
        F.col("n_events").cast("bigint").alias("n_events"),
        (F.col("__sv").cast("double") / F.lit(SCALE)).alias("total_value"),
        F.col("__sv"),
    )


def coarsen(level: DataFrame, resolution: str, key_cols: list[str] | None = None) -> DataFrame:
    """Derive a coarser resolution from the maintained level (exact:
    folds the scaled-integer partials, never re-reads raw data)."""
    key_cols = key_cols or []
    return level.groupBy(
        F.date_trunc(resolution, F.col("bucket")).alias("bucket"), *key_cols
    ).agg(
        F.sum("n_events").cast("bigint").alias("n_events"),
        (F.sum("__sv").cast("double") / F.lit(SCALE)).alias("total_value"),
    )

"""Table maintenance (SURVEY.md §2.9 M1-M5).

On an Iceberg catalog these are the standard procedures (exactly what
the reference schedules hourly, iceberg-maintenance.ts:62-74,128-135):
    CALL <cat>.system.rewrite_data_files(table => t, strategy => 'binpack')
    CALL <cat>.system.expire_snapshots(table => t, older_than => ...)
    CALL <cat>.system.rewrite_manifests(table => t)
The CALLs run only where an Iceberg catalog is present. On the
parquet path, `lake.LakeTable.compact`
and `expire_snapshots` are the executable M1-M3: bin-pack compaction of
small files (the dominant cost driver at 100 TB: hour partitions
accumulate ~10MB realtime files, transformer/src/main.rs:1274) and the
orphan sweep after it."""

from __future__ import annotations

from pyspark.sql import SparkSession

from matano_spark.schema.ddl import flattened_view_sql


def iceberg_available(spark: SparkSession, catalog: str = "spark_catalog") -> bool:
    try:
        jvm = spark._jvm  # noqa: SLF001
        jvm.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:  # noqa: BLE001
        return False


def maintenance_sql(table: str, catalog: str = "catalog") -> list[str]:
    """The hourly maintenance batch for one table (M1-M3)."""
    return [
        f"CALL {catalog}.system.rewrite_data_files(table => '{table}', "
        f"strategy => 'binpack')",
        f"CALL {catalog}.system.expire_snapshots(table => '{table}', "
        f"older_than => TIMESTAMP 'now' - INTERVAL 15 MINUTES)",
        f"CALL {catalog}.system.rewrite_manifests('{table}')",
    ]


def collect_file_metrics(spark: SparkSession, path: str, ts_col: str = "ts"):
    """A7: per-data-file metrics — the aggregation the reference's
    IcebergMetadataWriter extracts from parquet footers before each
    metadata commit (IcebergMetadataWriter.kt:322-350: record count,
    file size, partition-column bounds per file; its Netty path reads
    500 footers concurrently for the same numbers).

    Spark-first form: the hidden `_metadata` struct carries file path +
    size per split and the scan prunes to the ts column only, so the
    whole job reads one narrow column distributed across executors —
    nothing is listed or fetched on the driver. The output is exactly
    an Iceberg manifest's data_file rows (path, size, record_count,
    ts bounds), usable for partition pruning and small-file detection
    (feeds compaction target selection at 100 TB)."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    sel = [
        F.col("_metadata.file_path").alias("file_path"),
        F.col("_metadata.file_size").alias("file_size"),
    ]
    aggs = [
        F.count(F.lit(1)).alias("record_count"),
        F.first("file_size").alias("file_size_bytes"),
    ]
    if ts_col in df.columns:
        sel.append(F.col(ts_col))
        aggs += [
            F.min(ts_col).alias("min_ts"),
            F.max(ts_col).alias("max_ts"),
        ]
    return df.select(*sel).groupBy("file_path").agg(*aggs)


def register_flattened_view(
    spark: SparkSession, table: str, view: str | None = None
) -> str:
    """M4: `<t>_view` flattening every nested leaf to a_b_c columns
    (ref MatanoIcebergTableCustomResource.kt:266-318)."""
    schema = spark.table(table).schema
    sql = flattened_view_sql(table, schema, view)
    # temp-view form for catalogs without view support
    from matano_spark.schema.ddl import flatten_columns

    flat = flatten_columns(spark.table(table))
    flat.createOrReplaceTempView(view or f"{table}_view")
    return sql

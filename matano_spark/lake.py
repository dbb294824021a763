"""Lake table abstraction: one API over Iceberg (when the runtime jar
is on the classpath) and partitioned-parquet directories (this
container). Pipeline code writes through `LakeTable` and never cares
which backend landed the rows.

Iceberg path (ref: MatanoIcebergTableCustomResource.kt table creation,
IcebergMetadataWriter.kt commits): `CREATE TABLE ... USING iceberg
PARTITIONED BY (hours(ts))`, `df.writeTo(t).append()`, `MERGE INTO`
for upserts, `CALL ...` procedures for maintenance — see
operators.maintenance and schema.ddl for the statements.

Parquet fallback: hour-partition column `ts_hour=yyyy-MM-dd-HH`
(exactly the reference's partition path, transformer/src/main.rs:
961-965), append/overwrite writes, latest-wins merge emulation.

File layout: every hour-partitioned write in the engine goes through
`write_hours`, which lands ONE file per hour partition per commit — the
reference's one Parquet file per (table, ts_hour) per batch (SURVEY.md
S13). An hour larger than AQE's advisory partition size
(`spark.sql.adaptive.advisoryPartitionSizeInBytes`) is split into
several files of about that size, so a large backfill does not land one
huge file either. Readers of a small table therefore open one file per
hour per commit, not one per input partition per hour.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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


class LakeTable:
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
        self.path = path
        self.ts_col = ts_col
        self.iceberg = (
            iceberg_available(spark) if use_iceberg is None else use_iceberg
        )

    # -- DDL ----------------------------------------------------------
    def ddl(self, schema) -> str:
        return create_table_ddl(self.name, schema)

    # -- writes -------------------------------------------------------
    def append(self, df: DataFrame) -> None:
        if self.iceberg:
            df.writeTo(self.name).append()
            return
        write_hours(df, self.path, ts_col=self.ts_col)

    def _replace_via_tmp(self, df: DataFrame, replace_hours: bool) -> None:
        """Land `df` in a sibling directory first, then overwrite the
        table from it: `df` may read the table it replaces."""
        tmp = self.path + ".tmp"
        write_hours(df, tmp, "overwrite", self.ts_col)
        write_hours(
            self.spark.read.parquet(tmp), self.path, "overwrite",
            replace_hours=replace_hours,
        )
        hadoop_fs.delete(self.spark, tmp)

    def overwrite(self, df: DataFrame) -> None:
        """Dynamic partition overwrite on BOTH backends: only the
        ts_hour partitions present in `df` are replaced — a partial
        write never deletes untouched hour partitions (matches Iceberg
        overwritePartitions semantics)."""
        if self.iceberg:
            df.writeTo(self.name).overwritePartitions()
            return
        self._replace_via_tmp(df, replace_hours=True)

    def merge_by_key(self, df: DataFrame, key_cols: list[str]) -> None:
        """Upsert: MERGE INTO on Iceberg; latest-wins rewrite on the
        parquet fallback (new rows shadow old rows per key)."""
        if self.iceberg:
            view = f"__merge_src_{self.name.replace('.', '_')}"
            df.createOrReplaceTempView(view)
            on = " AND ".join(f"t.{k} = s.{k}" for k in key_cols)
            self.spark.sql(
                f"MERGE INTO {self.name} t USING {view} s ON {on} "
                "WHEN MATCHED THEN UPDATE SET * "
                "WHEN NOT MATCHED THEN INSERT *"
            )
            return
        from pyspark.sql import Window as W

        new = with_ts_hour(df, self.ts_col).withColumn("__gen", F.lit(1))
        if hadoop_fs.exists(self.spark, self.path):
            old = self.spark.read.parquet(self.path).withColumn(
                "__gen", F.lit(0)
            )
            merged = old.unionByName(new, allowMissingColumns=True)
        else:
            merged = new
        w = W.partitionBy(*key_cols).orderBy(F.desc("__gen"))
        latest = (
            merged.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__gen")
        )
        self._replace_via_tmp(latest, replace_hours=False)

    # -- reads --------------------------------------------------------
    def read(self, schema=None) -> DataFrame:
        """Read the table; pass the RESOLVED table schema to make the
        parquet fallback schema-evolution-safe.

        A pack upgrade that declares a new field leaves older files
        without the column; a plain parquet read takes its schema from
        an arbitrary footer, so the new column can silently vanish (or
        a query against it fail) depending on which file is sampled.
        Reading with the resolved schema pins the contract: files
        missing a declared column yield typed nulls — the same
        evolution semantics Iceberg provides from its own metadata,
        which is why the Iceberg path needs no schema argument.
        """
        if self.iceberg:
            return self.spark.table(self.name)
        if schema is None:
            return self.spark.read.parquet(self.path)
        import pyspark.sql.types as T

        names = {f.name for f in schema.fields}
        fields = list(schema.fields) + (
            [] if "ts_hour" in names
            else [T.StructField("ts_hour", T.StringType())]
        )
        return self.spark.read.schema(T.StructType(fields)).parquet(self.path)

    def read_hours(
        self, start_hour: str, end_hour: str, schema=None
    ) -> DataFrame:
        """Partition-pruned read over [start_hour, end_hour] — the
        'last day of partitions' alert-state scan shape
        (matano_alerts.rs:578-601). `schema` is passed to `read`: with
        it, planning starts no schema-inference job."""
        df = self.read(schema)
        return df.filter(
            (F.col("ts_hour") >= start_hour) & (F.col("ts_hour") <= end_hour)
        )

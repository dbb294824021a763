"""One-call log-source pipeline: config directory → raw objects →
normalized, schema-resolved, hour-partitioned lake tables (+ a
quarantine channel).

This is the batch composition of the engine's pieces (the streaming
form is streaming.ingest): sources.readers handle decompression/
framing/routing/expansion per the pack's `ingest` options, the
VRL-text transform compiles per table, schema.cast sidelines rows
that cannot coerce to the resolved schema, and lake.LakeTable lands
hour-partitioned output. Mirrors the reference's §3.1 lifecycle with
one DAG per table instead of four Lambdas.

`land` is the one per-batch landing body: batch calls it once per
table, and streaming.ingest calls it from `foreachBatch`. Lines the
JSON parser cannot read and rows that cannot coerce to the declared
schema both go to the quarantine (S17, ref transformer/src/main.rs:
1433-1494), so rows_in == rows_out + rows_sidelined. The row counts
come from observations inside the table's write job, and the
quarantine write runs only when that job saw a sidelined row.

Per call, a table pays its plan build only on the first batch of a
new input schema: the transform replays its memoized compile
(transform.compiler), and the full-schema projection and landing casts
are cached per schema pair.
"""

from __future__ import annotations

import operator
import os
from functools import lru_cache, reduce
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from matano_spark.lake import LakeTable
from matano_spark.schema.cast import apply_schema
from matano_spark.schema.config import TableDef, load_log_source
from matano_spark.schema.resolve import fields_to_structtype
from matano_spark.sources import readers

# the raw line of a record the JSON parser could not fully read, else null
CORRUPT_COL = "_corrupt_record"


def _read_raw(spark: SparkSession, td: TableDef, raw_path: str) -> DataFrame:
    """The table's parsed input, with CORRUPT_COL (null for formats that
    do not capture unreadable lines)."""
    df = _parse_raw(spark, td, raw_path)
    if CORRUPT_COL in df.columns:
        return df
    return df.withColumn(CORRUPT_COL, F.lit(None).cast("string"))


def _parse_raw(spark: SparkSession, td: TableDef, raw_path: str) -> DataFrame:
    fmt = td.ingest.get("format", "json")
    if fmt == "csv":
        return readers.read_csv_with_headers(
            spark, raw_path, td.ingest["csv_headers"]
        )
    # text/json lines with magic-byte-safe decompression
    lines = readers.read_lines_sniffed(spark, raw_path)
    if td.ingest.get("route_rules"):
        lines = readers.route_by_path(
            lines, [tuple(r) for r in td.ingest["route_rules"]], default="default"
        ).filter(F.col("resolved_table") == td.name if td.name != "default"
                 else F.col("resolved_table") == "default")
    if fmt == "text":
        return lines.withColumnRenamed("value", "message").drop(
            "resolved_table", "_file"
        )
    payload = lines.withColumnRenamed("value", "json")
    if td.ingest.get("parse_with_schema"):
        # Loopback sources (matano_alerts): rows were WRITTEN with this
        # table's resolved schema, so parse straight into it — from_json
        # revives every nested timestamp in one pass, which is the Spark
        # form of the reference's ~340 per-field `to_timestamp!` coercions
        # (ref matano_alerts/log_source.yml:110-451).
        return lines.select(
            F.from_json("value", td.schema).alias("r")
        ).select("r.*")
    expand = td.ingest.get("expand_records_field")
    input_schema = (
        fields_to_structtype(td.ingest["input_fields"])
        if td.ingest.get("input_fields")
        else None
    )
    if expand:
        return readers.expand_records(payload, "json", expand, input_schema)
    if input_schema is not None:
        # PERMISSIVE parse, as the stream reader: an unreadable line
        # fills CORRUPT_COL instead of landing as an all-null row
        parse = T.StructType(
            list(input_schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())]
        )
        return payload.select(
            F.from_json("json", parse, {"columnNameOfCorruptRecord": CORRUPT_COL})
            .alias("r")
        ).select("r.*")
    return payload


@lru_cache(maxsize=64)
def _full_schema_columns(
    src: T.StructType, schema: T.StructType
) -> tuple[Column, ...]:
    """The projection to the FULL resolved schema (the resolved schema
    IS the table schema, batch content notwithstanding): declared fields
    the transform never assigned land as typed nulls, extra working
    columns are dropped. Built once per (transform output, table)
    schema pair."""
    present = set(src.names)
    return tuple(
        F.col(f"`{f.name}`")
        if f.name in present
        else F.lit(None).cast(f.dataType).alias(f.name)
        for f in schema.fields
    )


def _landed_counts(
    committed: bool,
    lines: Observation,
    rows: Observation,
    good: DataFrame,
    bad: DataFrame,
    unread: DataFrame,
) -> tuple[int, int, int]:
    """(rows in, rows that cannot coerce, unreadable lines), as observed
    by the job that landed `good`. Two cases count each side with a job
    instead: a replayed streaming batch, which lands nothing, and a job
    that wrote no row, where AQE replaces the observed stage with an
    empty relation and the observations complete with empty rows."""
    if committed and rows._jo.getRow().length() and lines._jo.getRow().length():
        unparsed = lines.get["unparsed"]
        return rows.get["rows"] + unparsed, rows.get["bad"], unparsed
    n_bad, n_unread = bad.count(), unread.count()
    return good.count() + n_bad + n_unread, n_bad, n_unread


def land(
    raw: DataFrame,
    pipeline: Callable[[DataFrame], DataFrame],
    schema: T.StructType | None,
    table: LakeTable,
    quarantine: str | None,
    log_source: str,
    epoch: tuple[str, int] | None = None,
) -> tuple[int, int]:
    """Land one batch of parsed input `raw` (with CORRUPT_COL) in
    `table`; returns (rows in, rows sidelined).

    Unreadable lines (CORRUPT_COL set and no field parsed) are split
    off; a record with one field of another type is readable and lands
    with that field null. The rest is transformed, projected to
    `schema` (None: the transform's output is the table schema) and
    cast to it; rows that cannot coerce are split off as well. The
    landing job counts both sides. Sidelined rows go to `quarantine`
    only when there are any: a batch run appends them, and a streaming
    batch (`epoch` = (stream id, batch id)) overwrites its own
    `epoch=<stream id>.<batch id>` directory, so a replay writes them
    once — as the table, which lands a replayed batch's rows once."""
    # A syntax error leaves every field null. A record with a field of
    # another type also fills CORRUPT_COL but keeps its other fields: it
    # is readable, lands with that field null, and the transform decides
    # whether it belongs to this table (a multi-table pack's record for
    # another table has other field types and is dropped there).
    unreadable = reduce(
        operator.and_,
        [F.col(f"`{c}`").isNull() for c in raw.columns if c != CORRUPT_COL],
        F.col(CORRUPT_COL).isNotNull(),
    )
    # The split filter tests a flag column above the observation, whose
    # CollectMetrics node stops constraint propagation: a filter on the
    # parse expression itself puts its constraints through every
    # projection of the transform, which can stall the optimizer.
    lines = Observation()
    readable = (
        raw.withColumn("__unreadable", unreadable)
        .observe(lines, F.count_if("__unreadable").alias("unparsed"))
        .filter(~F.col("__unreadable"))
        .drop("__unreadable", CORRUPT_COL)
    )
    out = pipeline(readable)
    if schema is None:
        schema = out.schema
    good, bad, rows = apply_schema(
        out.select(*_full_schema_columns(out.schema, schema)), schema
    )
    unread = raw.filter(unreadable)
    committed = table.append(good, epoch) is not None
    n_in, n_bad, n_unread = _landed_counts(committed, lines, rows, good, bad, unread)
    if quarantine is not None and n_bad + n_unread:
        sides = []
        if n_bad:
            sides.append(bad.withColumn("error_kind", F.lit("schema_mismatch")))
        if n_unread:  # without a mismatch side the transform does not rerun
            sides.append(unread.select(
                F.col(CORRUPT_COL).alias("raw"),
                F.lit("parse_error").alias("error_kind"),
            ))
        sidelined = reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), sides
        ).withColumn("log_source", F.lit(log_source))
        if epoch is None:
            sidelined.write.mode("append").parquet(quarantine)
        else:
            sidelined.write.mode("overwrite").parquet(
                f"{quarantine}/epoch={epoch[0]}.{epoch[1]}"
            )
    return n_in, n_bad + n_unread


def run_log_source(
    spark: SparkSession,
    config_dir: str,
    raw_path: str,
    lake_root: str,
    quarantine_root: str | None = None,
    only_tables: list[str] | None = None,
) -> dict[str, "TableResult"]:
    """Process raw objects for every table of a log source pack.

    Returns {table_name: TableResult} with the landed LakeTable and
    the matano_log-style row accounting (ref: per-service structured
    counters, transformer/src/main.rs:1119-1158): rows_in ==
    rows_out + rows_sidelined always holds (S17 conservation)."""
    out: dict[str, TableResult] = {}
    for td in load_log_source(config_dir):
        if only_tables is not None and td.name not in only_tables:
            # large multi-table packs (zeek: 43 tables): skip whole
            # pipelines for tables the caller knows carry no rows in
            # this batch — at scale one job per table is the norm
            continue
        table = LakeTable(
            spark,
            f"{td.log_source}_{td.name}",
            os.path.join(lake_root, td.log_source, td.name),
            use_iceberg=False,
        )
        n_in, n_bad = land(
            _read_raw(spark, td, raw_path),
            td.pipeline,
            td.schema,
            table,
            quarantine_root and os.path.join(quarantine_root, td.log_source),
            td.log_source,
        )
        out[td.name] = TableResult(table, n_in, n_in - n_bad, n_bad, td.schema)
    return out


class TableResult:
    """Landed table + conservation counters (rows_in = rows_out +
    rows_sidelined). Duck-typed to LakeTable for reads."""

    def __init__(
        self,
        table: LakeTable,
        rows_in: int,
        rows_out: int,
        rows_sidelined: int,
        schema=None,
    ):
        self.table = table
        self.rows_in = rows_in
        self.rows_out = rows_out
        self.rows_sidelined = rows_sidelined
        self.schema = schema

    def read(self) -> DataFrame:
        # resolved-schema read: evolution-safe on the parquet fallback
        return self.table.read(schema=self.schema)

    def as_log(self) -> dict:
        """The matano_log JSON shape: one structured counters record."""
        return {
            "table": self.table.name,
            "rows_in": self.rows_in,
            "rows_out": self.rows_out,
            "rows_sidelined": self.rows_sidelined,
        }

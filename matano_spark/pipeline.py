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

Per call, a table pays its plan build only on the first batch of a
new input schema: the transform replays its memoized compile
(transform.compiler), and the full-schema projection and landing casts
are cached per schema pair. The row counts come from an observation
on the landing write, so a table lands in one write job; the
quarantine write runs only when that job saw a sidelined row.
"""

from __future__ import annotations

import os
from functools import lru_cache

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from matano_spark.lake import LakeTable
from matano_spark.schema.cast import apply_schema
from matano_spark.schema.config import TableDef, load_log_source
from matano_spark.schema.resolve import fields_to_structtype
from matano_spark.sources import readers


def _read_raw(spark: SparkSession, td: TableDef, raw_path: str) -> DataFrame:
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
        return payload.select(
            F.from_json("json", input_schema).alias("r")
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
    counts: Observation, good: DataFrame, bad: DataFrame
) -> tuple[int, int]:
    """(rows in, rows sidelined), as observed by the job that landed
    `good`. When that job wrote no row, AQE replaces the observed stage
    with an empty relation and the observation completes with an empty
    row, which `Observation.get` cannot convert; count both sides
    instead — an all-sidelined or empty batch, so both jobs are small."""
    if counts._jo.getRow().length() == 0:
        n_bad = bad.count()
        return good.count() + n_bad, n_bad
    m = counts.get
    return m["rows"], m["bad"]


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
        raw = _read_raw(spark, td, raw_path)
        normalized = td.pipeline(raw)
        projected = normalized.select(
            *_full_schema_columns(normalized.schema, td.schema)
        )
        counts = Observation()
        good, bad = apply_schema(projected, td.schema, counts)
        table = LakeTable(
            spark,
            f"{td.log_source}_{td.name}",
            os.path.join(lake_root, td.log_source, td.name),
            use_iceberg=False,
        )
        table.append(good)
        rows_transformed, n_bad = _landed_counts(counts, good, bad)
        if quarantine_root is not None and n_bad:
            bad.withColumn("log_source", F.lit(td.log_source)).write.mode(
                "append"
            ).parquet(os.path.join(quarantine_root, td.log_source))
        out[td.name] = TableResult(
            table=table,
            rows_in=rows_transformed,
            rows_out=rows_transformed - n_bad,
            rows_sidelined=n_bad,
            schema=td.schema,
        )
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

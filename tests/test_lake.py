"""LakeTable abstraction: append/overwrite/merge + partition-pruned
reads on the parquet backend (Iceberg path is catalog-gated)."""

from __future__ import annotations

import datetime as dt
import shutil
import tempfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from matano_spark.lake import LakeTable

T0 = dt.datetime(2024, 5, 1, 10, 0, 0)


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="matano_spark_lake_")
    yield Path(d)
    shutil.rmtree(d, ignore_errors=True)


def _df(spark, rows):
    return spark.createDataFrame(
        [(k, T0 + dt.timedelta(hours=h), v) for k, h, v in rows],
        "id string, ts timestamp, v long",
    )


def test_append_partitions_and_pruned_read(spark, tmpdir):
    t = LakeTable(spark, "ev", str(tmpdir / "ev"), use_iceberg=False)
    t.append(_df(spark, [("a", 0, 1), ("b", 1, 2), ("c", 3, 3)]))
    t.append(_df(spark, [("d", 1, 4)]))
    assert t.read().count() == 4
    pruned = t.read_hours("2024-05-01-10", "2024-05-01-11")
    assert sorted(r.id for r in pruned.collect()) == ["a", "b", "d"]
    # partition pruning must reach the scan (PartitionFilters, not a
    # post-scan filter)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(ts_hour" in plan


def test_merge_by_key_upsert(spark, tmpdir):
    t = LakeTable(spark, "st", str(tmpdir / "st"), use_iceberg=False)
    t.append(_df(spark, [("a", 0, 1), ("b", 0, 2)]))
    t.merge_by_key(_df(spark, [("b", 0, 20), ("c", 0, 30)]), ["id"])
    got = {r.id: r.v for r in t.read().collect()}
    assert got == {"a": 1, "b": 20, "c": 30}


def test_read_with_resolved_schema_survives_evolution(spark, tmp_path):
    """Pack upgrade adds a declared field: files written BEFORE the
    upgrade lack the column. Reading with the resolved schema must
    yield typed nulls for old files and real values for new ones —
    never a sampled-footer lottery."""
    import pyspark.sql.types as T

    t = LakeTable(spark, "evo", str(tmp_path / "evo"), use_iceberg=False)
    v1 = spark.createDataFrame(
        [(1, dt.datetime(2024, 5, 1, 10, 0, 0))], "id long, ts timestamp"
    )
    t.append(v1)
    v2 = spark.createDataFrame(
        [(2, dt.datetime(2024, 5, 1, 11, 0, 0), "new")],
        "id long, ts timestamp, extra string",
    )
    t.append(v2)

    resolved = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("extra", T.StringType()),
        ]
    )
    rows = {r["id"]: r for r in t.read(schema=resolved).collect()}
    assert set(rows) == {1, 2}
    assert rows[1]["extra"] is None
    assert rows[2]["extra"] == "new"
    assert rows[1]["ts_hour"] == "2024-05-01-10"


def _hour_files(table_dir: Path) -> dict[str, int]:
    """Parquet data files per ts_hour partition directory."""
    return {
        d.name: len(list(d.glob("*.parquet")))
        for d in table_dir.iterdir()
        if d.name.startswith("ts_hour=")
    }


def _spread(spark, n: int, hours: int, parts: int):
    """`n` rows over `hours` hours, every input partition holding rows of
    every hour (round-robin repartition)."""
    return (
        spark.range(n)
        .select(
            F.concat(F.lit("e"), F.col("id").cast("string")).alias("id"),
            (
                F.lit(T0)
                + F.make_interval(hours=(F.col("id") % hours).cast("int"))
                + F.make_interval(secs=(F.col("id") % 3600).cast("int"))
            ).alias("ts"),
            F.col("id").alias("v"),
        )
        .repartition(parts)
    )


def test_append_lands_one_file_per_hour(spark, tmpdir):
    """A commit from many input partitions lands one file per hour
    partition (reference layout: one file per table hour per batch),
    not one per input partition per hour."""
    t = LakeTable(spark, "ev", str(tmpdir / "ev"), use_iceberg=False)
    df = _spread(spark, 3_000, hours=3, parts=8)
    assert df.rdd.getNumPartitions() >= 8
    t.append(df)
    assert _hour_files(tmpdir / "ev") == {
        "ts_hour=2024-05-01-10": 1,
        "ts_hour=2024-05-01-11": 1,
        "ts_hour=2024-05-01-12": 1,
    }
    assert t.read().count() == 3_000


def test_large_hour_splits_at_advisory_size(spark, tmpdir):
    """An hour larger than AQE's advisory partition size lands as
    several files, not one huge file."""
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    before = spark.conf.get(key)
    spark.conf.set(key, "16k")
    try:
        t = LakeTable(spark, "big", str(tmpdir / "big"), use_iceberg=False)
        t.append(_spread(spark, 40_000, hours=1, parts=8))
    finally:
        spark.conf.set(key, before)
    files = _hour_files(tmpdir / "big")
    assert list(files) == ["ts_hour=2024-05-01-10"]
    assert files["ts_hour=2024-05-01-10"] > 1
    assert t.read().count() == 40_000


def test_merge_by_key_keeps_rows_on_uri_path(spark, tmpdir):
    """The existence probe must see a table at a `file://` URI; a
    local-disk probe reports it missing and the merge drops every
    existing row."""
    t = LakeTable(spark, "st", f"file://{tmpdir}/st", use_iceberg=False)
    t.append(_df(spark, [("a", 0, 1), ("b", 0, 2)]))
    t.merge_by_key(_df(spark, [("b", 0, 20), ("c", 1, 30)]), ["id"])
    got = {r.id: r.v for r in t.read().collect()}
    assert got == {"a": 1, "b": 20, "c": 30}
    assert not (tmpdir / "st.tmp").exists()


def test_read_hours_with_schema_starts_no_job(spark, tmpdir):
    """With the resolved schema, a pruned read plans without the
    schema-inference job a bare parquet read starts."""
    t = LakeTable(spark, "ev", str(tmpdir / "ev"), use_iceberg=False)
    t.append(_df(spark, [("a", 0, 1), ("b", 1, 2), ("c", 3, 3)]))
    schema = _df(spark, []).schema
    sc = spark.sparkContext
    group = "lake-read-hours-probe"
    sc.setJobGroup(group, "probe")
    try:
        pruned = t.read_hours("2024-05-01-10", "2024-05-01-11", schema)
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == []
    assert sorted(r.id for r in pruned.collect()) == ["a", "b"]


def test_read_after_many_commits_starts_no_job(spark, tmpdir):
    """Past 32 explicit paths Spark lists them with a parallel job; the
    manifest read keeps one root and filters files by name, so no job
    starts before the action however many files are live."""
    t = LakeTable(spark, "ev", str(tmpdir / "ev"), use_iceberg=False)
    for i in range(12):
        t.append(_df(spark, [(f"e{i}{h}", h, i) for h in range(3)]))
    assert len(t.snapshot()["files"]) == 36
    sc = spark.sparkContext
    group = "lake-read-many-files-probe"
    sc.setJobGroup(group, "probe")
    try:
        df = t.read()
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == []
    assert df.count() == 36


def test_read_skips_files_no_manifest_lists(spark, tmpdir):
    """A file under the root that no manifest lists (a lost commit, or
    anything else) is never opened: the name filter drops it while
    planning."""
    t = LakeTable(spark, "ev", str(tmpdir / "ev"), use_iceberg=False)
    t.append(_df(spark, [("a", 0, 1), ("b", 1, 2)]))
    (tmpdir / "ev" / "ts_hour=2024-05-01-10" / "junk.parquet").write_text("not parquet")
    assert sorted(r.id for r in t.read().collect()) == ["a", "b"]

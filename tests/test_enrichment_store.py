"""EnrichmentStore schema record: reads plan without a Spark job, the
record follows columns added by later writes, and existence probes see
tables at URI paths."""

from __future__ import annotations

import pytest

from matano_spark.operators.enrichment import EnrichmentStore


def _jobs_during(spark, fn):
    """Spark jobs started while `fn` runs, counted through a job group."""
    sc = spark.sparkContext
    group = "enrichment-store-read-probe"
    sc.setJobGroup(group, "probe")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_read_starts_no_spark_job(spark, tmp_path):
    store = EnrichmentStore(spark, str(tmp_path))
    store.write("intel", spark.createDataFrame([("1.1.1.1", "benign")], "ip string, verdict string"))
    df, jobs = _jobs_during(spark, lambda: store.read("intel"))
    assert jobs == []
    assert df.columns == ["ip", "verdict"]
    assert [tuple(r) for r in df.collect()] == [("1.1.1.1", "benign")]


@pytest.mark.parametrize("mode", ["merge", "append"])
def test_added_column_shows_in_next_read(spark, tmp_path, mode):
    store = EnrichmentStore(spark, str(tmp_path))
    store.write("intel", spark.createDataFrame([("1.1.1.1", "benign")], "ip string, verdict string"))
    store.write(
        "intel",
        spark.createDataFrame([("6.6.6.6", "malicious", 90)], "ip string, verdict string, score int"),
        mode=mode,
        primary_key="ip",
    )
    df = store.read("intel")
    assert df.columns == ["ip", "verdict", "score"]
    assert sorted(tuple(r) for r in df.collect()) == [
        ("1.1.1.1", "benign", None),
        ("6.6.6.6", "malicious", 90),
    ]


def test_merge_keeps_rows_on_uri_path(spark, tmp_path):
    """A local-disk existence probe reports a `file://` table missing,
    so the merge would overwrite it with the new rows only."""
    store = EnrichmentStore(spark, f"file://{tmp_path}")
    store.write("intel", spark.createDataFrame([("1.1.1.1", "benign")], "ip string, verdict string"))
    store.write(
        "intel",
        spark.createDataFrame([("6.6.6.6", "malicious")], "ip string, verdict string"),
        mode="merge",
        primary_key="ip",
    )
    assert sorted(tuple(r) for r in store.read("intel").collect()) == [
        ("1.1.1.1", "benign"),
        ("6.6.6.6", "malicious"),
    ]

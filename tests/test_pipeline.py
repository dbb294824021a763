"""run_log_source: one call from a shipped pack + raw objects to
queryable hour-partitioned lake tables."""

from __future__ import annotations

import datetime as dt
import gzip
import json
import shutil
import tempfile
from pathlib import Path

import pytest

from matano_spark.pipeline import run_log_source

ROOT = Path(__file__).resolve().parents[1] / "data" / "log_sources"


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="matano_spark_pipe_")
    yield Path(d)
    shutil.rmtree(d, ignore_errors=True)


def test_run_cloudtrail_pack_to_lake(spark, tmpdir):
    raw = tmpdir / "raw"
    raw.mkdir()
    records = [
        {
            "eventVersion": "1.08",
            "eventTime": f"2024-05-01T{hh:02d}:10:00Z",
            "eventSource": "s3.amazonaws.com",
            "eventName": name,
            "awsRegion": "us-east-1",
            "sourceIPAddress": ip,
            "userAgent": "aws-cli/2.0",
            "requestID": f"r-{hh}",
            "eventID": f"e-{hh}",
            "eventType": "AwsApiCall",
            "readOnly": True,
            "userIdentity": {
                "type": "IAMUser",
                "principalId": "AIDAX",
                "userName": "alice",
                "accountId": "123456789012",
                "arn": "arn:x",
            },
        }
        for hh, name, ip in [
            (10, "GetObject", "10.0.0.1"),
            (10, "PutObject", "10.0.0.2"),
            (11, "GetObject", "bogus-address"),
        ]
    ]
    with gzip.open(raw / "trail.json.gz", "wt") as f:
        f.write(json.dumps({"Records": records}))
    with gzip.open(raw / "trail-Digest.json.gz", "wt") as f:
        f.write(json.dumps({"noise": 1}))

    tables = run_log_source(
        spark,
        str(ROOT / "aws_cloudtrail"),
        str(raw / "*.gz"),
        str(tmpdir / "lake"),
        quarantine_root=str(tmpdir / "quarantine"),
    )
    res = tables["default"]
    assert res.rows_in == res.rows_out + res.rows_sidelined == 3
    assert res.as_log()["rows_sidelined"] == 0
    lake = tables["default"].read()
    lake.createOrReplaceTempView("ct")
    rows = spark.sql(
        "SELECT event.action AS a, count(*) AS n, min(source.ip) AS ip "
        "FROM ct GROUP BY event.action ORDER BY a"
    ).collect()
    assert [(r.a, r.n) for r in rows] == [("GetObject", 2), ("PutObject", 1)]
    # hour partitioning
    parts = {r.ts_hour for r in lake.select("ts_hour").collect()}
    assert parts == {"2024-05-01-10", "2024-05-01-11"}
    # non-IP address row landed with null source.ip (is_ipv4 gate)
    bogus = spark.sql(
        "SELECT source.ip AS ip, source.address AS addr FROM ct "
        "WHERE event.id = 'e-11'"
    ).collect()[0]
    assert bogus.ip is None and bogus.addr == "bogus-address"
    assert lake.select("ts").first().ts == dt.datetime(2024, 5, 1, 10, 10)


def test_landed_schema_is_full_resolved_schema(spark, tmpdir):
    """Declared fields the transform never assigned must still land as
    typed nulls — the at-rest schema is the resolved schema, not
    whatever this batch's transform happened to touch."""
    from matano_spark.schema.config import load_log_source

    raw = tmpdir / "raw"
    raw.mkdir()
    rec = {
        "eventVersion": "1.08",
        "eventTime": "2024-05-01T10:10:00Z",
        "eventSource": "s3.amazonaws.com",
        "eventName": "GetObject",
        "eventID": "e-1",
        "eventType": "AwsApiCall",
    }
    with gzip.open(raw / "trail.json.gz", "wt") as f:
        f.write(json.dumps({"Records": [rec]}))
    tables = run_log_source(
        spark,
        str(ROOT / "aws_cloudtrail"),
        str(raw / "*.gz"),
        str(tmpdir / "lake"),
    )
    td = load_log_source(str(ROOT / "aws_cloudtrail"))[0]
    landed = tables["default"].read()
    declared = [f.name for f in td.schema.fields]
    assert [c for c in landed.columns if c != "ts_hour"] == declared


OKTA_EVENTS = [
    {
        "published": f"2024-05-01T10:0{i}:00.000Z",
        "eventType": "user.session.start",
        "uuid": f"u{i}",
        "severity": "INFO",
        "actor": {"id": f"a{i}", "type": "User", "alternateId": f"user{i}@example.com"},
        "client": {"ipAddress": f"10.0.0.{i}"},
        "outcome": {"result": "SUCCESS" if i % 2 else "FAILURE"},
    }
    for i in range(3)
]


def _okta_object(directory: Path) -> None:
    """Three okta events and one line cut off mid-record."""
    directory.mkdir()
    lines = [json.dumps(e) for e in OKTA_EVENTS]
    lines.insert(1, json.dumps(OKTA_EVENTS[0])[:40])
    (directory / "okta.json").write_text("\n".join(lines) + "\n")


def test_truncated_line_is_quarantined_not_landed(spark, tmpdir):
    """A line the JSON parser cannot read is sidelined, as in the
    stream, instead of landing as an all-null row with a null ts."""
    _okta_object(tmpdir / "raw")
    res = run_log_source(
        spark, str(ROOT / "okta"), str(tmpdir / "raw"), str(tmpdir / "lake"),
        quarantine_root=str(tmpdir / "q"),
    )["system"]
    assert (res.rows_in, res.rows_out, res.rows_sidelined) == (4, 3, 1)
    lake = res.read()
    assert lake.count() == 3
    assert lake.filter("ts IS NULL").count() == 0
    q = spark.read.parquet(str(tmpdir / "q" / "okta")).collect()
    assert [(r.error_kind, r.log_source) for r in q] == [("parse_error", "okta")]
    assert q[0].raw == json.dumps(OKTA_EVENTS[0])[:40]


def test_batch_and_stream_land_the_same_rows(spark, tmpdir):
    """run_log_source and run_ingest, given the same objects, land the
    same rows and sideline the same lines."""
    from matano_spark.schema.config import load_log_source
    from matano_spark.schema.resolve import fields_to_structtype
    from matano_spark.streaming.ingest import ingest_counts, run_ingest

    _okta_object(tmpdir / "raw")
    batch = run_log_source(
        spark, str(ROOT / "okta"), str(tmpdir / "raw"), str(tmpdir / "lake"),
        quarantine_root=str(tmpdir / "q"),
    )["system"]
    td = load_log_source(str(ROOT / "okta"))[0]
    run_ingest(
        spark, str(tmpdir / "raw"), fields_to_structtype(td.ingest["input_fields"]),
        td.pipeline, str(tmpdir / "stream"), str(tmpdir / "ckpt"),
        str(tmpdir / "stream_q"), log_source="okta",
    ).awaitTermination(120)

    cols = ["ts", "ts_hour", "event.id", "event.action", "event.outcome", "source.ip"]

    def rows(df):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    stream_lake = spark.read.parquet(str(tmpdir / "stream"))
    assert rows(stream_lake) == rows(batch.read())
    assert len(rows(stream_lake)) == 3
    assert ingest_counts(spark, str(tmpdir / "stream"), str(tmpdir / "stream_q"))[1] \
        == batch.rows_sidelined == 1


def test_mistyped_field_lands_with_that_field_null(spark, tmpdir):
    """A record with one field of another type (client as a string, not
    an object) keeps its other fields: batch and stream both land it
    with that field null and sideline nothing."""
    from matano_spark.schema.config import load_log_source
    from matano_spark.schema.resolve import fields_to_structtype
    from matano_spark.streaming.ingest import ingest_counts, run_ingest

    (tmpdir / "raw").mkdir()
    mistyped = dict(OKTA_EVENTS[1], client="10.0.0.9")
    (tmpdir / "raw" / "okta.json").write_text(
        json.dumps(OKTA_EVENTS[0]) + "\n" + json.dumps(mistyped) + "\n"
    )
    batch = run_log_source(
        spark, str(ROOT / "okta"), str(tmpdir / "raw"), str(tmpdir / "lake"),
        quarantine_root=str(tmpdir / "q"),
    )["system"]
    assert (batch.rows_in, batch.rows_out, batch.rows_sidelined) == (2, 2, 0)
    td = load_log_source(str(ROOT / "okta"))[0]
    run_ingest(
        spark, str(tmpdir / "raw"), fields_to_structtype(td.ingest["input_fields"]),
        td.pipeline, str(tmpdir / "stream"), str(tmpdir / "ckpt"),
        str(tmpdir / "stream_q"), log_source="okta",
    ).awaitTermination(120)
    assert ingest_counts(spark, str(tmpdir / "stream"), str(tmpdir / "stream_q")) \
        == (2, 0)

    for lake in (batch.read(), spark.read.parquet(str(tmpdir / "stream"))):
        got = {r[0]: r[1] for r in lake.select("event.id", "source.ip").collect()}
        assert got == {"u0": "10.0.0.0", "u1": None}

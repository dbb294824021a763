"""End-to-end tests for the shipped log-source packs (FIXTURES B2-B4):
config directory → resolved schema + compiled VRL-text pipeline →
normalized rows."""

from __future__ import annotations

import datetime as dt
import json
import shutil
import tempfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from matano_spark.schema.config import load_log_source
from matano_spark.schema.resolve import fields_to_structtype
from matano_spark.sources import readers

ROOT = Path(__file__).resolve().parents[1] / "data" / "log_sources"


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="matano_spark_ls_")
    yield Path(d)
    shutil.rmtree(d, ignore_errors=True)


ZEEK_DNS = {
    "ts": 1714567890.123,
    "uid": "CHhAvVGS1DHFjwGM9",
    "id.orig_h": "192.168.1.10",
    "id.orig_p": 54321,
    "id.resp_h": "8.8.8.8",
    "id.resp_p": 53,
    "proto": "udp",
    "trans_id": 1234,
    "query": "example.com",
    "qtype_name": "A",
    "rcode_name": "NOERROR",
    "answers": ["93.184.216.34"],
    "rejected": False,
}


def test_zeek_dns_pack(spark, tmpdir):
    defs = {d.name: d for d in load_log_source(str(ROOT / "zeek"))}
    td = defs["dns"]
    input_schema = fields_to_structtype(td.ingest["input_fields"])

    p = tmpdir / "dns.log"
    p.write_text(json.dumps(ZEEK_DNS) + "\n")
    raw = spark.read.schema(input_schema).json(str(p))
    out = td.pipeline(raw)
    r = out.collect()[0].asDict(recursive=True)

    assert r["ts"] == dt.datetime(2024, 5, 1, 12, 51, 30, 123000)
    assert r["source"] == {"ip": "192.168.1.10", "port": 54321}
    assert r["destination"] == {"ip": "8.8.8.8", "port": 53}
    assert r["network"] == {"transport": "udp"}
    assert r["dns"]["question"] == {"name": "example.com", "type": "A"}
    assert r["dns"]["resolved_ip"] == ["93.184.216.34"]
    assert r["zeek"] == {
        "session_id": "CHhAvVGS1DHFjwGM9",
        "dns": {"trans_id": 1234, "rejected": False},
    }
    assert r["related"] == {"ip": ["192.168.1.10", "8.8.8.8"]}
    # resolved schema covers the produced tree
    declared = {f.name for f in td.schema.fields}
    assert {"ts", "source", "destination", "dns", "network", "zeek", "related"} <= declared


def test_vpcflow_pack(spark, tmpdir):
    defs = {d.name: d for d in load_log_source(str(ROOT / "aws_vpcflow"))}
    td = defs["default"]
    p = tmpdir / "flow.log"
    p.write_text(
        "version account-id interface-id srcaddr dstaddr srcport dstport "
        "protocol packets bytes start end action log-status\n"
        "2 123456789012 eni-0a1b2c3d 10.0.0.1 10.0.0.2 443 49152 6 10 8400 "
        "1714567800 1714567860 ACCEPT OK\n"
    )
    raw = spark.read.text(str(p)).withColumnRenamed("value", "message")
    out = td.pipeline(raw)
    rows = [r.asDict(recursive=True) for r in out.collect()]
    assert len(rows) == 1  # header aborted
    r = rows[0]
    assert r["ts"] == dt.datetime(2024, 5, 1, 12, 50, 0)
    assert r["source"] == {"ip": "10.0.0.1", "port": 443}
    assert r["destination"] == {"ip": "10.0.0.2", "port": 49152}
    assert r["network"] == {"bytes": 8400, "packets": 10}
    assert r["aws"]["vpcflow"]["action"] == "ACCEPT"
    assert r["event"]["category"] == ["network"]
    assert r["event"]["original"].startswith("2 123456789012")
    assert r["cloud"] == {"account": {"id": "123456789012"}}


def test_s3inventory_pack(spark, tmpdir):
    defs = {d.name: d for d in load_log_source(str(ROOT / "aws_s3inventory"))}
    td = defs["default"]
    p = tmpdir / "inv.csv"
    # full documented column order; tail columns exercise bool casts,
    # object-lock nesting, and flexible arity (absent -> null)
    p.write_text(
        "my-bucket,path/to/object.txt,v123,true,false,1024,"
        "2024-05-01T00:00:00.000Z,d41d8cd98f00b204e9800998ecf8427e,"
        "STANDARD,false,COMPLETED,SSE-S3,2025-01-01T00:00:00.000Z,"
        "GOVERNANCE,OFF,,ENABLED,SHA256\n"
        # short row: only the 5 historical columns present
        "other-bucket,k2,v1,false,false,7,2024-05-02T00:00:00.000Z,"
        "aaaa\n"
    )
    raw = readers.read_csv_with_headers(
        spark, str(p), td.ingest["csv_headers"]
    )
    out = td.pipeline(raw)
    r = [x for x in out.collect() if x.asDict(recursive=True)["aws"]["s3inventory"]["bucket"] == "my-bucket"][0].asDict(recursive=True)
    assert r["file"]["path"] == "path/to/object.txt"
    assert r["file"]["size"] == 1024
    assert r["file"]["hash"] == {"md5": "d41d8cd98f00b204e9800998ecf8427e"}
    assert r["related"] == {"hash": ["d41d8cd98f00b204e9800998ecf8427e"]}
    assert r["cloud"]["provider"] == "aws"
    assert r["cloud"]["service"] == {"name": "s3"}
    inv = r["aws"]["s3inventory"]
    assert inv["bucket"] == "my-bucket"
    assert inv["version_id"] == "v123"
    assert inv["is_latest"] is True and inv["is_delete_marker"] is False
    assert inv["storage_class"] == "STANDARD"
    assert inv["replication_status"] == "COMPLETED"
    assert inv["encryption_status"] == "SSE-S3"
    assert inv["object_lock"]["mode"] == "GOVERNANCE"
    assert inv["object_lock"]["retain_until"] == dt.datetime(2025, 1, 1)
    assert inv["checksum_algorithm"] == "SHA256"
    assert r["event"]["category"] == ["file"]
    assert r["ts"] == dt.datetime(2024, 5, 1, 0, 0, 0)
    short = [x for x in out.collect() if x.asDict(recursive=True)["aws"]["s3inventory"]["bucket"] == "other-bucket"][0].asDict(recursive=True)
    assert short["aws"]["s3inventory"]["storage_class"] is None
    assert short["file"]["size"] == 7


# FIXTURES.md B1 record (fields the ported pack declares)
CLOUDTRAIL_B1 = {
    "eventVersion": "1.08",
    "eventTime": "2024-05-01T12:34:56Z",
    "eventSource": "s3.amazonaws.com",
    "eventName": "GetObject",
    "awsRegion": "us-east-1",
    "sourceIPAddress": "10.1.2.3",
    "userAgent": "aws-cli/2.0",
    "requestID": "r-1",
    "eventID": "e-1",
    "eventType": "AwsApiCall",
    "readOnly": True,
    "userIdentity": {
        "type": "IAMUser",
        "principalId": "AIDAEXAMPLE",
        "userName": "alice",
        "accountId": "123456789012",
        "arn": "arn:aws:iam::123456789012:user/alice",
    },
}


def _cloudtrail_default(spark, tmpdir, record):
    """One record through the aws_cloudtrail pack's ingest path (gzip
    object → route → Records expansion) and its default-table transform."""
    import gzip

    defs = {d.name: d for d in load_log_source(str(ROOT / "aws_cloudtrail"))}
    td = defs["default"]
    input_schema = fields_to_structtype(td.ingest["input_fields"])

    with gzip.open(tmpdir / "trail.json.gz", "wt") as f:
        f.write(json.dumps({"Records": [record]}))

    lines = readers.read_lines_sniffed(spark, str(tmpdir / "*.gz"))
    routed = readers.route_by_path(
        lines, td.ingest["route_rules"], default="default"
    ).filter(F.col("resolved_table") == "default")
    records = readers.expand_records(
        routed.withColumnRenamed("value", "json"),
        "json",
        td.ingest["expand_records_field"],
        input_schema,
    )
    return td.pipeline(records).collect()[0].asDict(recursive=True)


def test_cloudtrail_pack(spark, tmpdir):
    r = _cloudtrail_default(spark, tmpdir, CLOUDTRAIL_B1)

    assert r["ts"] == dt.datetime(2024, 5, 1, 12, 34, 56)
    assert r["event"] == {
        "provider": "s3.amazonaws.com", "action": "GetObject",
        "id": "e-1", "kind": "event", "outcome": "success",
    }
    assert r["cloud"] == {
        "region": "us-east-1", "provider": "aws",
        "account": {"id": "123456789012"},
    }
    assert r["source"] == {"address": "10.1.2.3", "ip": "10.1.2.3"}
    assert r["user"] == {"name": "alice", "id": "AIDAEXAMPLE"}
    assert r["related"] == {"ip": ["10.1.2.3"], "user": ["alice"]}
    assert r["aws"]["cloudtrail"]["user_identity"]["type"] == "IAMUser"
    assert r["aws"]["cloudtrail"]["read_only"] is True


def test_cloudtrail_error_code_sets_failure_outcome(spark, tmpdir):
    """errorCode → event.outcome: a record carrying an errorCode is a
    failed call, and the code itself lands in aws.cloudtrail.error_code."""
    r = _cloudtrail_default(
        spark, tmpdir, {**CLOUDTRAIL_B1, "errorCode": "AccessDenied"}
    )
    assert r["event"]["outcome"] == "failure"
    assert r["aws"]["cloudtrail"]["error_code"] == "AccessDenied"

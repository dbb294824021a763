"""Compiled-stage memo (transform.compiler._STAGE_MEMO) and the landing
path that uses it: a warm pack apply replays memoized ops instead of
rebuilding Column trees, replays equal cold compiles, the streaming-safe
optimizer barrier, and run_log_source's one-job counting."""

from __future__ import annotations

import gc
import gzip
import json
from pathlib import Path

import pytest
from py4j.protocol import MEMORY_COMMAND_NAME, MEMORY_DEL_SUBCOMMAND_NAME
from pyspark.sql import functions as F

from matano_spark.pipeline import _read_raw, run_log_source
from matano_spark.schema.config import load_log_source
from matano_spark.transform import Assign, Fn, P, compile_pipeline
from matano_spark.transform import compiler

PACKS = Path(__file__).resolve().parents[1] / "data" / "log_sources"

OKTA_EVENTS = [
    {
        "published": f"2024-05-01T10:0{i}:00.000Z",
        "eventType": etype,
        "uuid": f"u{i}",
        "severity": "INFO",
        "displayMessage": "User login to Okta",
        "actor": {"id": f"a{i}", "type": "User", "alternateId": f"user{i}@example.com"},
        "client": {"ipAddress": f"10.0.0.{i}", "userAgent": {"os": "Mac OS X"}},
        "outcome": {"result": result, "reason": None if result == "SUCCESS" else "INVALID_CREDENTIALS"},
    }
    for i, (etype, result) in enumerate(
        [
            ("user.session.start", "SUCCESS"),
            ("user.session.start", "FAILURE"),
            ("user.authentication.sso", "SUCCESS"),
            ("user.session.end", "SUCCESS"),
            ("policy.evaluate_sign_on", "DENY"),
        ]
    )
]

CT_RECORDS = [
    {
        "eventVersion": "1.08",
        "eventTime": f"2024-05-01T1{i}:10:00Z",
        "eventSource": "s3.amazonaws.com",
        "eventName": name,
        "awsRegion": "us-east-1",
        "sourceIPAddress": "10.0.0.1",
        "eventID": f"e-{i}",
        "eventType": "AwsApiCall",
        "errorCode": error,
        "userIdentity": {"type": "IAMUser", "userName": "alice", "accountId": "123456789012"},
    }
    for i, (name, error) in enumerate(
        [("GetObject", None), ("PutObject", "AccessDenied"), ("ListBuckets", None)]
    )
]


def _okta_dir(tmp_path: Path) -> Path:
    d = tmp_path / "okta_raw"
    d.mkdir()
    (d / "a.json").write_text("".join(json.dumps(e) + "\n" for e in OKTA_EVENTS))
    return d


def _ct_dir(tmp_path: Path) -> Path:
    d = tmp_path / "ct_raw"
    d.mkdir()
    with gzip.open(d / "trail.json.gz", "wt") as f:
        f.write(json.dumps({"Records": CT_RECORDS}))
    return d


def _table(pack: str, name: str):
    return next(td for td in load_log_source(str(PACKS / pack)) if td.name == name)


def _rows(df) -> list[str]:
    return sorted(str(r) for r in df.collect())


def _py4j_calls(spark, fn):
    """(fn(), py4j commands sent while fn runs). Detach commands are not
    counted: they release objects of earlier calls, whenever py4j's
    finalizers get to them."""
    client = spark.sparkContext._gateway._gateway_client
    sent = [0]
    send = client.send_command
    detach = MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME

    def counting(command, *args, **kwargs):
        sent[0] += not command.startswith(detach)
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        out = fn()
    finally:
        del client.send_command
    return out, sent[0]


def test_warm_okta_apply_makes_few_py4j_calls(spark, tmp_path):
    raw_dir = _okta_dir(tmp_path)
    td = _table("okta", "system")
    td.pipeline(_read_raw(spark, td, str(raw_dir)))
    # a reloaded pack and a fresh frame of the same schema still hit
    td = _table("okta", "system")
    raw = _read_raw(spark, td, str(raw_dir))
    raw.schema
    gc.collect()
    _, calls = _py4j_calls(spark, lambda: td.pipeline(raw))
    assert calls <= 500


@pytest.mark.parametrize(
    "pack,table,make_dir",
    [("okta", "system", _okta_dir), ("aws_cloudtrail", "default", _ct_dir)],
)
def test_memoized_apply_equals_cold_compile(spark, tmp_path, pack, table, make_dir):
    raw_dir = str(make_dir(tmp_path))
    compiler._STAGE_MEMO.clear()
    td = _table(pack, table)
    cold = _rows(td.pipeline(_read_raw(spark, td, raw_dir)))
    entries = len(compiler._STAGE_MEMO)
    assert entries >= 1
    td = _table(pack, table)
    warm = _rows(td.pipeline(_read_raw(spark, td, raw_dir)))
    assert len(compiler._STAGE_MEMO) == entries  # replayed, not recompiled
    assert warm == cold
    assert len(warm) == (len(OKTA_EVENTS) if pack == "okta" else len(CT_RECORDS))


def test_new_schema_or_chunk_setting_compiles_new_entry(spark, monkeypatch):
    steps = [Assign("event.action", Fn("downcase", P("verb")))]
    df = spark.createDataFrame([("GET",)], "verb string")
    wider = spark.createDataFrame([("GET", 1)], "verb string, n int")
    compiler._STAGE_MEMO.clear()
    pipeline = compile_pipeline(steps)
    pipeline(df)
    pipeline(df)
    assert len(compiler._STAGE_MEMO) == 1
    got = pipeline(wider)
    assert len(compiler._STAGE_MEMO) == 2
    assert got.select("event.action", "n").first() == ("get", 1)
    monkeypatch.setenv("MATANO_VRL_STAGE_CHUNK", "1")
    compile_pipeline(steps)(df)
    assert len(compiler._STAGE_MEMO) == 3


def test_memoized_applies_union_and_self_join(spark, tmp_path):
    raw_dir = str(_okta_dir(tmp_path))
    td = _table("okta", "system")
    a = td.pipeline(_read_raw(spark, td, raw_dir))
    b = td.pipeline(_read_raw(spark, td, raw_dir))
    assert a.unionByName(b).count() == 2 * len(OKTA_EVENTS)
    pairs = a.alias("l").join(a.alias("r"), F.col("l.event.id") == F.col("r.event.id"))
    assert pairs.count() == len(OKTA_EVENTS)


def test_okta_pack_runs_on_a_stream(spark, tmp_path):
    """The chunk barrier is a nondeterministic filter Structured
    Streaming accepts: the okta pack transforms a readStream frame to
    the rows the batch apply gives."""
    raw_dir = str(_okta_dir(tmp_path))
    td = _table("okta", "system")
    input_schema = _read_raw(spark, td, raw_dir).schema
    batch = _rows(td.pipeline(_read_raw(spark, td, raw_dir)))
    stream = (
        spark.readStream.text(raw_dir)
        .select(F.from_json("value", input_schema).alias("r"))
        .select("r.*")
    )
    got: list = []
    q = (
        td.pipeline(stream)
        .writeStream.foreachBatch(lambda b, _epoch: got.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    assert q.exception() is None
    assert sorted(str(r) for r in got) == batch


COERCE_PACK = """
name: coerce_demo
ingest:
  input_fields:
    t: string
    n: string
schema:
  ecs_field_names: [event.action]
  fields:
    demo:
      count: long
transform: |
  .ts = to_timestamp!(.t)
  .event.action = "probe"
  .demo.count = .n
  del(.t); del(.n)
"""


def test_run_log_source_sidelines_rows_that_cannot_coerce(spark, tmp_path):
    pack = tmp_path / "pack"
    pack.mkdir()
    (pack / "log_source.yml").write_text(COERCE_PACK)
    raw = tmp_path / "raw"
    raw.mkdir()
    rows = [("10:05", "12"), ("10:30", "not-a-number"), ("11:05", "7")]
    (raw / "a.json").write_text(
        "".join(
            json.dumps({"t": f"2024-05-01T{t}:00Z", "n": n}) + "\n" for t, n in rows
        )
    )
    quarantine = tmp_path / "quarantine"
    res = run_log_source(
        spark, str(pack), str(raw), str(tmp_path / "lake"), str(quarantine)
    )["default"]
    assert (res.rows_in, res.rows_out, res.rows_sidelined) == (3, 2, 1)
    assert sorted(r.demo["count"] for r in res.read().collect()) == [7, 12]
    bad = spark.read.parquet(str(quarantine / "coerce_demo")).collect()
    assert [(r.demo["count"], r.log_source) for r in bad] == [("not-a-number", "coerce_demo")]
    assert bad[0].mismatch_fields == ["demo"]


def test_run_log_source_counts_an_all_sidelined_batch(spark, tmp_path):
    """Nothing lands, so the landing job observes no metrics row; the
    counts still come out and the rows reach the quarantine."""
    pack = tmp_path / "pack"
    pack.mkdir()
    (pack / "log_source.yml").write_text(COERCE_PACK)
    raw = tmp_path / "raw"
    raw.mkdir()
    (raw / "a.json").write_text(
        json.dumps({"t": "2024-05-01T10:05:00Z", "n": "x"}) + "\n"
    )
    quarantine = tmp_path / "quarantine"
    res = run_log_source(
        spark, str(pack), str(raw), str(tmp_path / "lake"), str(quarantine)
    )["default"]
    assert (res.rows_in, res.rows_out, res.rows_sidelined) == (1, 0, 1)
    assert spark.read.parquet(str(quarantine / "coerce_demo")).count() == 1

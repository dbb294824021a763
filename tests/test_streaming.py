"""Streaming tests: ingest with quarantine conservation (S17) and the
stateful alert machine across micro-batches (W2/W3)."""

from __future__ import annotations

import datetime as dt
import json
import shutil
import tempfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from matano_spark.streaming.alerting import run_streaming_alerts_to_dir
from matano_spark.streaming.ingest import ingest_counts, run_ingest
from matano_spark.transform import Assign, Fn, L, P, compile_pipeline


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="matano_spark_test_")
    yield Path(d)
    shutil.rmtree(d, ignore_errors=True)


EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_time", T.StringType()),
        T.StructField("action", T.StringType()),
        T.StructField("src_ip", T.StringType()),
    ]
)


def test_ingest_transform_partition_quarantine(spark, tmpdir):
    src = tmpdir / "src"
    src.mkdir()
    rows = [
        {"event_time": "2024-05-01T10:15:00Z", "action": "GetObject", "src_ip": "10.0.0.1"},
        {"event_time": "2024-05-01T10:45:00Z", "action": "PutObject", "src_ip": "10.0.0.2"},
        {"event_time": "2024-05-01T11:05:00Z", "action": "GetObject", "src_ip": "10.0.0.3"},
    ]
    with open(src / "a.json", "w") as f:
        for r in rows[:2]:
            f.write(json.dumps(r) + "\n")
        f.write("this is not json at all{{{\n")  # → quarantine
    with open(src / "b.json", "w") as f:
        f.write(json.dumps(rows[2]) + "\n")

    pipeline = compile_pipeline(
        [
            Assign("ts", Fn("to_timestamp", P("event_time"))),
            Assign("event.action", P("action")),
            Assign("source.ip", P("src_ip")),
            Assign("ecs.version", L("8.5.0")),
        ]
    )
    out_dir = str(tmpdir / "lake")
    quar_dir = str(tmpdir / "quarantine")
    q = run_ingest(
        spark,
        str(src),
        EVENT_SCHEMA,
        pipeline,
        out_dir,
        str(tmpdir / "ckpt"),
        quar_dir,
        log_source="test_source",
    )
    q.awaitTermination(120)

    lake = spark.read.parquet(out_dir)
    n_out, n_quar = ingest_counts(spark, out_dir, quar_dir)
    assert (n_out, n_quar) == (3, 1)  # rows_in = rows_out + sidelined
    # hour partitioning (W1): 10:15+10:45 in one partition, 11:05 in next
    parts = {r.ts_hour for r in lake.select("ts_hour").collect()}
    assert parts == {"2024-05-01-10", "2024-05-01-11"}
    got = {r.asDict(recursive=True)["event"]["action"] for r in lake.collect()}
    assert got == {"GetObject", "PutObject"}
    quar = spark.read.parquet(quar_dir).collect()
    assert quar[0].log_source == "test_source"
    assert "not json" in quar[0].raw

    # exactly-once: restart over the same directory → no new rows (S16)
    q2 = run_ingest(
        spark, str(src), EVENT_SCHEMA, pipeline, out_dir,
        str(tmpdir / "ckpt"), quar_dir, log_source="test_source",
    )
    q2.awaitTermination(120)
    assert ingest_counts(spark, out_dir, quar_dir) == (3, 1)


def test_ingest_hours_are_utc_in_non_utc_session(spark, tmpdir):
    """The hour key is the event's UTC hour whatever the session zone:
    the same events land in the same partitions as under UTC."""
    src = tmpdir / "src"
    src.mkdir()
    with open(src / "a.json", "w") as f:
        for t in ("2024-05-01T10:15:00Z", "2024-05-01T10:45:00Z", "2024-05-01T11:05:00Z"):
            f.write(json.dumps({"event_time": t, "action": "GetObject", "src_ip": "10.0.0.1"}) + "\n")
    pipeline = compile_pipeline(
        [
            Assign("ts", Fn("to_timestamp", P("event_time"))),
            Assign("event.action", P("action")),
        ]
    )
    out_dir = str(tmpdir / "lake")
    key = "spark.sql.session.timeZone"
    before = spark.conf.get(key)
    spark.conf.set(key, "America/New_York")
    try:
        q = run_ingest(
            spark, str(src), EVENT_SCHEMA, pipeline, out_dir,
            str(tmpdir / "ckpt"), str(tmpdir / "quarantine"),
        )
        q.awaitTermination(120)
    finally:
        spark.conf.set(key, before)
    parts = {r.ts_hour for r in spark.read.parquet(out_dir).select("ts_hour").collect()}
    assert parts == {"2024-05-01-10", "2024-05-01-11"}


def test_streaming_alerts_state_across_batches(spark, tmpdir):
    """Matches arrive in two micro-batches; the alert anchored in batch
    one must accumulate counts (not reset) in batch two."""
    t0 = dt.datetime(2024, 5, 1, 12, 0, 0)
    src = tmpdir / "matches"
    src.mkdir()

    def write_file(name, minutes, mtime):
        with open(src / name, "w") as f:
            for i, m in enumerate(minutes):
                f.write(
                    json.dumps(
                        {
                            "rule_name": "brute_force",
                            "dedupe": "1.2.3.4",
                            "ts": (t0 + dt.timedelta(minutes=m)).isoformat(),
                            "match_id": f"{name}-{i}",
                        }
                    )
                    + "\n"
                )
        # FileStreamSource orders batches by mtime — same-second mtimes
        # can flip batch order and scramble the state timeline
        import os

        os.utime(src / name, (mtime, mtime))

    write_file("batch1.json", [0, 2, 5], 1_700_000_000)
    write_file("batch2.json", [9, 12], 1_700_000_100)  # 5th match → activation

    schema = T.StructType(
        [
            T.StructField("rule_name", T.StringType()),
            T.StructField("dedupe", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("match_id", T.StringType()),
        ]
    )
    matches = (
        spark.readStream.format("json")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)  # force two micro-batches
        .load(str(src))
    )
    out_dir = str(tmpdir / "alerts")
    q = run_streaming_alerts_to_dir(
        matches, out_dir, str(tmpdir / "ckpt"),
        threshold=5, window_seconds=15 * 60,
    )
    q.awaitTermination(180)

    alerts = [r.asDict() for r in spark.read.parquet(out_dir).collect()]
    assert len(alerts) == 1
    a = alerts[0]
    assert a["match_count"] == 5
    assert a["activated"] is True
    assert a["first_matched_at"] == t0
    assert a["created_at"] == t0 + dt.timedelta(minutes=12)


def test_streaming_detections_to_alerts_chain(spark, tmpdir):
    """§3.2 fully streaming: events stream → Python detections
    (mapInPandas on the stream) → stateful alert machine → merged
    alert state. The same Detection object drives batch and stream."""
    from matano_spark.detections import Detection, run_detections
    from matano_spark.streaming.alerting import run_streaming_alerts_to_dir

    t0 = dt.datetime(2024, 5, 1, 12, 0, 0)
    src = tmpdir / "events"
    src.mkdir()

    def write_events(name, rows, mtime):
        with open(src / name, "w") as f:
            for i, (m, outcome, ip) in enumerate(rows):
                f.write(
                    json.dumps(
                        {
                            "event_id": f"{name}-{i}",
                            "ts": (t0 + dt.timedelta(minutes=m)).isoformat(),
                            "outcome": outcome,
                            "src_ip": ip,
                        }
                    )
                    + "\n"
                )
        import os

        os.utime(src / name, (mtime, mtime))

    write_events(
        "e1.json",
        [(0, "failure", "1.2.3.4"), (2, "failure", "1.2.3.4"), (3, "success", "1.2.3.4")],
        1_700_000_000,
    )
    write_events(
        "e2.json",
        [(5, "failure", "1.2.3.4"), (9, "failure", "1.2.3.4"), (12, "failure", "1.2.3.4")],
        1_700_000_100,
    )

    schema = T.StructType(
        [
            T.StructField("event_id", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("outcome", T.StringType()),
            T.StructField("src_ip", T.StringType()),
        ]
    )
    events = (
        spark.readStream.format("json")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(str(src))
    )
    det = Detection(
        name="bf",
        detect=lambda r: r.deepget("outcome") == "failure",
        dedupe=lambda r: r.deepget("src_ip"),
        severity="high",
    )
    matches = run_detections(events, [det], key_col="event_id")
    out_dir = str(tmpdir / "alerts")
    q = run_streaming_alerts_to_dir(
        matches, out_dir, str(tmpdir / "ck"), threshold=5, window_seconds=900
    )
    q.awaitTermination(240)

    alerts = [r.asDict() for r in spark.read.parquet(out_dir).collect()]
    assert len(alerts) == 1
    a = alerts[0]
    assert a["match_count"] == 5  # success row never matched
    assert a["activated"] is True
    assert a["first_matched_at"] == t0
    assert a["created_at"] == t0 + dt.timedelta(minutes=12)


def _write_matches(src, name, rows, mtime):
    """rows: list of (rule, dedupe, ts_iso, match_id)."""
    with open(src / name, "w") as f:
        for rule, dd, ts, mid in rows:
            f.write(
                json.dumps(
                    {"rule_name": rule, "dedupe": dd, "ts": ts, "match_id": mid}
                )
                + "\n"
            )
    import os

    os.utime(src / name, (mtime, mtime))


MATCH_SCHEMA = T.StructType(
    [
        T.StructField("rule_name", T.StringType()),
        T.StructField("dedupe", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("match_id", T.StringType()),
    ]
)


def test_alert_sink_preserves_untouched_partitions(spark, tmpdir):
    """A later run whose upserts touch only hour B must not delete the
    alert landed in hour A (dynamic partition overwrite, not full
    rewrite — the O(history)-per-batch scale fix)."""
    t = lambda h, m: dt.datetime(2024, 5, 1, h, m).isoformat()
    src1 = tmpdir / "m1"
    src1.mkdir()
    _write_matches(
        src1, "b1.json", [("r1", "k1", t(10, 0), "m1")], 1_700_000_000
    )
    out_dir = str(tmpdir / "alerts")
    m1 = spark.readStream.format("json").schema(MATCH_SCHEMA).load(str(src1))
    q = run_streaming_alerts_to_dir(
        m1, out_dir, str(tmpdir / "ck1"), threshold=1, window_seconds=900
    )
    q.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == 1

    # second, independent run: alert anchored in a DIFFERENT hour
    src2 = tmpdir / "m2"
    src2.mkdir()
    _write_matches(
        src2, "b2.json", [("r2", "k2", t(14, 0), "m2")], 1_700_000_100
    )
    m2 = spark.readStream.format("json").schema(MATCH_SCHEMA).load(str(src2))
    q2 = run_streaming_alerts_to_dir(
        m2, out_dir, str(tmpdir / "ck2"), threshold=1, window_seconds=900
    )
    q2.awaitTermination(120)

    alerts = spark.read.parquet(out_dir)
    assert alerts.count() == 2  # hour-10 alert survived the hour-14 write
    hours = {r.ts_hour for r in alerts.select("ts_hour").collect()}
    assert hours == {"2024-05-01-10", "2024-05-01-14"}


def test_late_match_within_watermark_folds_into_alert(spark, tmpdir):
    """Event-time semantics: a late match (ts earlier than already-seen
    events, within the watermark delay) still folds into its open
    alert; a match past the dedup window opens a NEW alert id."""
    t0 = dt.datetime(2024, 5, 1, 12, 0, 0)
    iso = lambda m: (t0 + dt.timedelta(minutes=m)).isoformat()
    src = tmpdir / "m"
    src.mkdir()
    _write_matches(
        src,
        "b1.json",
        [("r", "k", iso(0), "a"), ("r", "k", iso(8), "b")],
        1_700_000_000,
    )
    # late row at minute 4 (watermark after b1 ≈ min 8 - 10min < 4) plus
    # a row far past the 15-min window → second alert id
    _write_matches(
        src,
        "b2.json",
        [("r", "k", iso(4), "late"), ("r", "k", iso(40), "new")],
        1_700_000_100,
    )
    matches = (
        spark.readStream.format("json")
        .schema(MATCH_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .load(str(src))
    )
    out_dir = str(tmpdir / "alerts")
    q = run_streaming_alerts_to_dir(
        matches, out_dir, str(tmpdir / "ck"), threshold=1, window_seconds=900
    )
    q.awaitTermination(180)

    alerts = sorted(
        (r.asDict() for r in spark.read.parquet(out_dir).collect()),
        key=lambda a: a["first_matched_at"],
    )
    assert len(alerts) == 2
    first, second = alerts
    assert first["match_count"] == 3  # a, b, late all folded
    assert first["first_matched_at"] == t0
    assert second["match_count"] == 1
    assert second["first_matched_at"] == t0 + dt.timedelta(minutes=40)
    assert first["alert_id"] != second["alert_id"]


def _stream_upserts(spark, src, ckpt, **kwargs):
    """Run `streaming_alerts` over the match files in `src`, one file
    per micro-batch in mtime order; returns each alert_id's last upsert."""
    from matano_spark.streaming.alerting import streaming_alerts

    matches = (
        spark.readStream.format("json")
        .schema(MATCH_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .load(str(src))
    )
    last = {}

    def keep_last(batch, epoch_id):
        for r in batch.collect():
            last[r.alert_id] = r

    q = (
        streaming_alerts(matches, **kwargs)
        .writeStream.foreachBatch(keep_last)
        .outputMode("update")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    return sorted(last.values())


def test_stream_equals_batch_for_in_order_batches(spark, tmpdir):
    """In-order matches fold to the same alerts in streaming as in batch,
    whether they arrive as 1, 2 or 3 micro-batches, with per-rule
    (threshold, window) config."""
    import random

    from matano_spark.operators.alerts import aggregate_alerts

    t0 = dt.datetime(2024, 5, 1, 12, 0, 0)
    rnd = random.Random(7)
    rows = sorted(
        (
            t0 + dt.timedelta(seconds=rnd.randrange(4 * 3600)),
            rnd.choice(["fast", "slow"]),
            rnd.choice(["k1", "k2", "k3"]),
        )
        for _ in range(90)
    )
    matches = [
        (rule, dd, ts.isoformat(), f"m{i:03d}")
        for i, (ts, rule, dd) in enumerate(rows)
    ]
    cfg = {"fast": (2, 600), "slow": (4, 3600)}
    batch = sorted(
        tuple(r)
        for r in aggregate_alerts(
            spark.createDataFrame(
                [(r, d, dt.datetime.fromisoformat(ts), m) for r, d, ts, m in matches],
                MATCH_SCHEMA,
            ),
            rule_config=cfg,
        ).collect()
    )
    assert len(batch) > 6  # more alerts than keys: re-anchor exercised

    for n_batches in (1, 2, 3):
        src = tmpdir / f"m{n_batches}"
        src.mkdir()
        size = -(-len(matches) // n_batches)
        for b in range(n_batches):
            _write_matches(
                src, f"b{b}.json", matches[b * size:(b + 1) * size],
                1_700_000_000 + 100 * b,
            )
        got = _stream_upserts(
            spark, src, tmpdir / f"ck{n_batches}", rule_config=cfg
        )
        assert got == batch, f"{n_batches} micro-batches"


def test_alert_sink_applies_rule_config(spark, tmpdir):
    """run_streaming_alerts_to_dir folds each rule with its own
    (threshold, window): the sink's table equals the batch fold with
    the same rule_config."""
    from matano_spark.operators.alerts import ALERT_SCHEMA, aggregate_alerts

    t0 = dt.datetime(2024, 5, 1, 12, 0, 0)
    rows = [
        (rule, dd, t0 + dt.timedelta(minutes=m), f"{rule}-{dd}-{m}")
        for rule, dd, minutes in [
            ("fast", "k1", (0, 3, 8, 20, 22)),
            ("fast", "k2", (1,)),
            ("slow", "k1", (0, 10, 30, 50, 70)),
        ]
        for m in minutes
    ]
    cfg = {"fast": (2, 600), "slow": (3, 3600)}
    batch = sorted(
        tuple(r)
        for r in aggregate_alerts(
            spark.createDataFrame(rows, MATCH_SCHEMA), rule_config=cfg
        ).collect()
    )
    src = tmpdir / "m"
    src.mkdir()
    ordered = sorted(rows, key=lambda r: r[2])
    for b, part in enumerate((ordered[:6], ordered[6:])):
        _write_matches(
            src, f"b{b}.json",
            [(r, d, ts.isoformat(), m) for r, d, ts, m in part],
            1_700_000_000 + 100 * b,
        )
    matches = (
        spark.readStream.format("json")
        .schema(MATCH_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .load(str(src))
    )
    out_dir = str(tmpdir / "alerts")
    q = run_streaming_alerts_to_dir(
        matches, out_dir, str(tmpdir / "ck"), rule_config=cfg
    )
    q.awaitTermination(240)
    sunk = spark.read.parquet(out_dir).select(*ALERT_SCHEMA.names)
    assert sorted(tuple(r) for r in sunk.collect()) == batch
    assert {r[0] for r in batch} == {"fast", "slow"}


def test_streaming_fold_at_epoch_zero_keeps_created_at():
    """A threshold-1 alert activating at 1970-01-01T00:00:00Z keeps its
    created_at in the streaming fold, as in batch. The fold is driven
    directly with a GroupState: Spark's watermark filter drops event
    times at or below the first batch's watermark (0), so a match at
    epoch 0 never reaches the fold through a stream."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from matano_spark.streaming.alerting import STATE_SCHEMA, make_fold

    state = GroupState(
        optionalValue=None, batchProcessingTimeMs=0, eventTimeWatermarkMs=0,
        timeoutConf=GroupStateTimeout.EventTimeTimeout, hasTimedOut=False,
        watermarkPresent=True, defined=False, updated=False, removed=False,
        timeoutTimestamp=GroupState.NO_TIMESTAMP, keyAsUnsafe=b"",
        valueSchema=STATE_SCHEMA,
    )
    pdf = pd.DataFrame(
        {
            "rule_name": ["r"],
            "dedupe": ["k"],
            "ts": pd.to_datetime(["1970-01-01T00:00:00"]),
            "match_id": ["m0"],
        }
    )
    (out,) = make_fold(1, 3600)(("r", "k"), iter([pdf]), state)
    assert len(out) == 1
    a = out.iloc[0]
    assert a["activated"]
    assert a["first_matched_at"] == pd.Timestamp(0)
    assert a["created_at"] == pd.Timestamp(0)
    assert state.get == (0, 1, True, 0, 0)

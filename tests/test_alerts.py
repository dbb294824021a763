"""Alert state machine scenarios (FIXTURES.md B7; oracle logic
lake_writer/src/matano_alerts.rs:92-307) + detection harness contract."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F
from pyspark.sql import types as T

from matano_spark.detections import DeepDict, Detection, run_detections
from matano_spark.operators.alerts import aggregate_alerts
from tests.alert_reference import reference_alert_rows

T0 = dt.datetime(2024, 5, 1, 12, 0, 0)

MATCH_SCHEMA = T.StructType(
    [
        T.StructField("rule_name", T.StringType()),
        T.StructField("dedupe", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("match_id", T.StringType()),
    ]
)


def mk_matches(spark, rows):
    return spark.createDataFrame(
        [("brute_force", ip, T0 + dt.timedelta(minutes=m), f"m{i}") for i, (ip, m) in enumerate(rows)],
        MATCH_SCHEMA,
    )


def fold(spark, rows, threshold=5, window_minutes=15):
    df = mk_matches(spark, rows)
    out = aggregate_alerts(
        df, threshold=threshold, window_seconds=window_minutes * 60
    )
    return sorted(
        (r.asDict() for r in out.collect()),
        key=lambda r: (r["dedupe"], r["first_matched_at"]),
    )


def test_below_threshold_not_activated(spark):
    # Scenario 1: 4 failures within 15 min → one alert, not activated
    alerts = fold(spark, [("1.2.3.4", m) for m in (0, 2, 5, 9)])
    assert len(alerts) == 1
    a = alerts[0]
    assert a["match_count"] == 4
    assert a["activated"] is False
    assert a["created_at"] is None


def test_fifth_match_activates(spark):
    # Scenario 2: 5th failure within window → activated, created stamped
    alerts = fold(spark, [("1.2.3.4", m) for m in (0, 2, 5, 9, 12)])
    assert len(alerts) == 1
    a = alerts[0]
    assert a["activated"] is True
    assert a["match_count"] == 5
    assert a["created_at"] == T0 + dt.timedelta(minutes=12)
    assert a["first_matched_at"] == T0


def test_window_expiry_creates_new_alert(spark):
    # Scenario 3: match after window expiry → NEW alert id, fresh anchor
    alerts = fold(spark, [("1.2.3.4", m) for m in (0, 2, 5, 9, 12, 20)])
    assert len(alerts) == 2
    first, second = alerts
    assert first["match_count"] == 5 and first["activated"] is True
    assert second["match_count"] == 1 and second["activated"] is False
    assert second["first_matched_at"] == T0 + dt.timedelta(minutes=20)
    assert first["alert_id"] != second["alert_id"]


def test_boundary_exactly_at_window_is_new_alert(spark):
    # match at anchor + exactly window opens a new alert (>= semantics)
    alerts = fold(spark, [("1.2.3.4", 0), ("1.2.3.4", 15)])
    assert len(alerts) == 2


def test_interleaved_keys_independent(spark):
    # Scenario 4: two IPs interleaved → two independent alerts
    rows = [("1.1.1.1", 0), ("2.2.2.2", 1), ("1.1.1.1", 2), ("2.2.2.2", 3)]
    alerts = fold(spark, rows, threshold=2)
    assert len(alerts) == 2
    by_key = {a["dedupe"]: a for a in alerts}
    assert by_key["1.1.1.1"]["match_count"] == 2
    assert by_key["2.2.2.2"]["match_count"] == 2
    assert all(a["activated"] for a in alerts)


def test_deepdict_deepget():
    d = DeepDict({"a": {"b": {"c": 1}}, "x": None})
    assert d.deepget("a.b.c") == 1
    assert d.deepget("a.b.missing", "dflt") == "dflt"
    assert d.deepget("nope.deep") is None
    assert d.deepget("x", "dflt") == "dflt"  # null ≡ missing


def test_detection_harness_hooks_and_errors(spark):
    df = spark.createDataFrame(
        [(1, "login", "failure", T0), (2, "login", "success", T0)],
        ["id", "action", "outcome", "ts"],
    )
    good = Detection(
        name="failed_login",
        detect=lambda r: r.deepget("outcome") == "failure",
        dedupe=lambda r: r.deepget("action"),
    )
    crashy = Detection(
        name="crashy", detect=lambda r: 1 / 0 > 0  # must not kill the batch
    )
    out = run_detections(df, [good, crashy], ts_col="ts", key_col="id").collect()
    assert len(out) == 1
    m = out[0]
    assert m.rule_name == "failed_login"
    assert m.dedupe == "login"
    assert m.ts == T0


def test_aggregate_alerts_per_rule_matches_reference(spark):
    """aggregate_alerts must be row-identical to the pure-Python
    reference fold on a bursty multi-key synthetic, with each of the
    three rules folded under its own (threshold, window)."""
    df = spark.range(20000).select(
        F.concat(F.lit("rule"), (F.col("id") % 3).cast("string")).alias(
            "rule_name"
        ),
        F.concat(F.lit("k"), (F.col("id") % 50).cast("string")).alias("dedupe"),
        F.timestamp_micros(
            (
                # a daily wrap + jitter spreads each key's matches over
                # one day, so every window exercises open/extend/
                # activate AND re-anchor
                F.lit(1700000000000000)
                + (F.col("id") * 60000000) % 86400000000
                + (F.col("id") % 97) * 1234567
            ).cast("bigint")
        ).alias("ts"),
        F.col("id").alias("match_id"),
    )
    cfg = {"rule0": (3, 3600), "rule1": (1, 900), "rule2": (5, 7200)}
    # small Arrow batches split keys across batches, so the fold must
    # carry a key's open alert from one batch to the next
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        got = sorted(
            tuple(r)
            for r in aggregate_alerts(df, 2, 600, rule_config=cfg).collect()
        )
    finally:
        spark.conf.set(key, before)
    expect = reference_alert_rows(
        [tuple(r) for r in df.select("rule_name", "dedupe", "ts").collect()],
        cfg,
    )
    assert got == expect
    counts = {r[5] for r in got}  # match_count column
    assert any(c > 1 for c in counts)  # multi-match alerts exercised
    assert len(got) > 150  # more alerts than keys: re-anchor exercised
    # every rule folded under its own config: rule1 (threshold 1)
    # activates every alert, rule2 (threshold 5) leaves some pending
    assert all(r[6] for r in got if r[0] == "rule1")
    assert not all(r[6] for r in got if r[0] == "rule2")

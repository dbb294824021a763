"""Alert state machine: rule matches → deduplicated, thresholded alerts
(SURVEY.md A1-A3, W2-W3; oracle logic: lake_writer/src/
matano_alerts.rs:92-307).

Semantics (fixed-anchor deduplication window, NOT gap sessions):
- matches for the same (rule_name, dedupe) key within
  `window` seconds of the alert's FIRST match belong to that alert
  (matano_alerts.rs:110-115);
- the first match at/after `first_matched_at + window` opens a NEW
  alert with a fresh id and anchor (:172-196);
- an alert activates when its match count reaches `threshold`;
  `created_at` is stamped at the activating match (:199-237).

The anchor depends on the running state, so this is a per-key
sequential fold. `fold_alerts` is that recurrence, written once in
plain Python over one key's matches in time order, and both engines
run it: `aggregate_alerts` (batch: repartition by key, sort, one
mapInPandas pass) and matano_spark.streaming.alerting
(applyInPandasWithState, starting from the key's GroupState). The open
alert is a STATE_SCHEMA tuple; `alert_row` turns one into a FOLD_SCHEMA
row, and `alert_instants` turns those into ALERT_SCHEMA rows.

Event time enters the Python fold as `unix_micros(ts)` and leaves it as
micros that `timestamp_micros` turns back into timestamps in the JVM.
Python never sees a timestamp, which pandas would render in the session
zone, so alerts do not depend on it.

Alert ids are deterministic: md5(rule:dedupe:<UTC epoch µs of
first_matched_at>) — replayable, idempotent on reprocessing, and
oracle-checkable (the reference mints uuids; determinism is strictly
stronger).
"""

from __future__ import annotations

import hashlib
from itertools import groupby

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

ALERT_SCHEMA = T.StructType(
    [
        T.StructField("rule_name", T.StringType()),
        T.StructField("dedupe", T.StringType()),
        T.StructField("alert_id", T.StringType()),
        T.StructField("first_matched_at", T.TimestampType()),
        T.StructField("last_matched_at", T.TimestampType()),
        T.StructField("match_count", T.LongType()),
        T.StructField("activated", T.BooleanType()),
        T.StructField("created_at", T.TimestampType()),
    ]
)

# what the Python fold emits: ALERT_SCHEMA with its instants as UTC
# epoch micros
FOLD_SCHEMA = T.StructType(
    [
        T.StructField(f.name, T.LongType())
        if isinstance(f.dataType, T.TimestampType)
        else f
        for f in ALERT_SCHEMA.fields
    ]
)

# typed columns — an untyped empty frame infers float64 and fails the
# Arrow cast; created_at is nullable, so it takes pandas' nullable ints
ALERT_DTYPES = {
    "rule_name": "object",
    "dedupe": "object",
    "alert_id": "object",
    "first_matched_at": "int64",
    "last_matched_at": "int64",
    "match_count": "int64",
    "activated": "bool",
    "created_at": "Int64",
}

# the open alert of one (rule_name, dedupe) key
STATE_SCHEMA = T.StructType(
    [
        T.StructField("anchor_us", T.LongType()),
        T.StructField("count", T.LongType()),
        T.StructField("activated", T.BooleanType()),
        T.StructField("created_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
    ]
)


def alert_id_for(rule_name: str, dedupe: str, first_us: int) -> str:
    return hashlib.md5(f"{rule_name}:{dedupe}:{first_us}".encode()).hexdigest()


def rule_settings(
    rule_config: dict[str, tuple[int, int]] | None,
    threshold: int,
    window_seconds: int,
):
    """rule_name → (threshold, window_seconds): the rule's entry in
    `rule_config` (the detection.yml alert block), else the global
    defaults."""
    cfg = dict(rule_config or {})
    return lambda rule: cfg.get(rule, (threshold, window_seconds))


def fold_alerts(
    state: tuple | None, ts_us: list[int], threshold: int, window_us: int
) -> tuple[list[tuple], tuple | None]:
    """Fold one key's matches (epoch µs, in time order) into its open
    alert `state` (a STATE_SCHEMA tuple, None when there is none).
    Returns (closed, state): the alerts these matches closed, and the
    open alert after the last one."""
    closed = []
    anchor, count, activated, created, last = state or (None, 0, False, None, None)
    for t in ts_us:
        if anchor is None or t - anchor >= window_us:
            if anchor is not None:
                closed.append((anchor, count, activated, created, last))
            anchor, count, activated, created = t, 0, False, None
        count += 1
        last = t
        if not activated and count >= threshold:
            activated, created = True, t
    if anchor is None:
        return closed, None
    return closed, (anchor, count, activated, created, last)


def alert_row(rule_name: str, dedupe: str, state: tuple) -> dict:
    anchor_us, count, activated, created_us, last_us = state
    return {
        "rule_name": rule_name,
        "dedupe": dedupe,
        "alert_id": alert_id_for(rule_name, dedupe, anchor_us),
        "first_matched_at": anchor_us,
        "last_matched_at": last_us,
        "match_count": count,
        "activated": activated,
        "created_at": created_us,
    }


def alert_frame(rows: list[dict]) -> pd.DataFrame:
    return pd.DataFrame(rows, columns=list(ALERT_DTYPES)).astype(ALERT_DTYPES)


def alert_instants(folded: DataFrame) -> DataFrame:
    """FOLD_SCHEMA rows → ALERT_SCHEMA rows: the micros become
    timestamps in the JVM."""
    return folded.select(
        *[
            F.timestamp_micros(f.name).alias(f.name)
            if isinstance(f.dataType, T.TimestampType)
            else F.col(f.name)
            for f in ALERT_SCHEMA.fields
        ]
    )


def aggregate_alerts(
    matches: DataFrame,
    threshold: int = 1,
    window_seconds: int = 3600,
    rule_config: dict[str, tuple[int, int]] | None = None,
) -> DataFrame:
    """Fold rule matches into alerts (batch form of the state machine).

    matches: columns (rule_name, dedupe, ts, match_id). Returns one row
    per alert with ALERT_SCHEMA.

    `rule_config` maps rule_name → (threshold, window_seconds),
    overriding the global defaults per rule — the reference configures
    both per detection (detection.yml alert block), so one pass must
    fold rules with different thresholds/windows together. The map is
    rule-count-sized and ships in the task closure (no join needed).

    Execution: repartition by key and sort each partition by (key, ts,
    match_id), so every key is one contiguous run; mapInPandas folds
    the runs in order, carrying a key's open alert across Arrow
    batches. No key's matches are ever held as one array, so a hot
    dedupe key costs linear time on its reducer. mapInPandas beats
    per-group applyInPandas by an order of magnitude when keys are many
    and groups are small.
    """
    settings = rule_settings(rule_config, threshold, window_seconds)

    def fold_sorted(pdfs):
        key, state, rows = None, None, []
        for pdf in pdfs:
            ts_us = pdf["ts_us"].tolist()
            start = 0
            for k, run in groupby(zip(pdf["rule_name"], pdf["dedupe"])):
                end = start + len(list(run))
                if k != key:
                    if state is not None:
                        rows.append(alert_row(*key, state))
                    key, state = k, None
                thr, win_s = settings(k[0])
                closed, state = fold_alerts(
                    state, ts_us[start:end], thr, win_s * 1_000_000
                )
                rows += [alert_row(*k, s) for s in closed]
                start = end
            if len(rows) >= 10_000:
                yield alert_frame(rows)
                rows = []
        if state is not None:
            rows.append(alert_row(*key, state))
        yield alert_frame(rows)

    return alert_instants(
        matches.select(
            "rule_name", "dedupe", F.unix_micros("ts").alias("ts_us"), "match_id"
        )
        .repartition("rule_name", "dedupe")
        .sortWithinPartitions("rule_name", "dedupe", "ts_us", "match_id")
        .mapInPandas(fold_sorted, FOLD_SCHEMA)
    )


def aggregate_context(
    matches: DataFrame,
    alert_key_cols: list[str],
    context_cols: list[str],
) -> DataFrame:
    """A4 alert-context aggregation (ref: alert_writer/src/main.rs:
    54-64 flattener, :345-400 VRL merge program): per alert, each
    context field's distinct values merge into a sorted list; the
    context lands as map<field, array<string>> + match_count.

    Shape: explode to (alert_key, field, value) → collect_set →
    map_from_entries — two shuffles on the alert key, all built-in.
    """
    from pyspark.sql import functions as F

    kv = None
    for c in context_cols:
        part = matches.select(
            *alert_key_cols,
            F.lit(c).alias("ctx_key"),
            F.col(c).cast("string").alias("ctx_value"),
        )
        kv = part if kv is None else kv.unionByName(part)
    per_key = (
        kv.filter(F.col("ctx_value").isNotNull())
        .groupBy(*alert_key_cols, "ctx_key")
        .agg(F.array_sort(F.collect_set("ctx_value")).alias("vals"))
    )
    counts = matches.groupBy(*alert_key_cols).agg(
        F.count(F.lit(1)).alias("match_count")
    )
    ctx = per_key.groupBy(*alert_key_cols).agg(
        F.map_from_entries(
            F.array_sort(
                F.collect_list(F.struct(F.col("ctx_key"), F.col("vals")))
            )
        ).alias("context")
    )
    return ctx.join(counts, alert_key_cols)


def context_diff(
    old: DataFrame, new: DataFrame, key_cols: list[str]
) -> DataFrame:
    """A5 context CDC (ref: alert_writer/src/main.rs:400+): per alert,
    which context fields changed between two aggregation generations —
    the payload the forwarder delivers. Returns rows with
    changed = map<field, array<string>> of NEW values for fields whose
    value set changed or appeared."""
    from pyspark.sql import functions as F

    o = old.select(*key_cols, F.col("context").alias("old_ctx"))
    n = new.select(*key_cols, F.col("context").alias("new_ctx"))
    joined = n.join(o, key_cols, "left")
    changed = F.map_filter(
        F.col("new_ctx"),
        lambda k, v: F.col("old_ctx").isNull()
        | ~F.array_contains(F.map_keys(F.col("old_ctx")), k)
        | (F.element_at(F.col("old_ctx"), k) != v),
    )
    return joined.select(
        *key_cols, changed.alias("changed")
    ).filter(F.size(F.map_keys(F.col("changed"))) > 0)


def alert_rows(matches: DataFrame, alerts: DataFrame) -> DataFrame:
    """Synthesize matano_alerts-shaped rows (FIXTURES.md B7; ref:
    detection/common.py:310-345 rule-match synthesis +
    data/managed/log_sources/matano_alerts schema): one row per rule
    match carrying the nested matano.alert struct with the alert-level
    state (id, activated, first_matched_at, created) joined in by
    (rule_name, dedupe) for the window containing the match ts."""
    from pyspark.sql import functions as F

    m = matches.alias("m")
    a = alerts.alias("a")
    joined = m.join(
        a,
        (F.col("m.rule_name") == F.col("a.rule_name"))
        & (F.col("m.dedupe") == F.col("a.dedupe"))
        & (F.col("m.ts") >= F.col("a.first_matched_at"))
        & (F.col("m.ts") <= F.col("a.last_matched_at")),
    )
    alert_struct = F.struct(
        F.col("a.alert_id").alias("id"),
        F.col("m.title").alias("title"),
        F.col("m.severity").alias("severity"),
        F.col("m.dedupe").alias("dedupe"),
        F.col("a.activated").alias("activated"),
        F.col("a.created_at").alias("created"),
        F.col("a.first_matched_at").alias("first_matched_at"),
        F.col("m.ts").alias("original_timestamp"),
        F.col("m.original_event").alias("original_event"),
        F.struct(
            F.col("m.rule_name").alias("name"),
            F.struct(F.col("m.match_id").alias("id")).alias("match"),
        ).alias("rule"),
    )
    return joined.select(
        F.col("m.ts").alias("ts"),
        F.struct(alert_struct.alias("alert")).alias("matano"),
    )

"""Streaming alert state machine: the batch fold of operators.alerts
run continuously with keyed state (SURVEY.md W2/W3 Spark mapping:
"flatMapGroupsWithState with event-time timeout = dedup window" —
PySpark's applyInPandasWithState).

State per (rule_name, dedupe) is the key's open alert (STATE_SCHEMA).
Each micro-batch sorts the key's matches by (event time µs, match_id) and folds
them with `operators.alerts.fold_alerts`, starting from the state —
the same recurrence the batch operator runs — then emits upsert rows
for every alert it touched; downstream a `foreachBatch` MERGE keeps
the alerts table current (J5 — the reference rewrites whole
partitions; row-level upsert is the Spark equivalent, SURVEY §7
"alert partition rewrites").

State eviction: a key whose window expired long ago only holds one
small tuple; event-time timeouts evict idle keys so state stays
bounded by the active key set, not history.
"""

from __future__ import annotations

from typing import Iterable, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from pyspark.sql import functions as F

from matano_spark.operators.alerts import (
    FOLD_SCHEMA,
    STATE_SCHEMA,
    alert_frame,
    alert_instants,
    alert_row,
    fold_alerts,
    rule_settings,
)


def make_fold(
    threshold: int,
    window_seconds: int,
    rule_config: dict[str, tuple[int, int]] | None = None,
):
    settings = rule_settings(rule_config, threshold, window_seconds)

    def fold(
        key: Tuple[str, str],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        rule_name, dedupe = key
        thr, win_s = settings(rule_name)
        prior = tuple(state.get) if state.exists else None
        pdf = pd.concat(list(pdfs)).sort_values(
            ["ts_us", "match_id"], kind="mergesort"
        )
        closed, open_alert = fold_alerts(
            prior, pdf["ts_us"].tolist(), thr, win_s * 1_000_000
        )
        state.update(open_alert)
        # event-time eviction: the key is dead once the WATERMARK
        # (not wall-clock) passes 4 dedup windows beyond its last
        # match — a replayed/backfilled stream evicts identically
        # (SURVEY W2 "event-time timeout = dedup window")
        state.setTimeoutTimestamp(open_alert[4] // 1000 + win_s * 1000 * 4)
        # a prior alert closed without a new match is unchanged
        touched = [a for a in closed if a != prior] + [open_alert]
        yield alert_frame([alert_row(rule_name, dedupe, a) for a in touched])

    return fold


def streaming_alerts(
    matches: DataFrame,
    threshold: int = 1,
    window_seconds: int = 3600,
    watermark_delay: str = "10 minutes",
    rule_config: dict[str, tuple[int, int]] | None = None,
) -> DataFrame:
    """matches stream (rule_name, dedupe, ts, match_id) → alert upsert
    stream (ALERT_SCHEMA). Output mode must be `update`. Late matches
    within `watermark_delay` still fold into their alert; older ones
    are dropped by the watermark (ref matano_alerts.rs:172-196 window
    semantics)."""
    return alert_instants(
        matches.withWatermark("ts", watermark_delay)
        .select(
            "rule_name", "dedupe", "ts",
            F.unix_micros("ts").alias("ts_us"), "match_id",
        )
        .groupBy("rule_name", "dedupe")
        .applyInPandasWithState(
            make_fold(threshold, window_seconds, rule_config),
            outputStructType=FOLD_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def run_streaming_alerts_to_dir(
    matches: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    threshold: int = 1,
    window_seconds: int = 3600,
    rule_config: dict[str, tuple[int, int]] | None = None,
):
    """Sink the alert upserts: per micro-batch, last-writer-wins MERGE
    into a parquet state table keyed by alert_id (Iceberg MERGE INTO
    where available — ref Enrichment.kt:305-324 J4 shape).

    SCALE: the alerts table is hour-partitioned on the alert's anchor
    (`first_matched_at` — stable per alert_id, which hashes (rule,
    dedupe, anchor)). Each micro-batch reads ONLY the partitions its
    upserts touch and dynamically overwrites ONLY those — O(touched
    hours), never O(alert history). This is the Spark analog of the
    reference's bounded last-1-day partition rewrite
    (lake_writer/src/matano_alerts.rs:51-56,578-601); here the bound
    is exact because the state machine can only touch anchors within
    the open dedup window."""
    alerts = streaming_alerts(
        matches, threshold, window_seconds, rule_config=rule_config
    )

    def merge_batch(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        from pyspark.sql import Window as W
        from pyspark.sql import functions as F

        from matano_spark.lake import ts_hour_utc, write_hours

        new = batch.withColumn("ts_hour", ts_hour_utc("first_matched_at"))
        touched = [r.ts_hour for r in new.select("ts_hour").distinct().collect()]
        if not touched:
            return
        from pyspark.errors import AnalysisException

        try:
            # partition-pruned read: only the hours this batch touches.
            # Probed via the Spark reader (not the driver's local
            # filesystem) so out_dir may be object storage.
            old = spark.read.parquet(out_dir).filter(
                F.col("ts_hour").isin(touched)
            )
            merged = old.unionByName(new)
        except AnalysisException:  # PATH_NOT_FOUND on the first batch
            merged = new
        w = W.partitionBy("alert_id").orderBy(
            F.desc("match_count"), F.desc("last_matched_at")
        )
        latest = (
            merged.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        # localCheckpoint breaks the read-from/write-to-same-path cycle;
        # dynamic overwrite replaces only the touched hour partitions
        latest = latest.localCheckpoint(eager=True)
        write_hours(latest, out_dir, "overwrite", replace_hours=True)

    return (
        alerts.writeStream.foreachBatch(merge_batch)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )

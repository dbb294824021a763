"""Streaming alert state machine: the batch fold of operators.alerts
run continuously with keyed state (SURVEY.md W2/W3 Spark mapping:
"flatMapGroupsWithState with event-time timeout = dedup window" —
PySpark's applyInPandasWithState).

State per (rule_name, dedupe): (anchor_us, count, activated) — the
open alert. Each micro-batch folds its matches with the SAME
recurrence as the batch operator (matano_alerts.rs:92-307 semantics)
and emits upsert rows for every alert touched; downstream a
`foreachBatch` MERGE keeps the alerts table current (J5 — the
reference rewrites whole partitions; row-level upsert is the Spark
equivalent, SURVEY §7 "alert partition rewrites").

State eviction: a key whose window expired long ago only holds 3
ints; timeouts evict idle keys so state stays bounded by the active
key set, not history.
"""

from __future__ import annotations


from typing import Any, Iterable, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from matano_spark.operators.alerts import ALERT_SCHEMA, alert_id_for

STATE_SCHEMA = T.StructType(
    [
        T.StructField("anchor_us", T.LongType()),
        T.StructField("count", T.LongType()),
        T.StructField("activated", T.BooleanType()),
        T.StructField("created_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
    ]
)


def make_fold(
    threshold: int,
    window_seconds: int,
    rule_config: dict[str, tuple[int, int]] | None = None,
):
    cfg = dict(rule_config or {})

    def fold(
        key: Tuple[str, str],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        rule_name, dedupe = key
        # per-rule alert config (detection.yml alert block); global
        # defaults for rules not in the map
        thr, win_s = cfg.get(rule_name, (threshold, window_seconds))
        window_us = win_s * 1_000_000
        if state.hasTimedOut:
            state.remove()
            return
        anchor_us, count, activated, created_us, last_us = (
            state.get if state.exists else (None, 0, False, None, None)
        )
        emitted: dict[int, dict[str, Any]] = {}

        def snapshot():
            emitted[anchor_us] = {
                "rule_name": rule_name,
                "dedupe": dedupe,
                "alert_id": alert_id_for(rule_name, dedupe, anchor_us),
                "first_matched_at": pd.Timestamp(anchor_us, unit="us"),
                "last_matched_at": pd.Timestamp(last_us, unit="us"),
                "match_count": count,
                "activated": activated,
                "created_at": (
                    pd.Timestamp(created_us, unit="us") if created_us else None
                ),
            }

        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "match_id"], kind="mergesort")
            for t in pdf["ts"]:
                t_us = int(pd.Timestamp(t).value // 1000)
                if anchor_us is None or t_us - anchor_us >= window_us:
                    anchor_us, count, activated, created_us = t_us, 0, False, None
                count += 1
                last_us = t_us
                if not activated and count >= thr:
                    activated = True
                    created_us = t_us
                snapshot()
        if anchor_us is not None:
            state.update((anchor_us, count, activated, created_us, last_us))
            # event-time eviction: the key is dead once the WATERMARK
            # (not wall-clock) passes 4 dedup windows beyond its last
            # match — a replayed/backfilled stream evicts identically
            # (SURVEY W2 "event-time timeout = dedup window")
            state.setTimeoutTimestamp(
                last_us // 1000 + win_s * 1000 * 4
            )
        if emitted:
            yield pd.DataFrame(list(emitted.values()))

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
    return (
        matches.withWatermark("ts", watermark_delay)
        .groupBy("rule_name", "dedupe")
        .applyInPandasWithState(
            make_fold(threshold, window_seconds, rule_config),
            outputStructType=ALERT_SCHEMA,
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
    alerts = streaming_alerts(matches, threshold, window_seconds)

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

"""lake_hunt: closed loop, one client issuing analyst queries over the lake.

Set-up lands an okta_system lake from many small `LakeTable.append`
calls, one per 30 minutes of event time (the small-file layout the
realtime path leaves), the alert table of those events' brute-force
matches, and a threat-intel enrichment table of about 10k indicators,
then warms up. The timed part is a fixed rotation of the five hunting
query shapes of `hunt.py` over `LakeTable.read`, every result checked
against the generator's answers. No transform or detection work runs:
this is the read side.
"""

from __future__ import annotations

import os
import time

from perfbench import common, gen, host, hunt
from perfbench.trace import WARMUP

HOURS, PER_HOUR = 4, 6_000
APPENDS_PER_HOUR = 2
# A rotation gets about 40% faster over its first 10-20 runs in a JVM
# as the JIT compiles the planner; with the benchmark's JIT thresholds
# (common.pin_env) it levels off after about 8.
WARM_ROTATIONS = 8
# Measured rotations per second of --seconds. The count is fixed per run
# (not "until the time is up") so the tail percentile's rung does not
# move with the host's speed; on the reference host a warm rotation
# takes about 1.5 s.
ROTATIONS_PER_S = 0.5


def _fill(field, path: str, values: dict):
    """Column for `field` of the table schema: a value from `values` when
    its dotted path is there, a struct when a path below it is, else a
    typed null (what run_log_source lands for unassigned fields)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if path in values:
        return values[path].cast(field.dataType)
    if isinstance(field.dataType, T.StructType) and any(p.startswith(path + ".") for p in values):
        return F.struct(*[_fill(f, f"{path}.{f.name}", values).alias(f.name)
                          for f in field.dataType.fields])
    return F.lit(None).cast(field.dataType)


def lake_frame(spark, events: list[gen.OktaEvent], schema):
    """The events as rows of the okta table `schema`, with the fields the
    okta pack sets for what the hunting queries read."""
    import pandas as pd
    from pyspark.sql import functions as F

    flat = spark.createDataFrame(pd.DataFrame({
        "ts_us": [e.ts_us for e in events],
        "id": [e.uuid for e in events],
        "action": [e.event_type for e in events],
        "outcome": ["failure" if e.failure else "success" for e in events],
        "ip": [e.ip for e in events],
        "user": [f"{e.user}@example.com" for e in events],
    }))
    values = {
        "ts": F.timestamp_micros("ts_us"),
        "event.id": F.col("id"),
        "event.action": F.col("action"),
        "event.outcome": F.col("outcome"),
        "source.ip": F.col("ip"),
        "user.name": F.col("user"),
    }
    return flat.select(*[_fill(f, f.name, values).alias(f.name) for f in schema.fields])


def land(ctx, td, events, intel) -> None:
    import pandas as pd
    from pyspark.sql import functions as F

    from matano_spark.lake import LakeTable
    from matano_spark.operators.enrichment import EnrichmentStore

    spark, tr = ctx.spark, ctx.tracer
    table = LakeTable(spark, "okta_system", ctx.path("lake"), use_iceberg=False)
    rows = lake_frame(spark, events, td.schema)
    step = gen.HOUR_US // APPENDS_PER_HOUR
    for k in range(HOURS * APPENDS_PER_HOUR):
        lo, hi = (F.timestamp_micros(F.lit(gen.HUNT_START + i * step)) for i in (k, k + 1))
        with tr.span("lake.append", WARMUP):
            table.append(rows.filter((F.col("ts") >= lo) & (F.col("ts") < hi)))

    # the alert table as the batch fold leaves it; bulk_backfill times
    # that fold, here it is only read
    spark.createDataFrame(
        [(a["dedupe"], hunt.alert_id(a), a["anchor"], a["last"], a["created"] is not None)
         for a in gen.fold_alerts(gen.brute_force_matches(events))],
        "dedupe string, alert_id string, first_us long, last_us long, activated boolean",
    ).select("dedupe", "alert_id", "activated",
             F.timestamp_micros("first_us").alias("first_matched_at"),
             F.timestamp_micros("last_us").alias("last_matched_at"),
             ).write.parquet(ctx.path("alerts"))
    EnrichmentStore(spark, ctx.path("enrichment")).write("threat_intel", spark.createDataFrame(
        pd.DataFrame(intel, columns=["indicator", "threat_type", "confidence"]).astype(
            {"confidence": "int32"})))


def run(ctx) -> dict:
    from matano_spark.lake import LakeTable
    from matano_spark.operators.enrichment import EnrichmentStore

    events = gen.hunt_events(ctx.seed, HOURS, PER_HOUR)
    intel = hunt.intel_rows(events)
    want = hunt.answers(events, intel)

    ctx.start_session()
    td = ctx.load_packs()["okta"][0]
    spark, tr = ctx.spark, ctx.tracer
    ctx.timed_setup("land_s", lambda: land(ctx, td, events, intel))
    table = LakeTable(spark, "okta_system", ctx.path("lake"), use_iceberg=False)
    store = EnrichmentStore(spark, ctx.path("enrichment"))
    alerts = spark.read.parquet(ctx.path("alerts")).persist()

    def rotation(trace_id: str, latencies: list) -> None:
        """Each shape once; one operation per query, failed when it
        raises or its result is wrong."""
        for shape in hunt.SHAPES:
            qid = f"{trace_id}-{shape}"
            ctx.attempted += 1
            t = time.perf_counter()
            try:
                with tr.span(f"hunt.{shape}", trace_id):
                    with tr.span("lake.read"):
                        lake = table.read(schema=td.schema)
                    ok = hunt.query(shape, lake, store.read("threat_intel"), alerts, want, tr,
                                    trace_id)
                what = "wrong result"
            except Exception as exc:  # noqa: BLE001 - a failed query is a failed operation
                ok, what = False, f"{type(exc).__name__}: {exc}"
            latencies.append(time.perf_counter() - t)
            ctx.failed += not ctx.check(ok, f"{qid}: {what}")

    ctx.timed_setup("warmup_s", lambda: [rotation(WARMUP, []) for _ in range(WARM_ROTATIONS)])

    latencies: list[float] = []
    n_rot = max(1, round(ctx.seconds * ROTATIONS_PER_S))
    t0, c0 = time.perf_counter(), host.tree_cpu_s(os.getpid())
    for r in range(n_rot):
        rotation(f"rot-{r}", latencies)
    elapsed = time.perf_counter() - t0
    cpu_ms = (host.tree_cpu_s(os.getpid()) - c0) / len(latencies) * 1000
    heap_mb = common.retained_heap_mb(spark)
    alerts.unpersist()

    if ctx.trace:
        ctx.layer.update({f"hunt.{s}_s": tr.median(f"hunt.{s}") for s in hunt.SHAPES})
        ctx.layer.update({
            "lake.scan_s": tr.median("lake.read"),
            "enrichment.join_s": tr.median("enrichment.join"),
            "enrichment.hits": sum(n for _, n, _ in want["ioc_sweep"]),
            "alerts.activated": len(want["alert_context"]),
        })
    ctx.layer.update(common.lake_stats(ctx.path("lake")))
    ctx.report["lake_hunt"] = {"events": len(events), "rotations": n_rot,
                               "appends": HOURS * APPENDS_PER_HOUR}
    return {"latencies": latencies, "throughput": len(latencies) / elapsed,
            "cpu_ms_per_op": cpu_ms, "heap_retained_mb": heap_mb}

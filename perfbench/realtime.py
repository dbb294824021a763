"""realtime_alerting: open loop. A generator thread writes one okta object
on a fixed schedule that never slows down; the engine picks up whatever
has arrived, moves it into the stream source directory and runs the
streaming path over it: `run_ingest` lands the lake while
`run_streaming_alerts_to_dir`, fed by `run_detections` over the pack
pipeline, commits alert upserts. An object's latency runs from its
scheduled write time until both queries covering it have finished.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time

from perfbench import common, gen, host, hunt
from perfbench.trace import WARMUP

# Offered rate: one 2k-event object every 0.8 s. On the 4-core host the
# streaming cycle costs about 11.6 s fixed plus 0.375 s per object, so the
# per-object capacity (~2.7 objects/s) is about twice the offered rate.
PERIOD_S = 0.8
EVENTS_PER_OBJECT = 2000
PROBE_OBJECTS = 2  # objects streamed by a traced bulk_backfill run
DRAIN_S = 90.0  # give up on objects not committed this long after the window


class ScheduledWriter(threading.Thread):
    """Writes object i at start + i * period (clock seconds), whatever the
    engine is doing; records each object's due and actual write time.
    Objects are written under a dot-name and renamed, so a reader never
    sees a partial object."""

    def __init__(self, objects, landing, start, period, clock=time.perf_counter,
                 sleep=time.sleep):
        super().__init__(daemon=True)
        self.objects, self.landing = objects, landing
        self.start_at, self.period = start, period
        self.clock, self.sleep = clock, sleep
        self.due: dict[str, float] = {}
        self.written: dict[str, float] = {}

    def run(self) -> None:
        for i, (name, data) in enumerate(self.objects):
            due = self.start_at + i * self.period
            wait = due - self.clock()
            if wait > 0:
                self.sleep(wait)
            tmp = os.path.join(self.landing, "." + name)
            with open(tmp, "wb") as fh:
                fh.write(data)
            os.rename(tmp, os.path.join(self.landing, name))
            self.due[name] = due
            self.written[name] = self.clock()

    def lag_s(self) -> list[float]:
        return [self.written[n] - self.due[n] for n in self.written]


def latencies(due: dict[str, float], committed: dict[str, float]) -> list[float]:
    """Per-object latency from its scheduled write time, so a late or
    stalled generator cannot hide queueing delay."""
    return [committed[n] - due[n] for n in due if n in committed]


def run(ctx, n_objects: int | None = None) -> dict:
    """The open loop over `n_objects` objects, by default one per
    PERIOD_S of --seconds."""
    from pyspark.sql import functions as F

    from matano_spark.detections import run_detections
    from matano_spark.detections.packs import detections_for_table
    from matano_spark.schema.resolve import fields_to_structtype
    from matano_spark.streaming.alerting import run_streaming_alerts_to_dir
    from matano_spark.streaming.ingest import run_ingest

    if n_objects is None:
        n_objects = round(ctx.seconds / PERIOD_S)
    stream_objs, truths, events = [], {}, {}
    for k in range(n_objects):
        name, data, truths[name], events[name] = gen.realtime_object(
            ctx.seed, k, EVENTS_PER_OBJECT)
        stream_objs.append((name, data))
    warm_name, warm_data, _, _ = gen.realtime_object(ctx.seed, 10_000, 200)

    if ctx.spark is None:
        ctx.start_session()
    spark, tr = ctx.spark, ctx.tracer
    td = ctx.load_packs()["okta"][0]
    dets = detections_for_table(ctx.load_detections(), "okta_system")
    schema = fields_to_structtype(td.ingest["input_fields"])
    thr, window = dets[0].threshold, dets[0].deduplication_window_minutes * 60
    rec_progress = {"ingest": [], "alerts": []}

    # the okta pipeline cannot run on a streaming frame (README.md,
    # "Findings"), so detections stream from the lake run_ingest lands;
    # building the plan for its schema takes about 2 s of set-up
    lake_schema = ctx.timed_setup(
        "warmup_s", lambda: td.pipeline(spark.createDataFrame([], schema)).schema)

    def cycle(base, trace_id):
        with tr.span("realtime.cycle", trace_id):
            t0 = time.perf_counter()
            with tr.span("streaming.ingest") as s:
                q1 = run_ingest(spark, f"{base}/src", schema, td.pipeline, f"{base}/lake",
                                f"{base}/ckpt-ingest", f"{base}/quarantine", log_source="okta")
                tr.adopt_group(s, str(q1.runId))
                q1.awaitTermination()
            t1 = time.perf_counter()
            with tr.span("streaming.alerting") as s:
                lake = spark.readStream.schema(lake_schema).parquet(f"{base}/lake")
                q2 = run_streaming_alerts_to_dir(run_detections(lake, dets), f"{base}/alerts",
                                                 f"{base}/ckpt-alerts", threshold=thr,
                                                 window_seconds=window)
                tr.adopt_group(s, str(q2.runId))
                q2.awaitTermination()
            t2 = time.perf_counter()
            for key, q in (("ingest", q1), ("alerts", q2)):
                if q.exception() is not None:
                    raise RuntimeError(f"{key} query failed: {q.exception()}")
                rec_progress[key].extend(json.loads(p.json) for p in q.recentProgress)
        return t1 - t0, t2 - t1

    def verify(base, names, label):
        """Returns the objects whose lake rows or alerts are wrong, and
        the alert table as {alert_id: (dedupe, match_count, activated)}.
        The expected alerts are the fold of every match in `names`; an
        alert that differs fails each object holding one of its matches."""
        bad = set()
        lake = spark.read.parquet(f"{base}/lake")
        per_obj = {r[0]: r[1] for r in lake.groupBy(
            F.substring(F.col("event.id"), 1, 7)).count().collect()}
        alerts = {r["alert_id"]: (r["dedupe"], r["match_count"], r["activated"])
                  for r in spark.read.parquet(f"{base}/alerts").collect()}
        want_quarantine = 0
        for n in names:
            t = truths[n]
            prefix = "rt" + n.split("-")[-1].split(".")[0]  # okta-rt-00007 → rt00007
            want_quarantine += t["malformed"]
            if not ctx.check(per_obj.get(prefix) == t["good"], f"{label}: {n} lake rows"):
                bad.add(n)
        matches = gen.brute_force_matches([e for n in names for e in events[n]])
        want = {hunt.alert_id(a): (a["dedupe"], a["count"], a["created"] is not None)
                for a in gen.fold_alerts(matches)}
        wrong = {v[0] for i, v in want.items() if alerts.get(i) != v}
        wrong |= {v[0] for i, v in alerts.items() if i not in want}
        placed = set()
        for n in names:
            keys = wrong & {e.ip for e in events[n] if e.brute_force_match}
            if not ctx.check(not keys, f"{label}: {n} alerts for {sorted(keys)}"):
                bad.add(n)
            placed |= keys
        if not ctx.check(wrong <= placed, f"{label}: alerts without matches "
                                          f"{sorted(wrong - placed)}"):
            bad.update(names)
        n_quarantine = spark.read.parquet(f"{base}/quarantine").count()
        if not ctx.check(n_quarantine == want_quarantine, f"{label}: quarantine {n_quarantine}"):
            bad.update(names)
        return bad, alerts

    def warm_up():
        base = ctx.path("warm")
        os.makedirs(f"{base}/src")
        with open(f"{base}/src/{warm_name}", "wb") as fh:
            fh.write(warm_data)
        cycle(base, WARMUP)

    # the warm-up cycle is not checked (its cold reads would add about 7 s
    # of set-up), so it is not counted as an operation
    ctx.timed_setup("warmup_s", warm_up)
    ctx.plan_build_probe(td)
    rec_progress = {"ingest": [], "alerts": []}

    base = ctx.path("rt")
    landing = f"{base}/landing"
    os.makedirs(landing)
    os.makedirs(f"{base}/src")
    start = time.perf_counter() + 0.05
    cpu0 = host.tree_cpu_s(os.getpid())
    writer = ScheduledWriter(stream_objs, landing, start, PERIOD_S)
    writer.start()
    committed: dict[str, float] = {}
    failed: set[str] = set()
    backlog_end = None
    window_end = start + n_objects * PERIOD_S
    cycles = []
    while (len(committed) + len(failed) < n_objects
           and time.perf_counter() < window_end + DRAIN_S):
        now = time.perf_counter()
        if backlog_end is None and now >= window_end:
            backlog_end = n_objects - len(committed)
        arrived = sorted(f for f in os.listdir(landing) if not f.startswith("."))
        if not arrived:
            time.sleep(0.005)
            continue
        for f in arrived:
            os.rename(f"{landing}/{f}", f"{base}/src/{f}")
        try:
            lake_s, alert_s = cycle(base, f"cycle-{len(cycles)}")
        except Exception as exc:  # noqa: BLE001 - the objects of a failed cycle fail
            ctx.mismatches.append(f"cycle {len(cycles)}: {type(exc).__name__}: {exc}")
            failed.update(arrived)
            continue
        done = time.perf_counter()
        cycles.append((len(arrived), lake_s, alert_s))
        for f in arrived:
            committed[f] = done
    writer.join(timeout=DRAIN_S)
    if backlog_end is None:
        backlog_end = 0
    cpu_s = host.tree_cpu_s(os.getpid()) - cpu0
    heap_mb = common.retained_heap_mb(spark)

    ctx.attempted += n_objects
    t = time.perf_counter()
    bad, alerts = verify(base, sorted(committed), "stream") if committed else (set(), {})
    verify_s = time.perf_counter() - t
    ctx.failed += len(bad | (set(truths) - set(committed)))
    lat = latencies(writer.due, committed)

    def progress(key, *path):
        vals = []
        for p in rec_progress[key]:
            v = p
            for k in path:
                if isinstance(v, list):  # stateOperators: one stateful operator
                    v = v[0] if v else {}
                v = v.get(k)
                if v is None:
                    break
            if v is not None:
                vals.append(v)
        return statistics.median(vals) if vals else 0.0

    lag = writer.lag_s()
    ctx.report["realtime"] = {"cycles": len(cycles), "objects": n_objects, "verify_s": verify_s,
                              "objects_per_cycle": [c[0] for c in cycles]}
    ctx.layer.update({
        "streaming.ingest.batch_s": statistics.median(c[1] for c in cycles) if cycles else 0.0,
        "streaming.alerting.batch_s": statistics.median(c[2] for c in cycles) if cycles else 0.0,
        "streaming.ingest.planning_ms": progress("ingest", "durationMs", "queryPlanning"),
        "streaming.ingest.add_batch_ms": progress("ingest", "durationMs", "addBatch"),
        "streaming.alerting.state_rows": progress("alerts", "stateOperators", "numRowsTotal"),
        "streaming.alerting.state_bytes": progress("alerts", "stateOperators",
                                                   "memoryUsedBytes"),
        "realtime.backlog_objects_end": backlog_end,
        "pipeline.spark_jobs": statistics.median(
            a + b for a, b in zip(tr.counts("streaming.ingest", "spark.jobs"),
                                  tr.counts("streaming.alerting", "spark.jobs")))
        if ctx.trace else 0,
        "generator.lag_p50_ms": 1000 * statistics.median(lag),
        "generator.lag_max_ms": 1000 * max(lag),
        "alerts.activated": sum(1 for _, _, on in alerts.values() if on),
    })
    ctx.layer.update(common.lake_stats(f"{base}/lake"))
    n_events = sum(truths[n]["good"] for n in committed)
    span = max(committed.values()) - start if committed else 1.0
    return {"latencies": lat, "throughput": n_events / span,
            "cpu_ms_per_op": 1000 * cpu_s / max(1, len(committed)), "heap_retained_mb": heap_mb}


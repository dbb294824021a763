"""bulk_backfill: closed loop, backfill batches one after another: two
small warm-up batches, then a few measured ones.

A batch is a few hours of gzipped okta JSON-lines objects and CloudTrail
`{"Records": [...]}` objects, with `-Digest-` objects that route to the
digest table and a small share of truncated okta lines. Each batch goes
through `run_log_source`, the detections bound to each landed table, and
`aggregate_alerts` with the packs' `rule_config`, into a fresh lake.
"""

from __future__ import annotations

import os
import statistics
import time

from perfbench import common, gen, host
from perfbench.trace import WARMUP

# A measured batch: 3 hours, 8k okta events and 4k CloudTrail records.
# On the reference host a batch costs about 11 s whatever its size plus
# about 0.3 ms per event, so per-row work is about a quarter of this
# batch's time (README.md, "Per-row against fixed cost").
SIZE = dict(okta_n=8_000, ct_n=4_000)
# Warm-up batches, of other content: a warm JVM still gets faster for a
# few batches (the second batch of a process is about 20% slower than
# the later ones), and the fixed per-batch cost is what warms, so two
# small batches take the measured ones past the steep part.
WARM = (98, 99)
WARM_SIZE = dict(okta_n=2_000, ct_n=1_000)
BATCH_S = 10  # nominal seconds of --seconds per measured batch
MIN_BATCHES = 2


def _bindings(results_okta, results_ct):
    """(detection table binding, TableResult) for each landed table that
    detections can bind to; the CloudTrail default table binds as the
    log source's own name."""
    return [("okta_system", results_okta["system"]), ("aws_cloudtrail", results_ct["default"])]


def backfill(ctx, dets, cfg, raw_dir, lake_root, trace_id):
    from pyspark.sql import functions as F

    from matano_spark.detections import run_detections
    from matano_spark.detections.packs import detections_for_table
    from matano_spark.operators.alerts import aggregate_alerts
    from matano_spark.pipeline import run_log_source

    tr, spark, obs = ctx.tracer, ctx.spark, {}
    quarantine = lake_root + "-quarantine"
    with tr.span("pipeline.ingest", trace_id):
        okta = run_log_source(spark, common.OKTA_PACK, f"{raw_dir}/okta", lake_root, quarantine)
    with tr.span("pipeline.ingest", trace_id):
        ct = run_log_source(spark, common.CLOUDTRAIL_PACK, f"{raw_dir}/cloudtrail", lake_root,
                            quarantine, only_tables=["default", "digest"])
    obs["okta"], obs["ct"] = okta, ct
    frames, scanned = [], 0
    for binding, result in _bindings(okta, ct):
        bound = detections_for_table(dets, binding)
        if bound:
            frames.append(run_detections(result.read(), bound))
            scanned += result.rows_out
    matches = frames[0]
    for f in frames[1:]:
        matches = matches.unionByName(f)
    matches = matches.persist()
    with tr.span("detections.eval", trace_id) as s:
        obs["matches"] = {r[0]: r[1] for r in matches.groupBy("rule_name").count().collect()}
    tr.count(s, "rows", scanned)
    obs["scanned"] = scanned
    with tr.span("alerts.fold", trace_id):
        obs["alerts"] = (
            aggregate_alerts(matches, rule_config=cfg)
            .groupBy("rule_name", "dedupe")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("activated").cast("int")).alias("activated"))
            .collect()
        )
    matches.unpersist()
    return obs


def verify(ctx, obs, truth, label) -> bool:
    okta, ct = obs["okta"]["system"], obs["ct"]
    t_okta = truth["okta"]
    ok = ctx.check(okta.rows_in == okta.rows_out + okta.rows_sidelined,
                   f"{label}: okta rows not conserved")
    ok &= ctx.check(okta.rows_in == t_okta["lines"], f"{label}: okta rows_in {okta.rows_in}")
    # a truncated line either lands as an all-null row (current engine)
    # or is sidelined; both conserve rows
    ok &= ctx.check(okta.rows_sidelined in (0, t_okta["malformed"]),
                    f"{label}: okta rows_sidelined {okta.rows_sidelined}")
    ok &= ctx.check(
        (ct["default"].rows_in, ct["default"].rows_sidelined) == (truth["cloudtrail"]["records"], 0),
        f"{label}: cloudtrail rows {ct['default'].as_log()}")
    ok &= ctx.check(ct["digest"].rows_in == truth["cloudtrail"]["digest_objects"],
                    f"{label}: digest rows {ct['digest'].rows_in}")
    ok &= ctx.check(obs["matches"] == truth["matches"], f"{label}: matches {obs['matches']}")
    per_rule, activated = {}, {}
    for r in obs["alerts"]:
        per_rule[r["rule_name"]] = per_rule.get(r["rule_name"], 0) + r["n"]
        if r["activated"]:
            activated[f"{r['rule_name']}|{r['dedupe']}"] = r["activated"]
    ok &= ctx.check(per_rule == truth["alerts"], f"{label}: alerts per rule {per_rule}")
    ok &= ctx.check(dict(sorted(activated.items())) == truth["activated"],
                    f"{label}: activated alerts differ")
    return ok


def run(ctx) -> dict:
    from matano_spark.detections.compile import Untraceable, compile_predicate
    from matano_spark.detections.packs import detections_for_table, rule_config

    n = max(MIN_BATCHES, round(ctx.seconds / BATCH_S))
    batches = {}
    for i in (*WARM, *range(n)):
        batches[i] = gen.bulk_batch(ctx.seed, i, **(WARM_SIZE if i in WARM else SIZE))
        for source, objs in batches[i].objects.items():
            common.write_objects(ctx.path("raw", str(i), source), objs)

    ctx.start_session()
    packs = ctx.load_packs()
    dets = ctx.load_detections()
    cfg = rule_config(dets)

    def attempt(i, trace_id):
        """One batch as one operation: failed if it raises or any check
        fails. Returns (seconds, observations or None)."""
        ctx.attempted += 1
        t0 = time.perf_counter()
        try:
            obs = backfill(ctx, dets, cfg, ctx.path("raw", str(i)), ctx.path("lake", str(i)),
                           trace_id)
        except Exception as exc:  # noqa: BLE001 - a failed batch is a failed operation
            ctx.failed += 1
            ctx.mismatches.append(f"{trace_id}: {type(exc).__name__}: {exc}")
            return time.perf_counter() - t0, None
        dt = time.perf_counter() - t0
        ctx.failed += not verify(ctx, obs, batches[i].truth, trace_id)
        return dt, obs

    def clear(i):
        common.remove(ctx.path("lake", str(i)))
        common.remove(ctx.path("lake", str(i)) + "-quarantine")

    for i in WARM:
        ctx.timed_setup("warmup_s", lambda: attempt(i, WARMUP))
        clear(i)
    ctx.plan_build_probe(packs["okta"][0])

    times, rates, last = [], [], None
    cpu0 = host.tree_cpu_s(os.getpid())
    for i in range(n):
        dt, obs = attempt(i, f"batch-{i}")
        if obs is not None:
            times.append(dt)
            rates.append(batches[i].truth["events"] / dt)
            last = obs
        if i < n - 1:
            clear(i)
    cpu_s = host.tree_cpu_s(os.getpid()) - cpu0
    heap_mb = common.retained_heap_mb(ctx.spark)
    if ctx.trace:
        # the streaming layers: a short open-loop stream through the
        # realtime path, which shares the okta transform and the
        # detections with the batches; the per-layer metrics of the
        # batch path below take precedence where names are shared
        from perfbench import realtime

        setup = dict(ctx.setup)
        realtime.run(ctx, n_objects=realtime.PROBE_OBJECTS)
        ctx.setup = setup

    tr = ctx.tracer
    pairs = [(d, td) for td in packs["okta"] + packs["cloudtrail"][:1]
             for d in detections_for_table(dets, "okta_system" if td.log_source == "okta"
                                           else "aws_cloudtrail")]
    compiled = 0
    for d, td in pairs:
        try:
            compile_predicate(d.detect, td.schema)
            compiled += 1
        except Untraceable:
            pass
    if last is not None:
        okta, ct = last["okta"]["system"], last["ct"]
        eval_s = tr.median("detections.eval")
        ctx.layer.update({
            "pipeline.ingest_s": tr.median("pipeline.ingest"),
            "pipeline.rows_in": okta.rows_in + ct["default"].rows_in + ct["digest"].rows_in,
            "pipeline.rows_sidelined": okta.rows_sidelined + ct["default"].rows_sidelined,
            "pipeline.spark_jobs": statistics.median(tr.counts("pipeline.ingest", "spark.jobs"))
            if ctx.trace else 0,
            "sources.objects_routed_away": ct["digest"].rows_in,
            "detections.eval_s": eval_s,
            "detections.rows_per_s": last["scanned"] / eval_s if eval_s else 0.0,
            "detections.matches": sum(last["matches"].values()),
            "alerts.fold_s": tr.median("alerts.fold"),
            "alerts.activated": sum(r["activated"] for r in last["alerts"]),
        })
        ctx.layer.update(common.lake_stats(ctx.path("lake", str(n - 1), "okta", "system")))
    ctx.layer["detections.prefilter_rule_ratio"] = compiled / len(pairs)
    ctx.report["bulk"] = {"batch_s": times}
    return {"latencies": times, "throughput": statistics.median(rates) if rates else 0.0,
            "cpu_ms_per_op": 1000 * cpu_s / sum(batches[i].truth["events"] for i in range(n)),
            "heap_retained_mb": heap_mb}

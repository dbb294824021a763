"""Benchmark entry point.

    python3 perfbench/run.py --workload bulk_backfill --seed 1 --seconds 10 --trace 0

Runs one workload (bulk_backfill or realtime_alerting) from the
root of a checkout, checks the engine's outputs against the seed's ground
truth, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 they are the per-layer ones, and
the span file is written under .perfbench/traces/. The line before it is
a JSON report with set-up phases, host noise and any mismatches.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import common, host, hunt, stats  # noqa: E402

WORKLOADS = ("bulk_backfill", "lake_hunt", "realtime_alerting")

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "heap_retained_mb": "MB",
    "cpu_ms_per_op": "ms",
}
PER_LAYER = {
    "wall.latency_p50_s": "s",
    "wall.latency_tail_s": "s",
    "wall.throughput_per_s": "1/s",
    "jvm.heap_live_peak_mb": "MB",
    "session.start_s": "s",
    "transform.pack_compile_s": "s",
    "detections.load_s": "s",
    "transform.plan_build_s": "s",
    "pipeline.spark_jobs": "count",
    "pipeline.ingest_s": "s",
    "pipeline.rows_in": "count",
    "pipeline.rows_sidelined": "count",
    "sources.objects_routed_away": "count",
    "detections.eval_s": "s",
    "detections.rows_per_s": "1/s",
    "detections.matches": "count",
    "detections.prefilter_rule_ratio": "ratio",
    "alerts.fold_s": "s",
    "alerts.activated": "count",
    "streaming.ingest.batch_s": "s",
    "streaming.ingest.planning_ms": "ms",
    "streaming.ingest.add_batch_ms": "ms",
    "streaming.alerting.batch_s": "s",
    "streaming.alerting.state_rows": "count",
    "streaming.alerting.state_bytes": "bytes",
    "realtime.backlog_objects_end": "count",
    "lake.files": "count",
    "lake.files_per_partition": "count",
    "lake.bytes": "bytes",
    "lake.scan_s": "s",
    "enrichment.join_s": "s",
    "enrichment.hits": "count",
    **{f"hunt.{shape}_s": "s" for shape in hunt.SHAPES},
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "latency.tail_pct": "pct",
    "latency.samples": "count",
    "error_ratio": "ratio",
    "host.busy_pct": "%",
    "host.steal_pct": "%",
    "generator.lag_p50_ms": "ms",
    "generator.lag_max_ms": "ms",
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = common.ROOT
    for need in (os.path.join(root, "matano_spark"), common.OKTA_PACK,
                 common.CLOUDTRAIL_PACK, *common.DETECTION_DIRS):
        if not os.path.isdir(need):
            print(f"perfbench: missing {os.path.relpath(need, root)}; run from a full checkout",
                  file=sys.stderr)
            return 2

    run_dir = os.path.join(root, ".perfbench", "runs",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    cpus = common.pin_env(run_dir)
    ctx = common.Ctx(args.workload, args.seed, args.seconds, bool(args.trace), run_dir, cpus)
    rss = host.RssSampler().start()
    cpu0 = host.cpu_times()
    try:
        if args.workload == "bulk_backfill":
            from perfbench import bulk as workload
        elif args.workload == "lake_hunt":
            from perfbench import lake_hunt as workload
        else:
            from perfbench import realtime as workload
        out = workload.run(ctx)
        if ctx.trace:
            ctx.layer["spark.tasks"] = ctx.tracer.total("spark.tasks")
            ctx.layer["spark.failed_tasks"] = ctx.tracer.total("spark.failed_tasks")
    finally:
        t_stop = time.perf_counter()
        ctx.stop()
        ctx.report["stop_s"] = time.perf_counter() - t_stop
        rss.stop()
        heap = host.gc_heap_mb(common.gc_log(run_dir))
        common.remove(run_dir)
    noise = host.cpu_noise(cpu0, host.cpu_times())

    lat = stats.summarize(out["latencies"]) if out["latencies"] else None
    e2e = {
        "setup_s": sum(ctx.setup.values()),
        "peak_rss_mb": rss.peak_mb,
        "heap_retained_mb": out["heap_retained_mb"],
        "cpu_ms_per_op": out["cpu_ms_per_op"],
    }
    wall = {
        "wall.latency_p50_s": lat["p50"] if lat else 0.0,
        "wall.latency_tail_s": lat["tail"] if lat else 0.0,
        "wall.throughput_per_s": out["throughput"],
    }
    error_ratio = ctx.failed / ctx.attempted if ctx.attempted else 1.0
    ctx.layer.update(ctx.setup)
    ctx.layer.update(wall)
    ctx.layer.update({
        "jvm.heap_live_peak_mb": heap["after_gc_mb"],
        "latency.tail_pct": lat["tail_pct"] if lat else 0.0,
        "latency.samples": lat["n"] if lat else 0,
        "error_ratio": error_ratio,
        "host.busy_pct": noise["busy_pct"],
        "host.steal_pct": noise["steal_pct"],
    })
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "cpus": cpus, "setup": ctx.setup, "latency": lat, "host": noise, "heap": heap,
        "error_ratio": error_ratio, "mismatches": ctx.mismatches[:20],
        "end_to_end": e2e, "wall": wall, **ctx.report,
    }
    if ctx.trace:
        trace_dir = os.path.join(root, ".perfbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}-{int(time.time())}.json")
        ctx.tracer.dump(path, {"report": report, "per_layer": ctx.layer})
        report["trace_file"] = os.path.relpath(path, root)
    print(json.dumps(report, default=str))
    names = PER_LAYER if ctx.trace else END_TO_END
    values = ctx.layer if ctx.trace else e2e
    result = {
        "correct": not ctx.mismatches,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {n: {"value": float(values.get(n, 0.0)), "unit": u}
                    for n, u in names.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Analyst hunting queries over a landed okta_system lake, each checked
against answers computed from the generated events.

Five shapes, each over `LakeTable.read`:

  hour_range_count  partition-pruned count over the first two hours
  top_failing_ips   top source IPs of failed events over the whole lake
  user_ip_fanout    users with the most distinct source IPs
  ioc_sweep         every event's source IP against a threat-intel
                    enrichment table of about 10k indicators (`enrich`)
  alert_context     events from each activated alert's IP inside its window

No transform or detection work runs here: this is the read side.
"""

from __future__ import annotations

from collections import Counter, defaultdict

from perfbench import gen

SHAPES = ("hour_range_count", "top_failing_ips", "user_ip_fanout", "ioc_sweep",
          "alert_context")
TOP = 10
N_INTEL = 10_000


def intel_rows(events: list[gen.OktaEvent]) -> list[tuple[str, str, int]]:
    """Threat intel: every attacker IP in `events`, a share of the others,
    and filler indicators that match nothing, N_INTEL rows in all."""
    ips = sorted({e.ip for e in events})
    rows = [(ip, "bruteforce", 90) for ip in ips if ip.startswith("198.51.")]
    rows += [(ip, gen.THREAT_TYPES[i % 5], 40 + i % 50)
             for i, ip in enumerate(ips[::7]) if not ip.startswith("198.51.")]
    i = 0
    while len(rows) < N_INTEL:
        rows.append((f"198.18.{i // 250}.{i % 250 + 1}", gen.THREAT_TYPES[i % 5], 10 + i % 80))
        i += 1
    return rows


def alert_id(a: dict) -> str:
    from matano_spark.operators.alerts import alert_id_for

    return alert_id_for(a["rule"], a["dedupe"], a["anchor"])


def answers(events: list[gen.OktaEvent], intel) -> dict:
    """Every query's expected result, from the generated events."""
    per_hour = Counter(gen.hour_key(e.ts_us) for e in events)
    fails = Counter(e.ip for e in events if e.failure)
    fan = defaultdict(set)
    by_ip = defaultdict(list)
    for e in events:
        fan[f"{e.user}@example.com"].add(e.ip)
        by_ip[e.ip].append(e)
    kinds = {ip: t for ip, t, _ in intel}
    ioc_n, ioc_ips = Counter(), defaultdict(set)
    for e in events:
        if e.ip in kinds:
            ioc_n[kinds[e.ip]] += 1
            ioc_ips[kinds[e.ip]].add(e.ip)
    ctx = []
    for a in gen.fold_alerts(gen.brute_force_matches(events)):
        if a["created"] is not None:
            hits = [e for e in by_ip[a["dedupe"]] if a["anchor"] <= e.ts_us <= a["last"]]
            ctx.append((alert_id(a), len(hits), len({e.user for e in hits})))
    return {
        "hours": sorted(per_hour),
        "per_hour": per_hour,
        "top_failing_ips": sorted(fails.items(), key=lambda kv: (-kv[1], kv[0]))[:TOP],
        "user_ip_fanout": sorted(((u, len(s)) for u, s in fan.items()),
                                 key=lambda kv: (-kv[1], kv[0]))[:TOP],
        "ioc_sweep": sorted((t, ioc_n[t], len(ioc_ips[t])) for t in ioc_n),
        "alert_context": sorted(ctx),
    }


def query(shape: str, lake, intel, alerts, want: dict, tracer, trace_id) -> bool:
    """Run one query shape and compare its result with `want`.
    `lake` is the table's DataFrame, `intel` the enrichment table and
    `alerts` the alert table (ALERT_SCHEMA rows)."""
    from pyspark.sql import functions as F

    from matano_spark.operators.enrichment import enrich

    if shape == "hour_range_count":
        hours = want["hours"]
        lo, hi = hours[0], hours[min(1, len(hours) - 1)]
        got = lake.filter(F.col("ts_hour").between(lo, hi)).count()
        return got == sum(want["per_hour"][h] for h in hours if lo <= h <= hi)
    if shape == "top_failing_ips":
        rows = (lake.filter(F.col("event.outcome") == "failure")
                .groupBy(F.col("source.ip").alias("ip")).count()
                .orderBy(F.desc("count"), "ip").limit(TOP).collect())
        return [(x.ip, x["count"]) for x in rows] == want["top_failing_ips"]
    if shape == "user_ip_fanout":
        rows = (lake.filter(F.col("user.name").isNotNull() & F.col("source.ip").isNotNull())
                .groupBy(F.col("user.name").alias("u"))
                .agg(F.countDistinct("source.ip").alias("n"))
                .orderBy(F.desc("n"), "u").limit(TOP).collect())
        return [(x.u, x.n) for x in rows] == want["user_ip_fanout"]
    if shape == "ioc_sweep":
        with tracer.span("enrichment.join", trace_id) as s:
            rows = (enrich(lake.select(F.col("source.ip").alias("src_ip")), intel,
                           on={"src_ip": "indicator"}, select=["threat_type", "confidence"],
                           target="ioc")
                    .filter(F.col("ioc").isNotNull())
                    .groupBy(F.col("ioc.threat_type").alias("t"))
                    .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("src_ip").alias("ips"))
                    .orderBy("t").collect())
            tracer.count(s, "hits", sum(x.n for x in rows))
        return [(x.t, x.n, x.ips) for x in rows] == want["ioc_sweep"]
    a = alerts.filter("activated").select("alert_id", "dedupe", "first_matched_at",
                                           "last_matched_at")
    ev = lake.select(F.col("source.ip").alias("ip"), "ts", F.col("user.name").alias("u"))
    rows = (F.broadcast(a).join(ev, (ev.ip == a.dedupe)
                                & ev.ts.between(a.first_matched_at, a.last_matched_at))
            .groupBy("alert_id").agg(F.count(F.lit(1)).alias("n"),
                                     F.countDistinct("u").alias("users"))
            .orderBy("alert_id").collect())
    return [(x.alert_id, x.n, x.users) for x in rows] == want["alert_context"]

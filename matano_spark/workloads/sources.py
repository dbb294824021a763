"""Oracle-checked queries over the PORTED log-source packs.

Each query synthesizes vendor-shaped raw records deterministically from
the driver's `events` table with pure Column expressions, pushes them
through the pack's REAL compiled pipeline (yml ingest parse + VRL-text
transform — the same `TableDef.pipeline` the ingest path runs), and
aggregates the landed ECS fields. Because the synthesis is a
deterministic function of `events`, DuckDB can state the expected
aggregate directly over `events` — so the whole pack pipeline
(parse → transform → ECS mapping) sits inside the correctness gate,
not just inside pytest fixtures.

At 100 TB the synthesized frame is the raw stream: everything below is
per-row projection (one narrow scan, no shuffle until the final
aggregation), so the plan scales exactly like the ingest pipeline it
exercises.

Reference parity: okta mapping data/managed/log_sources/okta/tables/
system.yml; suricata data/managed/log_sources/suricata/tables/eve.yml
(alert block :437-519); panw data/managed/log_sources/panw/tables/
traffic.yml (CSV positions).
"""

from __future__ import annotations

import os
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from matano_spark.workloads import query
from matano_spark.workloads.util import t

_PACK_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "data",
    "log_sources",
)

# reference managed tree (read-only): verbatim-text queries load the
# transform straight from the reference yml when present, falling back
# to the repo's ported copy of the same pack
_REF_PACK_ROOT = "/root/reference/data/managed/log_sources"


def _oracle_scratch(prefix: str) -> str:
    """Per-process scratch dir for lazily-collected oracle stores.

    The returned DataFrames are collected lazily by the caller, so the
    directory can't be rmtree'd inline; mkdtemp keeps concurrent
    gate/bench runs from compacting each other's files, and the atexit
    hook stops the dirs leaking across runs."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


@lru_cache(maxsize=16)
def _verbatim_table_def(pack: str, table: str):
    """Compile one pack table from the REFERENCE yml text itself —
    the migration guarantee (a matano user's transform runs unedited).
    Returns (table def, from_reference). When the reference tree is
    absent it falls back to the repo's ported pack, which reads its
    declared input_fields, not the reference's variant record: see
    _through_verbatim."""
    from matano_spark.schema.config import load_log_source

    from_reference = os.path.isdir(_REF_PACK_ROOT)
    root = _REF_PACK_ROOT if from_reference else _PACK_ROOT
    # strict=False: reference transforms write some paths their own
    # schema omits (relying on the schema cast to drop them)
    for td in load_log_source(os.path.join(root, pack), strict=False):
        if td.name == table:
            return td, from_reference
    raise KeyError(f"{pack}/{table}")


def _through_verbatim(
    td, from_reference: bool, raw: DataFrame, needed: tuple[str, ...]
) -> DataFrame:
    """Run a `json` string frame through a _verbatim_table_def program.

    The reference programs read the record as a parse_json variant
    (`.json`); the ported fallback reads its declared input_fields
    through the ingest parse step, so `raw` must already be in the
    shape of whichever program was loaded."""
    if from_reference:
        raw = raw.select(F.parse_json("json").alias("json"))
        return td.pipeline_for(needed)(raw)
    return _through_pipeline(td, raw, needed=needed)


@lru_cache(maxsize=32)
def _table_def(pack: str, table: str):
    """Load + compile one pack table (cached — compile once per proc)."""
    from matano_spark.schema.config import load_log_source

    for td in load_log_source(os.path.join(_PACK_ROOT, pack)):
        if td.name == table:
            return td
    raise KeyError(f"{pack}/{table}")


def _through_pipeline(td, raw: DataFrame, needed: tuple[str, ...] | None = None) -> DataFrame:
    """Run a synthesized raw frame through the pack pipeline, mirroring
    pipeline._read_raw's parse step for json-with-input_fields packs.

    spread_partitions: the synthesized raw frame inherits the source
    scan's split count (one small parquet file → ONE partition), which
    would pin the compiled per-row transform — the expensive stage —
    to a single core; at real scale the object listing already yields
    thousands of splits and the spread is a no-op."""
    from matano_spark.operators.skew import spread_partitions
    from matano_spark.schema.resolve import fields_to_structtype

    raw = spread_partitions(raw)
    if td.ingest.get("input_fields") and "json" in raw.columns:
        schema = fields_to_structtype(td.ingest["input_fields"])
        raw = raw.select(F.from_json("json", schema).alias("r")).select("r.*")
    # needed: the consumer's read set — projection pushdown THROUGH the
    # transform (backward liveness slice, transform/slice.py)
    return td.pipeline_for(needed)(raw) if needed else td.pipeline(raw)


def _okta_raw(ev: DataFrame) -> DataFrame:
    """events → okta System Log JSON lines (shared by the okta rollup
    and the sliced-sigma detection query)."""
    return ev.select(
        F.to_json(
            F.struct(
                F.col("ts").cast("string").alias("published"),
                F.lit("user.session.start").alias("eventType"),
                F.col("event_id").cast("string").alias("uuid"),
                F.lit("INFO").alias("severity"),
                F.struct(
                    F.concat(
                        F.lit("user-"),
                        F.col("user_id").cast("string"),
                        F.lit("@example.com"),
                    ).alias("alternateId"),
                    F.col("user_id").cast("string").alias("id"),
                    F.lit("User").alias("type"),
                ).alias("actor"),
                F.struct(
                    F.when(F.col("event_type") == "error", "FAILURE")
                    .otherwise("SUCCESS")
                    .alias("result")
                ).alias("outcome"),
            )
        ).alias("json")
    )


@query(
    "okta_failed_auth_rollup",
    oracle="""
    SELECT concat('user-', CAST(user_id AS VARCHAR), '@example.com') AS user_name,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           COUNT(*) AS n_failures
    FROM events
    WHERE event_type = 'error'
    GROUP BY 1, 2
    """,
)
def okta_failed_auth_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Failed-authentication rollup through the ported okta pack:
    events → okta System Log JSON → okta/system compiled transform
    (outcome.result → event.outcome, actor.alternateId → user.name) →
    failures per user per day."""
    td = _table_def("okta", "system")
    raw = _okta_raw(t(spark, sf_dir, "events"))
    ecs = _through_pipeline(td, raw, needed=("event.outcome", "user.name", "ts"))
    return (
        ecs.filter(F.col("event.outcome") == "failure")
        .groupBy(
            F.col("user.name").alias("user_name"),
            F.date_trunc("day", F.col("ts")).alias("day"),
        )
        .agg(F.count(F.lit(1)).alias("n_failures"))
    )


@query(
    "sigma_sliced_okta_detection",
    oracle="""
    SELECT concat('user-', CAST(user_id AS VARCHAR), '@example.com')
             AS user_name,
           COUNT(*) AS n_hits
    FROM events
    WHERE event_type = 'error'
    GROUP BY 1
    """,
)
def sigma_sliced_okta_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A Sigma rule over the okta pack pipeline with AUTOMATIC
    transform slicing: the rule declares its field read set
    (detections.sigma.sigma_fields), which feeds
    TableDef.pipeline_for — the detection pays only for the transform
    statements it can observe (plus row-membership effects). The
    projection-pushdown-through-transforms contract as a driver-gated
    query: sliced pipeline + compiled Sigma predicate must match the
    plain-SQL oracle."""
    from matano_spark.detections.sigma import sigma_fields, sigma_filter

    rule = {
        "title": "okta failed logins",
        "detection": {
            "failed": {"event.outcome": "failure", "event.kind": "event"},
            "condition": "failed",
        },
    }
    td = _table_def("okta", "system")
    raw = _okta_raw(t(spark, sf_dir, "events"))
    needed = sigma_fields(rule) + ("user.name", "ts")
    ecs = _through_pipeline(td, raw, needed=needed)
    return (
        sigma_filter(ecs, rule)
        .groupBy(F.col("user.name").alias("user_name"))
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


@query(
    "msft_signin_verbatim_rollup",
    front=True,
    oracle="""
    SELECT CASE WHEN event_type = 'error' THEN 'failure' ELSE 'success' END
             AS outcome,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           COUNT(*) AS n_signins,
           COUNT(DISTINCT concat('user-', CAST(user_id AS VARCHAR)))
             AS n_users
    FROM events
    GROUP BY 1, 2
    """,
)
def msft_signin_verbatim_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-in outcome rollup through the REFERENCE msft/aad_signinlogs
    transform text loaded verbatim from the reference yml — PascalCase→
    snake_case recursive map_keys regex loop, status.error_code outcome
    chain, parse_groks user-principal split (ref msft/tables/
    aad_signinlogs.yml:183-300). The migration guarantee as an
    oracle-gated query, not just a pytest golden.

    Without the reference tree the repo's ported copy runs instead, fed
    the port's declared input (camelCase keys, `_table`, a long
    status.errorCode) through its ingest parse step; the PascalCase
    variant record is then not exercised."""
    td, from_reference = _verbatim_table_def("msft", "aad_signinlogs")
    ev = t(spark, sf_dir, "events")
    upn = F.concat(
        F.lit("user-"), F.col("user_id").cast("string"), F.lit("@example.com")
    )
    error_code = (
        F.when(F.col("event_type") == "error", F.lit(50126))
        .otherwise(F.lit(0))
    )
    if from_reference:
        record = F.struct(
            F.col("ts").cast("string").alias("CreatedDateTime"),
            F.col("event_id").cast("string").alias("Id"),
            upn.alias("UserPrincipalName"),
            F.struct(error_code.alias("ErrorCode")).alias("Status"),
        )
    else:
        record = F.struct(
            F.lit("aad_signinlogs").alias("_table"),
            F.col("ts").cast("string").alias("createdDateTime"),
            F.col("event_id").cast("string").alias("id"),
            upn.alias("userPrincipalName"),
            F.struct(error_code.cast("long").alias("errorCode")).alias("status"),
        )
    ecs = _through_verbatim(
        td,
        from_reference,
        ev.select(F.to_json(record).alias("json")),
        ("event.outcome", "user.name", "ts"),
    )
    return ecs.groupBy(
        F.col("event.outcome").alias("outcome"),
        F.date_trunc("day", F.col("ts")).alias("day"),
    ).agg(
        F.count(F.lit(1)).alias("n_signins"),
        F.countDistinct(F.col("user.name")).alias("n_users"),
    )


@query(
    "cloudtrail_verbatim_action_rollup",
    front=True,
    oracle="""
    SELECT event_type AS action,
           CASE WHEN event_type = 'error' THEN 'failure' ELSE 'success' END
             AS outcome,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def cloudtrail_verbatim_action_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Action/outcome rollup through the REFERENCE aws_cloudtrail
    transform text verbatim — the source-level program
    (log_source.yml:10-95: eventTime ts, userIdentity spread,
    sourceIPAddress grok) concatenated with the full tables/default.yml
    program (errorCode→outcome chain at :572, per-action related-user
    mappings), exactly as the reference deploys it.

    Without the reference tree the repo's ported copy runs instead: the
    same record, whose keys already match the port's input_fields, goes
    through its ingest parse step, so the `.json` variant handling is
    then not exercised."""
    td, from_reference = _verbatim_table_def("aws_cloudtrail", "default")
    ev = t(spark, sf_dir, "events")
    record = F.struct(
        F.col("ts").cast("string").alias("eventTime"),
        F.col("event_type").alias("eventName"),
        F.col("event_id").cast("string").alias("eventID"),
        F.lit("signin.amazonaws.com").alias("eventSource"),
        F.concat(
            F.lit("10.0.0."),
            (F.col("user_id") % 250).cast("string"),
        ).alias("sourceIPAddress"),
        F.when(
            F.col("event_type") == "error", F.lit("AccessDenied")
        ).alias("errorCode"),
    )
    ecs = _through_verbatim(
        td,
        from_reference,
        ev.select(F.to_json(record).alias("json")),
        ("event.action", "event.outcome", "ts"),
    )
    return ecs.groupBy(
        # on the reference path event.action is a variant passthrough of
        # .json.eventName (the port already lands a string) — concretize
        # for grouping
        F.col("event.action").cast("string").alias("action"),
        F.col("event.outcome").cast("string").alias("outcome"),
        F.date_trunc("day", F.col("ts")).alias("day"),
    ).agg(F.count(F.lit(1)).alias("n_events"))


@query(
    "suricata_severity_histogram",
    oracle="""
    SELECT (CAST(floor(value) AS BIGINT) % 3) + 1 AS severity,
           COUNT(*) AS n_alerts,
           COUNT(DISTINCT concat('10.0.0.', CAST(user_id % 250 AS VARCHAR)))
             AS n_src_ips
    FROM events
    WHERE event_type = 'error'
    GROUP BY 1
    """,
)
def suricata_severity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alert-severity histogram through the ported suricata pack:
    events → EVE alert JSON → suricata/eve compiled transform
    (alert.severity → event.severity, src_ip → source.ip) → counts and
    distinct attacking IPs per severity."""
    td = _table_def("suricata", "eve")
    ev = t(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    sev = (F.floor("value").cast("bigint") % 3) + 1
    raw = ev.select(
        F.to_json(
            F.struct(
                F.col("ts").cast("string").alias("timestamp"),
                F.lit("ALERT").alias("event_type"),
                F.col("event_id").alias("flow_id"),
                F.concat(
                    F.lit("10.0.0."), (F.col("user_id") % 250).cast("string")
                ).alias("src_ip"),
                F.lit(44321).alias("src_port"),
                F.lit("203.0.113.99").alias("dest_ip"),
                F.lit(443).alias("dest_port"),
                F.lit("TCP").alias("proto"),
                F.struct(
                    F.lit("Test signature").alias("signature"),
                    F.col("event_id").alias("signature_id"),
                    sev.alias("severity"),
                    F.lit("A Network Trojan was detected").alias("category"),
                    F.lit("allowed").alias("action"),
                ).alias("alert"),
            )
        ).alias("json")
    )
    ecs = _through_pipeline(td, raw, needed=('event.severity', 'source.ip', 'ts'))
    return (
        ecs.groupBy(F.col("event.severity").alias("severity"))
        .agg(
            F.count(F.lit(1)).alias("n_alerts"),
            F.countDistinct(F.col("source.ip")).alias("n_src_ips"),
        )
    )


@query(
    "panw_bytes_by_app",
    oracle="""
    SELECT event_type AS application,
           COUNT(*) AS n_sessions,
           CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS bytes_sent,
           CAST(SUM(CAST(floor(value * 10) AS BIGINT)) AS BIGINT) AS bytes_received
    FROM events
    GROUP BY 1
    """,
)
def panw_bytes_by_app(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bytes-by-application through the ported panw pack: events →
    PAN-OS TRAFFIC syslog CSV lines → panw/traffic compiled transform
    (grok header split + parse_csv positional mapping, tmp_v[7]=app,
    [25]/[26]=bytes) → per-application session/byte totals."""
    td = _table_def("panw", "traffic")
    ev = t(spark, sf_dir, "events")
    ts_str = F.date_format("ts", "yyyy/MM/dd HH:mm:ss")
    bytes_sent = F.floor(F.col("value") * 100).cast("bigint").cast("string")
    bytes_recv = F.floor(F.col("value") * 10).cast("bigint").cast("string")
    # CSV tail positions (traffic.yml): 0 src,1 dst,2 snat,3 dnat,4 rule,
    # 5 srcuser,6 dstuser,7 app,8 vsys,9 szone,10 dzone,11 inif,12 outif,
    # 13 logprof,14 fu,15 flow,16 rpt,17 sport,18 dport,19 snatp,20 dnatp,
    # 21 labels,22 proto,23 action,24 bytes,25 sent,26 received,27 pkts
    rest = F.concat_ws(
        ",",
        F.concat(F.lit("10.0.0."), (F.col("user_id") % 250).cast("string")),
        F.lit("203.0.113.7"),
        F.lit(""),
        F.lit(""),
        F.lit("allow-any"),
        F.lit(""),
        F.lit(""),
        F.col("event_type"),
        F.lit("vsys1"),
        F.lit("trust"),
        F.lit("untrust"),
        F.lit("ethernet1/1"),
        F.lit("ethernet1/2"),
        F.lit(""),
        F.lit(""),
        F.col("event_id").cast("string"),
        F.lit("1"),
        F.lit("44321"),
        F.lit("443"),
        F.lit(""),
        F.lit(""),
        F.lit(""),
        F.lit("tcp"),
        F.lit("allow"),
        F.lit(""),
        bytes_sent,
        bytes_recv,
        F.lit("10"),
    )
    raw = ev.select(
        F.concat(
            F.lit("1,"),
            ts_str,
            F.lit(",SN0001,TRAFFIC,end,1,"),
            ts_str,
            F.lit(","),
            rest,
        ).alias("message")
    )
    ecs = _through_pipeline(td, raw, needed=('destination.bytes', 'network.application', 'source.bytes', 'ts'))
    return (
        ecs.groupBy(F.col("network.application").alias("application"))
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum(F.col("source.bytes")).alias("bytes_sent"),
            F.sum(F.col("destination.bytes")).alias("bytes_received"),
        )
    )


@query(
    "cisa_kev_enrichment_lookup",
    oracle="""
    WITH kev AS (
      SELECT concat('CVE-2024-', CAST(p_partkey AS VARCHAR)) AS cve,
             p_brand AS vendor
      FROM part WHERE p_partkey <= 200
    ),
    ev AS (
      SELECT concat('CVE-2024-', CAST(l_partkey % 300 AS VARCHAR)) AS cve
      FROM lineitem
    )
    SELECT k.vendor AS vendor, COUNT(*) AS n_hits,
           COUNT(DISTINCT ev.cve) AS n_cves
    FROM ev JOIN kev k ON ev.cve = k.cve
    GROUP BY 1
    """,
)
def cisa_kev_enrichment_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 over a REAL managed enrichment pack: part rows synthesized
    into CISA KEV feed records, pushed through the cisa_kev pack's
    compiled transform + EnrichmentStore (overwrite mode), then
    broadcast-looked-up from a lineitem-derived event stream — hit
    counts per KEV vendor. The enrichment side stays broadcast-sized
    by construction (the reference's whole design constraint)."""
    from matano_spark.operators.enrichment import (
        EnrichmentStore,
        enrich,
        sync_enrichment,
    )

    part = t(spark, sf_dir, "part")
    raw = part.filter(F.col("p_partkey") <= 200).select(
        F.to_json(
            F.struct(
                F.concat(F.lit("CVE-2024-"), F.col("p_partkey").cast("string")).alias(
                    "cveID"
                ),
                F.col("p_brand").alias("vendorProject"),
                F.col("p_name").alias("product"),
                F.col("p_type").alias("shortDescription"),
                F.lit("2024-05-01").alias("dateAdded"),
                F.lit("Patch").alias("requiredAction"),
            )
        ).alias("json")
    )
    store = EnrichmentStore(spark, _oracle_scratch("kev_oracle_"))
    kev = sync_enrichment(
        store, os.path.join(_PACK_ROOT, "..", "enrichment", "cisa_kev"), raw
    )
    flat = kev.selectExpr(
        "vulnerability.id AS cve",
        "element_at(vulnerability.category, 2) AS vendor",
    )
    events = t(spark, sf_dir, "lineitem").select(
        F.concat(
            F.lit("CVE-2024-"), (F.col("l_partkey") % 300).cast("string")
        ).alias("cve")
    )
    hits = enrich(events, flat, on={"cve": "cve"}, select=["vendor"], target="kev")
    return (
        hits.filter(F.col("kev").isNotNull())
        .groupBy(F.col("kev.vendor").alias("vendor"))
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.countDistinct("cve").alias("n_cves"),
        )
    )


@query(
    "zeek_conn_traffic_rollup",
    oracle="""
    SELECT CASE WHEN event_type IN ('click', 'view') THEN 'tcp'
                ELSE 'udp' END AS transport,
           CASE WHEN user_id % 2 = 0 AND event_id % 2 = 0 THEN 'internal'
                WHEN user_id % 2 = 0 THEN 'outbound'
                WHEN event_id % 2 = 0 THEN 'inbound'
                ELSE 'external' END AS direction,
           COUNT(*) AS n_conns,
           CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)
                    + CAST(FLOOR(value * 37) AS BIGINT)) AS BIGINT)
             AS total_bytes
    FROM events
    GROUP BY 1, 2
    """,
)
def zeek_conn_traffic_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic rollup through the ported zeek connection table: events
    → zeek conn.log JSON (conn 4-tuple + byte counters + locality
    flags) → zeek/connection compiled transform (ref zeek/tables/
    connection.yml:61-260: network.bytes = orig+resp ip_bytes,
    local_orig×local_resp → network.direction) → bytes/conns per
    (transport, direction)."""
    td = _table_def("zeek", "connection")
    ev = t(spark, sf_dir, "events")
    raw = ev.select(
        F.to_json(
            F.struct(
                F.col("ts").cast("double").alias("ts"),
                F.concat(F.lit("C"), F.col("event_id").cast("string")).alias("uid"),
                F.concat(
                    F.lit("10.0.0."), (F.col("user_id") % 250).cast("string")
                ).alias("id.orig_h"),
                (40000 + F.col("event_id") % 20000).alias("id.orig_p"),
                F.lit("192.0.2.6").alias("id.resp_h"),
                F.lit(443).cast("long").alias("id.resp_p"),
                F.when(F.col("event_type").isin("click", "view"), "tcp")
                .otherwise("udp")
                .alias("proto"),
                F.floor(F.col("value") * 100).cast("long").alias("orig_ip_bytes"),
                F.floor(F.col("value") * 37).cast("long").alias("resp_ip_bytes"),
                (F.col("event_id") % 10 + 1).cast("long").alias("orig_pkts"),
                (F.col("user_id") % 10 + 1).cast("long").alias("resp_pkts"),
                (F.col("user_id") % 2 == 0).alias("local_orig"),
                (F.col("event_id") % 2 == 0).alias("local_resp"),
                F.lit("SF").alias("conn_state"),
            )
        ).alias("json")
    )
    ecs = _through_pipeline(td, raw, needed=('network.bytes', 'network.direction', 'network.transport', 'ts'))
    return ecs.groupBy(
        F.col("network.transport").alias("transport"),
        F.col("network.direction").alias("direction"),
    ).agg(
        F.count(F.lit(1)).alias("n_conns"),
        F.sum("network.bytes").alias("total_bytes"),
    )


@query(
    "msft_signin_risk_rollup",
    oracle="""
    SELECT CASE WHEN event_type = 'error' THEN 'failure' ELSE 'success' END
             AS event_outcome,
           CASE WHEN value >= 15.0 THEN 'high' WHEN value >= 5.0 THEN 'medium'
                ELSE 'low' END AS risk_level,
           COUNT(*) AS n_signins,
           COUNT(DISTINCT concat('user-', CAST(user_id AS VARCHAR)))
             AS n_users
    FROM events
    GROUP BY 1, 2
    """,
)
def msft_signin_risk_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-in risk rollup through the ported msft/aad_signinlogs pack
    (the largest ported transform — ref msft/tables/aad_signinlogs.yml):
    events → AAD SignInLogs JSON (status.errorCode, riskLevelDuringSignIn,
    userPrincipalName) → compiled transform (errorCode → event.outcome,
    UPN grok → user.name) → outcomes x risk levels."""
    td = _table_def("msft", "aad_signinlogs")
    ev = t(spark, sf_dir, "events")
    risk = (
        F.when(F.col("value") >= 15.0, "high")
        .when(F.col("value") >= 5.0, "medium")
        .otherwise("low")
    )
    raw = ev.select(
        F.to_json(
            F.struct(
                F.lit("aad_signinlogs").alias("_table"),
                F.col("ts").cast("string").alias("createdDateTime"),
                F.col("event_id").cast("string").alias("id"),
                F.concat(
                    F.lit("user-"),
                    F.col("user_id").cast("string"),
                    F.lit("@example.com"),
                ).alias("userPrincipalName"),
                F.col("user_id").cast("string").alias("userId"),
                risk.alias("riskLevelDuringSignIn"),
                F.struct(
                    F.when(F.col("event_type") == "error", F.lit(50126))
                    .otherwise(F.lit(0))
                    .cast("long")
                    .alias("errorCode")
                ).alias("status"),
            )
        ).alias("json")
    )
    ecs = _through_pipeline(td, raw, needed=('azure.aad_signinlogs.risk_level_during_signin', 'event.outcome', 'ts', 'user.name'))
    return ecs.groupBy(
        F.col("event.outcome").alias("event_outcome"),
        F.col("azure.aad_signinlogs.risk_level_during_signin").alias("risk_level"),
    ).agg(
        F.count(F.lit(1)).alias("n_signins"),
        F.countDistinct(F.col("user.name")).alias("n_users"),
    )


@query(
    "crowdstrike_fdr_category_rollup",
    oracle="""
    SELECT CASE WHEN event_type = 'error' THEN 'network'
                WHEN event_type = 'purchase' THEN 'configuration'
                ELSE 'package' END AS category,
           CASE WHEN event_type = 'error' THEN 'event'
                ELSE 'state' END AS kind,
           COUNT(*) AS n_events,
           COUNT(DISTINCT concat('host-', CAST(user_id % 20 AS VARCHAR)))
             AS n_hosts
    FROM events
    GROUP BY 1, 2
    """,
)
def crowdstrike_fdr_category_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event taxonomy rollup through the ported crowdstrike/fdr pack
    (ref crowdstrike/tables/fdr.yml's 227-entry event_simpleName map):
    events → FDR records (event_simpleName, ContextTimeStamp,
    ComputerName) → compiled transform (lookup maps → event.category/
    kind, ComputerName → host.hostname) → first-category x kind counts
    and distinct sensor hosts."""
    td = _table_def("crowdstrike", "fdr")
    ev = t(spark, sf_dir, "events")
    simple_name = (
        F.when(F.col("event_type") == "error", "AgentConnect")
        .when(F.col("event_type") == "purchase", "AgentOnline")
        .otherwise("AcUninstallConfirmation")
    )
    raw = ev.select(
        F.to_json(
            F.struct(
                simple_name.alias("event_simpleName"),
                F.col("ts").cast("long").cast("string").alias("ContextTimeStamp"),
                F.concat(
                    F.lit("host-"), (F.col("user_id") % 20).cast("string")
                ).alias("ComputerName"),
                F.col("user_id").cast("string").alias("aid"),
            )
        ).alias("json")
    )
    ecs = _through_pipeline(td, raw, needed=('event.category', 'event.kind', 'host.hostname', 'ts'))
    return ecs.groupBy(
        F.element_at(F.col("event.category"), 1).alias("category"),
        F.col("event.kind").alias("kind"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct(F.col("host.hostname")).alias("n_hosts"),
    )


@query(
    "github_audit_team_rollup",
    oracle="""
    SELECT concat('team.', event_type) AS action,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           'acme/platform' AS group_name,
           COUNT(*) AS n_events,
           COUNT(DISTINCT concat('user-', CAST(user_id AS VARCHAR)))
             AS n_actors
    FROM events
    GROUP BY 1, 2
    """,
)
def github_audit_team_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Org-audit rollup through the ported github_audit pack: events →
    GitHub audit-log JSON (created_at epoch-millis, team.* action) →
    compiled transform (millis ts extraction, actor → user.name,
    team.* action → group.name) → per-action-per-day activity with
    distinct actors."""
    td = _table_def("github_audit", "default")
    ev = t(spark, sf_dir, "events")
    raw = ev.select(
        F.to_json(
            F.struct(
                F.unix_millis(F.col("ts")).alias("created_at"),
                F.concat(F.lit("doc-"), F.col("event_id").cast("string")).alias(
                    "_document_id"
                ),
                F.concat(F.lit("team."), F.col("event_type")).alias("action"),
                F.concat(F.lit("user-"), F.col("user_id").cast("string")).alias(
                    "actor"
                ),
                F.lit("acme").alias("org"),
                F.lit("acme/platform").alias("team"),
            )
        ).alias("json")
    )
    ecs = _through_pipeline(td, raw, needed=('event.action', 'group.name', 'ts', 'user.name'))
    return ecs.groupBy(
        F.col("event.action").alias("action"),
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.col("group.name").alias("group_name"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct(F.col("user.name")).alias("n_actors"),
    )


@query(
    "teleport_auth_outcomes",
    oracle="""
    SELECT concat('cl-', CAST(user_id % 3 AS VARCHAR)) AS cluster_name,
           CASE WHEN event_type <> 'error' THEN 'success'
                ELSE 'failure' END AS outcome,
           COUNT(*) AS n_logins,
           COUNT(DISTINCT concat('user-', CAST(user_id AS VARCHAR)))
             AS n_users
    FROM events
    WHERE user_id % 2 = 0
    GROUP BY 1, 2
    """,
)
def teleport_auth_outcomes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Authentication-outcome rollup through the ported teleport pack:
    events → Teleport audit JSON (user.login / session.start events,
    success boolean) → compiled transform (success → event.outcome,
    cluster/user mapping) → per-cluster login outcome counts."""
    td = _table_def("teleport", "audit")
    ev = t(spark, sf_dir, "events")
    raw = ev.select(
        F.to_json(
            F.struct(
                F.col("ts").cast("string").alias("time"),
                F.when(F.col("user_id") % 2 == 0, "user.login")
                .otherwise("session.start")
                .alias("event"),
                F.col("event_id").cast("string").alias("uid"),
                (F.col("event_type") != "error").alias("success"),
                F.concat(
                    F.lit("cl-"), (F.col("user_id") % 3).cast("string")
                ).alias("cluster_name"),
                F.concat(F.lit("user-"), F.col("user_id").cast("string")).alias(
                    "user"
                ),
            )
        ).alias("json")
    )
    ecs = _through_pipeline(td, raw, needed=('event.action', 'event.outcome', 'source.user.name', 'teleport.cluster_name', 'ts'))
    return (
        ecs.filter(F.col("event.action") == "user.login")
        .groupBy(
            F.col("teleport.cluster_name").alias("cluster_name"),
            F.col("event.outcome").alias("outcome"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_logins"),
            F.countDistinct(F.col("source.user.name")).alias("n_users"),
        )
    )


@query(
    "gcp_audit_method_outcomes",
    oracle="""
    SELECT concat('compute.instances.', event_type) AS action,
           CASE WHEN CAST(floor(value) AS BIGINT) % 5 = 0
                THEN 'failure' ELSE 'success' END AS outcome,
           COUNT(*) AS n_events,
           COUNT(DISTINCT concat('dev-', CAST(user_id AS VARCHAR),
                                 '@example.iam.gserviceaccount.com'))
             AS n_principals
    FROM events
    GROUP BY 1, 2
    """,
)
def gcp_audit_method_outcomes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Method/outcome rollup through the ported gcp_audit pack — the
    heaviest ported transform (AuditLog type gate, status-code outcome
    logic, principal mapping): events → Cloud Audit Log JSON →
    compiled transform → per-method outcome counts with distinct
    service-account principals."""
    td = _table_def("gcp_audit", "default")
    ev = t(spark, sf_dir, "events")
    # status.code 7 (PERMISSION_DENIED) for ~1/5 of events, else 0 (OK)
    status_code = F.when(
        F.floor("value").cast("bigint") % 5 == 0, F.lit(7).cast("long")
    ).otherwise(F.lit(0).cast("long"))
    raw = ev.select(
        F.to_json(
            F.struct(
                F.col("event_id").cast("string").alias("insertId"),
                F.lit(
                    "projects/my-proj/logs/cloudaudit.googleapis.com%2Factivity"
                ).alias("logName"),
                F.lit("NOTICE").alias("severity"),
                F.col("ts").cast("string").alias("timestamp"),
                F.struct(
                    F.lit("gce_instance").alias("type"),
                    F.struct(F.lit("my-proj").alias("project_id")).alias(
                        "labels"
                    ),
                ).alias("resource"),
                F.struct(
                    F.lit(
                        "type.googleapis.com/google.cloud.audit.AuditLog"
                    ).alias("@type"),
                    F.concat(
                        F.lit("compute.instances."), F.col("event_type")
                    ).alias("methodName"),
                    F.lit("compute.googleapis.com").alias("serviceName"),
                    F.struct(status_code.alias("code")).alias("status"),
                    F.struct(
                        F.concat(
                            F.lit("dev-"),
                            F.col("user_id").cast("string"),
                            F.lit("@example.iam.gserviceaccount.com"),
                        ).alias("principalEmail")
                    ).alias("authenticationInfo"),
                    F.struct(
                        F.concat(
                            F.lit("203.0.113."),
                            (F.col("user_id") % 200).cast("string"),
                        ).alias("callerIp")
                    ).alias("requestMetadata"),
                ).alias("protoPayload"),
            )
        ).alias("json")
    )
    ecs = _through_pipeline(td, raw, needed=('event.action', 'event.outcome', 'ts', 'user.email'))
    return ecs.groupBy(
        F.col("event.action").alias("action"),
        F.col("event.outcome").alias("outcome"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct(F.col("user.email")).alias("n_principals"),
    )


@query(
    "cloudflare_status_rollup",
    oracle="""
    SELECT CASE event_type WHEN 'error' THEN 503
                           WHEN 'purchase' THEN 200
                           ELSE 404 END AS status_code,
           COUNT(*) AS n_requests,
           CAST(SUM(CAST(floor(value) AS BIGINT)) AS BIGINT) AS total_bytes,
           COUNT(DISTINCT concat('198.51.100.',
                                 CAST(user_id % 200 AS VARCHAR))) AS n_ips
    FROM events
    GROUP BY 1
    """,
)
def cloudflare_status_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge-status rollup through the ported cloudflare http_request
    pack: events → HTTP request JSON → compiled transform
    (EdgeResponseStatus → http.response.status_code, ClientIP →
    source.ip, ClientRequestBytes int cast) → status histogram with
    byte totals and distinct clients."""
    td = _table_def("cloudflare", "http_request")
    ev = t(spark, sf_dir, "events")
    status = (
        F.when(F.col("event_type") == "error", 503)
        .when(F.col("event_type") == "purchase", 200)
        .otherwise(404)
    )
    raw = ev.select(
        F.to_json(
            F.struct(
                F.col("ts").cast("string").alias("EdgeStartTimestamp"),
                status.cast("long").alias("EdgeResponseStatus"),
                F.concat(
                    F.lit("198.51.100."), (F.col("user_id") % 200).cast("string")
                ).alias("ClientIP"),
                F.floor("value").cast("long").alias("ClientRequestBytes"),
            )
        ).alias("json")
    )
    ecs = _through_pipeline(td, raw, needed=('cloudflare.http_request.client.request.bytes', 'http.response.status_code', 'source.ip', 'ts'))
    return ecs.groupBy(
        F.col("http.response.status_code").alias("status_code")
    ).agg(
        F.count(F.lit(1)).alias("n_requests"),
        F.sum(F.col("cloudflare.http_request.client.request.bytes"))
        .cast("bigint")
        .alias("total_bytes"),
        F.countDistinct(F.col("source.ip")).alias("n_ips"),
    )


@query(
    "duo_auth_factor_outcomes",
    oracle="""
    SELECT CASE user_id % 3 WHEN 0 THEN 'duo_push'
                            WHEN 1 THEN 'sms'
                            ELSE 'phone_call' END AS factor,
           CASE WHEN event_type = 'error' THEN 'failure'
                ELSE 'success' END AS outcome,
           COUNT(*) AS n_attempts,
           COUNT(DISTINCT concat('user-', CAST(user_id AS VARCHAR)))
             AS n_users
    FROM events
    GROUP BY 1, 2
    """,
)
def duo_auth_factor_outcomes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MFA factor/outcome rollup through the ported duo auth pack:
    events → Duo Auth API JSON (epoch-seconds timestamp, nested user
    struct) → compiled transform (result → event.outcome, factor
    passthrough, user.name mapping) → attempts per factor/outcome."""
    td = _table_def("duo", "auth")
    ev = t(spark, sf_dir, "events")
    factor = (
        F.when(F.col("user_id") % 3 == 0, "duo_push")
        .when(F.col("user_id") % 3 == 1, "sms")
        .otherwise("phone_call")
    )
    raw = ev.select(
        F.to_json(
            F.struct(
                F.unix_timestamp(F.col("ts")).alias("timestamp"),
                F.when(F.col("event_type") == "error", "failure")
                .otherwise("success")
                .alias("result"),
                factor.alias("factor"),
                F.struct(
                    F.col("user_id").cast("string").alias("key"),
                    F.concat(
                        F.lit("user-"), F.col("user_id").cast("string")
                    ).alias("name"),
                ).alias("user"),
            )
        ).alias("json")
    )
    ecs = _through_pipeline(td, raw, needed=('duo.auth.factor', 'event.outcome', 'ts', 'user.name'))
    return ecs.groupBy(
        F.col("duo.auth.factor").alias("factor"),
        F.col("event.outcome").alias("outcome"),
    ).agg(
        F.count(F.lit(1)).alias("n_attempts"),
        F.countDistinct(F.col("user.name")).alias("n_users"),
    )


@query(
    "o365_workload_actions",
    oracle="""
    SELECT CASE WHEN user_id % 2 = 0 THEN 'Exchange'
                ELSE 'SharePoint' END AS provider,
           event_type AS action,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           COUNT(*) AS n_ops
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def o365_workload_actions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Workload/operation rollup through the ported o365 audit pack:
    events → Office 365 Management Activity JSON (CreationTime with
    the transform's Z-splitting quirk) → compiled transform (Workload
    → event.provider, Operation → event.action) → per-day operation
    counts."""
    td = _table_def("o365", "audit")
    ev = t(spark, sf_dir, "events")
    raw = ev.select(
        F.to_json(
            F.struct(
                F.concat(
                    F.date_format(F.col("ts"), "yyyy-MM-dd'T'HH:mm:ss"),
                    F.lit("Z"),
                ).alias("CreationTime"),
                F.col("event_id").cast("string").alias("Id"),
                F.when(F.col("user_id") % 2 == 0, "Exchange")
                .otherwise("SharePoint")
                .alias("Workload"),
                F.col("event_type").alias("Operation"),
                F.concat(
                    F.lit("user-"), F.col("user_id").cast("string")
                ).alias("UserId"),
            )
        ).alias("json")
    )
    ecs = _through_pipeline(td, raw, needed=('event.action', 'event.provider', 'ts'))
    return ecs.groupBy(
        F.col("event.provider").alias("provider"),
        F.col("event.action").alias("action"),
        F.date_trunc("day", F.col("ts")).alias("day"),
    ).agg(F.count(F.lit(1)).alias("n_ops"))


@query(
    "vpcflow_action_rollup",
    oracle="""
    SELECT CASE WHEN event_type = 'error' THEN 'REJECT'
                ELSE 'ACCEPT' END AS action,
           COUNT(*) AS n_flows,
           CAST(SUM(CAST(floor(value) AS BIGINT)) AS BIGINT) AS total_bytes,
           COUNT(DISTINCT concat('10.0.', CAST(user_id % 250 AS VARCHAR),
                                 '.9')) AS n_sources
    FROM events
    GROUP BY 1
    """,
)
def vpcflow_action_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flow-action rollup through the ported aws_vpcflow pack: events
    → space-separated v2 flow-log lines → the pack's
    parse_aws_vpc_flow_log positional transform (srcaddr → source.ip,
    bytes → network.bytes, action passthrough) → accept/reject totals.
    Exercises the custom VPC-flow scalar function end-to-end."""
    td = _table_def("aws_vpcflow", "default")
    ev = t(spark, sf_dir, "events")
    action = F.when(F.col("event_type") == "error", "REJECT").otherwise(
        "ACCEPT"
    )
    start = F.unix_timestamp(F.col("ts")).cast("string")
    line = F.concat_ws(
        " ",
        F.lit("2"),
        F.lit("123456789012"),
        F.concat(F.lit("eni-"), F.col("event_id").cast("string")),
        F.concat(F.lit("10.0."), (F.col("user_id") % 250).cast("string"), F.lit(".9")),
        F.lit("203.0.113.12"),
        F.lit("44321"),
        F.lit("443"),
        F.lit("6"),
        F.lit("10"),
        F.floor("value").cast("bigint").cast("string"),
        start,
        start,
        action,
        F.lit("OK"),
    )
    raw = ev.select(line.alias("message"))
    ecs = _through_pipeline(td, raw, needed=('aws.vpcflow.action', 'network.bytes', 'source.ip', 'ts'))
    return ecs.groupBy(F.col("aws.vpcflow.action").alias("action")).agg(
        F.count(F.lit(1)).alias("n_flows"),
        F.sum("network.bytes").cast("bigint").alias("total_bytes"),
        F.countDistinct(F.col("source.ip")).alias("n_sources"),
    )


@query(
    "elb_status_rollup",
    oracle="""
    SELECT CASE event_type WHEN 'error' THEN 503
                           WHEN 'purchase' THEN 200
                           ELSE 404 END AS status_code,
           COUNT(*) AS n_requests,
           COUNT(DISTINCT concat('192.0.2.', CAST(user_id % 200 AS VARCHAR)))
             AS n_clients
    FROM events
    GROUP BY 1
    """,
)
def elb_status_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Status rollup through the ported aws_elb pack: events → ALB
    access-log lines → the pack's grok-cascade transform (ELBHTTPLOG
    pattern: status extraction, client ip:port split) → status
    histogram with distinct clients. Exercises the grok compiler on
    its heaviest shipped pattern."""
    td = _table_def("aws_elb", "default")
    ev = t(spark, sf_dir, "events")
    status = (
        F.when(F.col("event_type") == "error", "503")
        .when(F.col("event_type") == "purchase", "200")
        .otherwise("404")
    )
    ts_str = F.concat(
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSS"), F.lit("Z")
    )
    client = F.concat(F.lit("192.0.2."), (F.col("user_id") % 200).cast("string"))
    line = F.concat(
        F.lit("http "),
        ts_str,
        F.lit(" app/my-alb/50dc6c495c0c9188 "),
        client,
        F.lit(":34567 10.0.1.5:80 0.000 0.001 0.000 "),
        status,
        F.lit(" "),
        status,
        F.lit(' 34 366 "GET http://www.example.com:80/path?q=1 HTTP/1.1" '),
        F.lit('"curl/7.46.0" - - '),
        F.lit("arn:aws:elasticloadbalancing:us-east-1:1:targetgroup/tg/abc "),
        F.lit('"Root=1-58337262-36d228ad5d99923122bbe354" "-" "-" 0 '),
        ts_str,
        F.lit(' "forward" "-" "-"'),
    )
    raw = ev.select(line.alias("message"))
    ecs = _through_pipeline(td, raw, needed=('http.response.status_code', 'source.ip', 'ts'))
    return ecs.groupBy(
        F.col("http.response.status_code").alias("status_code")
    ).agg(
        F.count(F.lit(1)).alias("n_requests"),
        F.countDistinct(F.col("source.ip")).alias("n_clients"),
    )


@query(
    "onepassword_signin_outcomes",
    oracle="""
    SELECT CASE event_type WHEN 'purchase' THEN 'success'
                           WHEN 'error' THEN 'credentials_failed'
                           ELSE 'firewall_reported_success' END AS action,
           CASE WHEN event_type = 'error' THEN 'failure'
                ELSE 'success' END AS outcome,
           COUNT(*) AS n_attempts,
           COUNT(DISTINCT concat('user-', CAST(user_id AS VARCHAR),
                                 '@example.com')) AS n_users
    FROM events
    GROUP BY 1, 2
    """,
)
def onepassword_signin_outcomes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-in outcome rollup through the ported onepassword pack:
    events → 1Password signinattempts JSON (epoch-seconds timestamp,
    nested target_user/client) → compiled transform (category →
    event.action, success-category list → event.outcome)."""
    td = _table_def("onepassword", "signin_attempts")
    ev = t(spark, sf_dir, "events")
    category = (
        F.when(F.col("event_type") == "purchase", "success")
        .when(F.col("event_type") == "error", "credentials_failed")
        .otherwise("firewall_reported_success")
    )
    raw = ev.select(
        F.to_json(
            F.struct(
                F.unix_timestamp(F.col("ts")).alias("timestamp"),
                F.col("event_id").cast("string").alias("uuid"),
                category.alias("category"),
                F.struct(
                    F.col("user_id").cast("string").alias("uuid"),
                    F.concat(
                        F.lit("user-"), F.col("user_id").cast("string")
                    ).alias("name"),
                    F.concat(
                        F.lit("user-"),
                        F.col("user_id").cast("string"),
                        F.lit("@example.com"),
                    ).alias("email"),
                ).alias("target_user"),
                F.struct(
                    F.concat(
                        F.lit("198.51.100."),
                        (F.col("user_id") % 200).cast("string"),
                    ).alias("ip_address")
                ).alias("client"),
            )
        ).alias("json")
    )
    ecs = _through_pipeline(td, raw, needed=('event.action', 'event.outcome', 'ts', 'user.email'))
    return ecs.groupBy(
        F.col("event.action").alias("action"),
        F.col("event.outcome").alias("outcome"),
    ).agg(
        F.count(F.lit(1)).alias("n_attempts"),
        F.countDistinct(F.col("user.email")).alias("n_users"),
    )


@query(
    "snyk_audit_actions",
    oracle="""
    SELECT concat('org.project.', event_type) AS action,
           COUNT(*) AS n_events,
           COUNT(DISTINCT concat('u-', CAST(user_id AS VARCHAR))) AS n_users
    FROM events
    GROUP BY 1
    """,
)
def snyk_audit_actions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit-action rollup through the ported snyk pack: events →
    Snyk group audit JSON (epoch-seconds created) → compiled transform
    (event → event.action, userId → user.id)."""
    td = _table_def("snyk", "audit")
    ev = t(spark, sf_dir, "events")
    raw = ev.select(
        F.to_json(
            F.struct(
                F.unix_timestamp(F.col("ts")).alias("created"),
                F.concat(F.lit("org.project."), F.col("event_type")).alias(
                    "event"
                ),
                F.concat(F.lit("u-"), F.col("user_id").cast("string")).alias(
                    "userId"
                ),
                F.lit("g-1").alias("groupId"),
                F.lit("o-1").alias("orgId"),
            )
        ).alias("json")
    )
    ecs = _through_pipeline(td, raw, needed=('event.action', 'ts', 'user.id'))
    return ecs.groupBy(F.col("event.action").alias("action")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct(F.col("user.id")).alias("n_users"),
    )


@query(
    "waf_action_rollup",
    oracle="""
    SELECT CASE WHEN event_type = 'error' THEN 'BLOCK'
                ELSE 'ALLOW' END AS action,
           COUNT(*) AS n_requests,
           COUNT(DISTINCT concat('203.0.113.',
                                 CAST(user_id % 200 AS VARCHAR))) AS n_clients
    FROM events
    GROUP BY 1
    """,
)
def waf_action_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allow/block rollup through the ported aws_waf pack: events →
    WAF log JSON (epoch-millis timestamp, webaclId ARN regex-parsed,
    nested httpRequest) → compiled transform."""
    td = _table_def("aws_waf", "default")
    ev = t(spark, sf_dir, "events")
    action = F.when(F.col("event_type") == "error", "BLOCK").otherwise("ALLOW")
    raw = ev.select(
        F.to_json(
            F.struct(
                F.unix_millis(F.col("ts")).alias("timestamp"),
                action.alias("action"),
                F.lit(
                    "arn:aws:wafv2:us-east-1:123456789012:regional/webacl/acl/1"
                ).alias("webaclId"),
                F.struct(
                    F.concat(
                        F.lit("203.0.113."),
                        (F.col("user_id") % 200).cast("string"),
                    ).alias("clientIp"),
                    F.lit("US").alias("country"),
                    F.lit("HTTP/1.1").alias("httpVersion"),
                    F.lit("GET").alias("httpMethod"),
                    F.lit("/index.html").alias("uri"),
                ).alias("httpRequest"),
            )
        ).alias("json")
    )
    ecs = _through_pipeline(td, raw, needed=('event.action', 'source.ip', 'ts'))
    return ecs.groupBy(F.col("event.action").alias("action")).agg(
        F.count(F.lit(1)).alias("n_requests"),
        F.countDistinct(F.col("source.ip")).alias("n_clients"),
    )


@query(
    "route53_qtype_rcode_rollup",
    oracle="""
    SELECT CASE user_id % 3 WHEN 0 THEN 'A' WHEN 1 THEN 'AAAA'
                            ELSE 'TXT' END AS qtype,
           CASE WHEN event_type = 'error' THEN 'SERVFAIL'
                ELSE 'NOERROR' END AS rcode,
           COUNT(*) AS n_queries,
           COUNT(DISTINCT concat('host', CAST(user_id AS VARCHAR),
                                 '.example.com')) AS n_names
    FROM events
    GROUP BY 1, 2
    """,
)
def route53_qtype_rcode_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DNS query-type/response-code rollup through the ported
    aws_route53_resolver_logs pack: events → resolver query-log JSON →
    compiled transform (trailing-dot strip on question names, rcode
    passthrough)."""
    td = _table_def("aws_route53_resolver_logs", "default")
    ev = t(spark, sf_dir, "events")
    qtype = (
        F.when(F.col("user_id") % 3 == 0, "A")
        .when(F.col("user_id") % 3 == 1, "AAAA")
        .otherwise("TXT")
    )
    rcode = F.when(F.col("event_type") == "error", "SERVFAIL").otherwise(
        "NOERROR"
    )
    raw = ev.select(
        F.to_json(
            F.struct(
                F.col("ts").cast("string").alias("query_timestamp"),
                F.lit("123456789012").alias("account_id"),
                F.lit("us-east-1").alias("region"),
                F.concat(
                    F.lit("host"),
                    F.col("user_id").cast("string"),
                    F.lit(".example.com."),
                ).alias("query_name"),
                qtype.alias("query_type"),
                F.lit("IN").alias("query_class"),
                rcode.alias("rcode"),
            )
        ).alias("json")
    )
    ecs = _through_pipeline(td, raw, needed=('dns.question.name', 'dns.question.type', 'dns.response_code', 'ts'))
    return ecs.groupBy(
        F.col("dns.question.type").alias("qtype"),
        F.col("dns.response_code").alias("rcode"),
    ).agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.countDistinct(F.col("dns.question.name")).alias("n_names"),
    )


@query(
    "gworkspace_login_actions",
    oracle="""
    SELECT CASE WHEN event_type = 'error' THEN 'login_failure'
                WHEN event_type = 'purchase' THEN 'login_success'
                ELSE 'logout' END AS action,
           COUNT(*) AS n_events,
           COUNT(DISTINCT concat('user-', CAST(user_id AS VARCHAR)))
             AS n_users
    FROM events
    GROUP BY 1
    """,
)
def gworkspace_login_actions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Login-activity rollup through the ported google_workspace login
    pack: events → Reports API JSON (nested id/actor/events[]) →
    compiled transform (events[0].name → event.action, email
    splitting into user.name/domain)."""
    td = _table_def("google_workspace", "login")
    ev = t(spark, sf_dir, "events")
    action = (
        F.when(F.col("event_type") == "error", "login_failure")
        .when(F.col("event_type") == "purchase", "login_success")
        .otherwise("logout")
    )
    raw = ev.select(
        F.to_json(
            F.struct(
                F.lit("admin#reports#activity").alias("kind"),
                F.struct(
                    F.col("ts").cast("string").alias("time"),
                    F.col("event_id").cast("string").alias("uniqueQualifier"),
                    F.lit("login").alias("applicationName"),
                    F.lit("C0123").alias("customerId"),
                ).alias("id"),
                F.struct(
                    F.concat(
                        F.lit("user-"),
                        F.col("user_id").cast("string"),
                        F.lit("@example.com"),
                    ).alias("email"),
                    F.col("user_id").cast("string").alias("profileId"),
                ).alias("actor"),
                F.array(
                    F.struct(
                        action.alias("name"), F.lit("login").alias("type")
                    )
                ).alias("events"),
            )
        ).alias("json")
    )
    ecs = _through_pipeline(td, raw, needed=('event.action', 'ts', 'user.name'))
    return ecs.groupBy(F.col("event.action").alias("action")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct(F.col("user.name")).alias("n_users"),
    )


@query(
    "cloudtrail_api_action_rollup",
    oracle="""
    SELECT concat('Api', event_type) AS action,
           COUNT(*) AS n_calls,
           COUNT(DISTINCT concat('arn:aws:iam::1:user/u',
                                 CAST(user_id AS VARCHAR))) AS n_arns
    FROM events
    GROUP BY 1
    """,
)
def cloudtrail_api_action_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """API action rollup through the ported aws_cloudtrail pack (the
    reference's flagship source): events → CloudTrail records →
    compiled transform (eventName → event.action, userIdentity.arn
    nesting, del-based field moves)."""
    td = _table_def("aws_cloudtrail", "default")
    ev = t(spark, sf_dir, "events")
    raw = ev.select(
        F.to_json(
            F.struct(
                F.col("ts").cast("string").alias("eventTime"),
                F.concat(F.lit("Api"), F.col("event_type")).alias("eventName"),
                F.lit("iam.amazonaws.com").alias("eventSource"),
                F.struct(
                    F.lit("IAMUser").alias("type"),
                    F.col("user_id").cast("string").alias("principalId"),
                    F.concat(
                        F.lit("arn:aws:iam::1:user/u"),
                        F.col("user_id").cast("string"),
                    ).alias("arn"),
                ).alias("userIdentity"),
            )
        ).alias("json")
    )
    ecs = _through_pipeline(td, raw, needed=('aws.cloudtrail.user_identity.arn', 'event.action', 'ts'))
    return ecs.groupBy(F.col("event.action").alias("action")).agg(
        F.count(F.lit(1)).alias("n_calls"),
        F.countDistinct(
            F.col("aws.cloudtrail.user_identity.arn")
        ).alias("n_arns"),
    )


@query(
    "s3access_operation_rollup",
    oracle="""
    SELECT CASE WHEN user_id % 2 = 0 THEN 'REST.GET.OBJECT'
                ELSE 'REST.PUT.OBJECT' END AS operation,
           CASE event_type WHEN 'error' THEN 403
                           WHEN 'purchase' THEN 200
                           ELSE 404 END AS status_code,
           COUNT(*) AS n_requests,
           COUNT(DISTINCT concat('192.0.2.', CAST(user_id % 200 AS VARCHAR)))
             AS n_clients
    FROM events
    GROUP BY 1, 2
    """,
)
def s3access_operation_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operation/status rollup through the ported aws_s3access pack:
    events → S3 server-access log lines → the pack's grok transform
    (bracketed strftime date, operation token, status extraction)."""
    td = _table_def("aws_s3access", "default")
    ev = t(spark, sf_dir, "events")
    op = F.when(F.col("user_id") % 2 == 0, "REST.GET.OBJECT").otherwise(
        "REST.PUT.OBJECT"
    )
    status = (
        F.when(F.col("event_type") == "error", "403")
        .when(F.col("event_type") == "purchase", "200")
        .otherwise("404")
    )
    ts_str = F.concat(
        F.lit("["), F.date_format("ts", "dd/MMM/yyyy:HH:mm:ss"),
        F.lit(" +0000]"),
    )
    client = F.concat(F.lit("192.0.2."), (F.col("user_id") % 200).cast("string"))
    line = F.concat_ws(
        " ",
        F.lit("79a59df900b949e55d96a1e698fbacedfd6e09d98eacf8f8d5218e7cd47ef2be"),
        F.lit("mybucket"),
        ts_str,
        client,
        F.lit("requester-id"),
        F.col("event_id").cast("string"),
        op,
        F.lit("some/key.txt"),
        F.lit('"GET /mybucket/some/key.txt HTTP/1.1"'),
        status,
        F.lit("-"),
        F.lit("113"),
        F.lit("4096"),
        F.lit("7"),
        F.lit("-"),
        F.lit('"-"'),
        F.lit('"S3Console/0.4"'),
        F.lit("-"),
        F.lit("hostidhostid="),
        F.lit("SigV4"),
        F.lit("ECDHE-RSA-AES128-GCM-SHA256"),
        F.lit("AuthHeader"),
        F.lit("mybucket.s3.us-west-1.amazonaws.com"),
        F.lit("TLSV1.2"),
    )
    raw = ev.select(line.alias("message"))
    ecs = _through_pipeline(td, raw, needed=('aws.s3access.operation', 'client.ip', 'http.response.status_code', 'ts'))
    return ecs.groupBy(
        F.col("aws.s3access.operation").alias("operation"),
        F.col("http.response.status_code").alias("status_code"),
    ).agg(
        F.count(F.lit(1)).alias("n_requests"),
        F.countDistinct(F.col("client.ip")).alias("n_clients"),
    )


@query(
    "config_history_status_rollup",
    oracle="""
    SELECT CASE WHEN user_id % 2 = 0 THEN 'AWS::EC2::Instance'
                ELSE 'AWS::S3::Bucket' END AS resource_type,
           CASE WHEN event_type = 'error' THEN 'ResourceDeleted'
                ELSE 'OK' END AS status,
           COUNT(*) AS n_items,
           COUNT(DISTINCT concat('res-', CAST(user_id AS VARCHAR)))
             AS n_resources
    FROM events
    GROUP BY 1, 2
    """,
)
def config_history_status_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Configuration-item rollup through the ported aws_config_history
    pack: events → Config history records → compiled transform
    (resourceType/status/resourceId mapping)."""
    td = _table_def("aws_config_history", "default")
    ev = t(spark, sf_dir, "events")
    rtype = F.when(
        F.col("user_id") % 2 == 0, "AWS::EC2::Instance"
    ).otherwise("AWS::S3::Bucket")
    status = F.when(F.col("event_type") == "error", "ResourceDeleted").otherwise(
        "OK"
    )
    raw = ev.select(
        F.to_json(
            F.struct(
                F.lit("1.3").alias("version"),
                F.col("ts").cast("string").alias("configurationItemCaptureTime"),
                status.alias("configurationItemStatus"),
                rtype.alias("resourceType"),
                F.concat(F.lit("res-"), F.col("user_id").cast("string")).alias(
                    "resourceId"
                ),
                F.lit("us-east-1").alias("awsRegion"),
            )
        ).alias("json")
    )
    ecs = _through_pipeline(td, raw, needed=('aws.config_history.item.status', 'aws.config_history.resource.id', 'aws.config_history.resource.type', 'ts'))
    return ecs.groupBy(
        F.col("aws.config_history.resource.type").alias("resource_type"),
        F.col("aws.config_history.item.status").alias("status"),
    ).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.countDistinct(F.col("aws.config_history.resource.id")).alias(
            "n_resources"
        ),
    )


@query(
    "inspector_severity_rollup",
    oracle="""
    SELECT CASE event_type WHEN 'error' THEN 'CRITICAL'
                           WHEN 'purchase' THEN 'HIGH'
                           ELSE 'MEDIUM' END AS severity,
           COUNT(*) AS n_findings,
           COUNT(DISTINCT concat('123456789', CAST(user_id % 100 AS VARCHAR)))
             AS n_accounts
    FROM events
    GROUP BY 1
    """,
)
def inspector_severity_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Finding-severity rollup through the ported aws_inspector pack:
    events → Inspector2 findings JSON → compiled transform (updatedAt
    → ts, severity/account mapping)."""
    td = _table_def("aws_inspector", "default")
    ev = t(spark, sf_dir, "events")
    sev = (
        F.when(F.col("event_type") == "error", "CRITICAL")
        .when(F.col("event_type") == "purchase", "HIGH")
        .otherwise("MEDIUM")
    )
    raw = ev.select(
        F.to_json(
            F.struct(
                F.col("ts").cast("string").alias("updatedAt"),
                sev.alias("severity"),
                F.concat(
                    F.lit("123456789"), (F.col("user_id") % 100).cast("string")
                ).alias("awsAccountId"),
                F.lit("A finding").alias("description"),
            )
        ).alias("json")
    )
    ecs = _through_pipeline(td, raw, needed=('aws.inspector.severity', 'cloud.account.id', 'ts'))
    return ecs.groupBy(
        F.col("aws.inspector.severity").alias("severity")
    ).agg(
        F.count(F.lit(1)).alias("n_findings"),
        F.countDistinct(F.col("cloud.account.id")).alias("n_accounts"),
    )


@query(
    "falcon_severity_rollup",
    oracle="""
    SELECT CASE event_type WHEN 'error' THEN 'Critical'
                           WHEN 'purchase' THEN 'High'
                           ELSE 'Informational' END AS severity_name,
           COUNT(*) AS n_detections,
           COUNT(DISTINCT concat('user-', CAST(user_id AS VARCHAR)))
             AS n_users
    FROM events
    GROUP BY 1
    """,
)
def falcon_severity_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detection-severity rollup through the ported crowdstrike_falcon
    pack: events → Falcon streaming-API JSON (metadata + event blocks,
    epoch-ms creation time) → compiled transform (tmp_ev stash,
    SeverityName/UserName mapping)."""
    td = _table_def("crowdstrike_falcon", "default")
    ev = t(spark, sf_dir, "events")
    sev = (
        F.when(F.col("event_type") == "error", "Critical")
        .when(F.col("event_type") == "purchase", "High")
        .otherwise("Informational")
    )
    raw = ev.select(
        F.to_json(
            F.struct(
                F.struct(
                    F.lit("cid-1").alias("customerIDString"),
                    F.unix_millis(F.col("ts")).alias("eventCreationTime"),
                    F.lit("DetectionSummaryEvent").alias("eventType"),
                ).alias("metadata"),
                F.struct(
                    sev.alias("SeverityName"),
                    F.concat(
                        F.lit("user-"), F.col("user_id").cast("string")
                    ).alias("UserName"),
                    F.concat(
                        F.lit("host-"), (F.col("user_id") % 20).cast("string")
                    ).alias("ComputerName"),
                ).alias("event"),
            )
        ).alias("json")
    )
    ecs = _through_pipeline(td, raw, needed=('crowdstrike.event.SeverityName', 'ts', 'user.name'))
    return ecs.groupBy(
        F.col("crowdstrike.event.SeverityName").alias("severity_name")
    ).agg(
        F.count(F.lit(1)).alias("n_detections"),
        F.countDistinct(F.col("user.name")).alias("n_users"),
    )


@query(
    "matano_alerts_rule_rollup",
    oracle="""
    SELECT concat('rule-', CAST(user_id % 5 AS VARCHAR)) AS rule_name,
           CASE WHEN event_type = 'error' THEN 'high'
                ELSE 'info' END AS severity,
           COUNT(*) AS n_alerts
    FROM events
    GROUP BY 1, 2
    """,
)
def matano_alerts_rule_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alert-feed rollup through the ported matano_alerts loopback
    pack: events → alert-sink JSON rows → from_json over the FULL
    resolved alert schema (parse_with_schema) → per-rule severity
    counts — the query a SOC dashboard runs over the alert table."""
    td = _table_def("matano_alerts", "default")
    ev = t(spark, sf_dir, "events")
    sev = F.when(F.col("event_type") == "error", "high").otherwise("info")
    raw = ev.select(
        F.to_json(
            F.struct(
                F.col("ts").alias("ts"),
                F.struct(
                    F.struct(
                        F.col("event_id").cast("string").alias("id"),
                        sev.alias("severity"),
                        F.struct(
                            F.concat(
                                F.lit("rule-"),
                                (F.col("user_id") % 5).cast("string"),
                            ).alias("name"),
                            sev.alias("severity"),
                        ).alias("rule"),
                    ).alias("alert")
                ).alias("matano"),
            )
        ).alias("value")
    )
    from matano_spark.sources import readers  # noqa: F401

    parsed = raw.select(
        F.from_json("value", td.schema).alias("r")
    ).select("r.*")
    ecs = td.pipeline(parsed)
    return ecs.groupBy(
        F.col("matano.alert.rule.name").alias("rule_name"),
        F.col("matano.alert.severity").alias("severity"),
    ).agg(F.count(F.lit(1)).alias("n_alerts"))


@query(
    "s3inventory_storage_rollup",
    oracle="""
    SELECT CASE WHEN user_id % 2 = 0 THEN 'STANDARD'
                ELSE 'GLACIER' END AS storage_class,
           COUNT(*) AS n_objects,
           CAST(SUM(CAST(floor(value) AS BIGINT)) AS BIGINT) AS total_bytes
    FROM events
    GROUP BY 1
    """,
)
def s3inventory_storage_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-class rollup through the ported aws_s3inventory pack
    (CSV ingest — configured headers, no JSON hop): events → full
    18-column inventory rows → compiled transform (bool/size casts,
    object-lock nesting) → bytes by storage class."""
    td = _table_def("aws_s3inventory", "default")
    ev = t(spark, sf_dir, "events")
    sc = F.when(F.col("user_id") % 2 == 0, "STANDARD").otherwise("GLACIER")
    n = F.lit(None).cast("string")
    raw = ev.select(
        F.lit("mybucket").alias("bucket"),
        F.concat(F.lit("k/"), F.col("event_id").cast("string")).alias("key"),
        F.lit("v1").alias("version_id"),
        F.lit("true").alias("is_latest"),
        F.lit("false").alias("is_delete_marker"),
        F.floor("value").cast("bigint").cast("string").alias("size"),
        F.col("ts").cast("string").alias("last_modified"),
        F.md5(F.col("event_id").cast("string")).alias("e_tag"),
        sc.alias("storage_class"),
        F.lit("false").alias("is_multipart_uploaded"),
        n.alias("replication_status"),
        n.alias("encryption_status"),
        n.alias("object_lock_retain_until"),
        n.alias("object_lock_mode"),
        n.alias("object_lock_legal_hold"),
        n.alias("intelligent_tiering_tier"),
        n.alias("bucket_key_status"),
        n.alias("checksum_algorithm"),
    )
    ecs = td.pipeline(raw)
    return ecs.groupBy(
        F.col("aws.s3inventory.storage_class").alias("storage_class")
    ).agg(
        F.count(F.lit(1)).alias("n_objects"),
        F.sum("file.size").cast("bigint").alias("total_bytes"),
    )


@query(
    "threatfox_ioc_merge_lookup",
    oracle="""
    WITH conf AS (
      SELECT p_partkey AS k,
             CASE WHEN p_partkey <= 100 THEN 'High' ELSE 'Low' END
               AS confidence
      FROM part WHERE p_partkey BETWEEN 1 AND 150
    ),
    ev AS (SELECT user_id % 250 AS o FROM events)
    SELECT confidence,
           COUNT(*) AS n_hits,
           COUNT(DISTINCT o) AS n_ips
    FROM ev JOIN conf ON conf.k = ev.o
    GROUP BY 1
    """,
)
def threatfox_ioc_merge_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 MERGE mode through a REAL enrichment pack: two ThreatFox
    feed deliveries sync into the abusech_threatfox store (write_mode:
    merge on event.id) — the second raises confidence for half the
    indicators, and latest-wins must show through the subsequent
    broadcast lookup. Exercises ip:port ioc splitting, the confidence
    tiering, AND the upsert write path inside the oracle gate.
    """
    from matano_spark.operators.enrichment import (
        EnrichmentStore,
        enrich,
        sync_enrichment,
    )

    part = t(spark, sf_dir, "part").filter(
        F.col("p_partkey").between(1, 150)
    )

    def feed(conf_col):
        return part.select(
            F.to_json(
                F.struct(
                    F.concat(
                        F.lit("tf-"), F.col("p_partkey").cast("string")
                    ).alias("id"),
                    F.concat(
                        F.lit("203.0.113."),
                        F.col("p_partkey").cast("string"),
                        F.lit(":443"),
                    ).alias("ioc"),
                    F.lit("ip:port").alias("ioc_type"),
                    conf_col.cast("int").alias("confidence_level"),
                    F.lit("rep").alias("reporter"),
                )
            ).alias("json")
        )

    pack = os.path.join(_PACK_ROOT, "..", "enrichment", "abusech_threatfox")
    store = EnrichmentStore(spark, _oracle_scratch("tf_oracle_"))
    sync_enrichment(store, pack, feed(F.lit(20)))  # initial: all Low
    # second delivery: first 100 indicators re-reported at High
    updated = sync_enrichment(
        store,
        pack,
        feed(
            F.when(F.col("p_partkey") <= 100, F.lit(80)).otherwise(F.lit(20))
        ),
    )
    flat = updated.selectExpr(
        "threat.indicator.ip AS ip",
        "threat.indicator.confidence AS confidence",
    )
    events = t(spark, sf_dir, "events").select(
        F.concat(
            F.lit("203.0.113."), (F.col("user_id") % 250).cast("string")
        ).alias("ip")
    )
    hits = enrich(events, flat, on={"ip": "ip"}, select=["confidence"], target="tf")
    return (
        hits.filter(F.col("tf").isNotNull())
        .groupBy(F.col("tf.confidence").alias("confidence"))
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.countDistinct("ip").alias("n_ips"),
        )
    )


@query(
    "otx_append_indicator_lookup",
    oracle="""
    WITH iocs AS (
      SELECT DISTINCT n_nationkey AS k FROM nation          -- pulse 1
      UNION ALL
      SELECT DISTINCT n_nationkey + 100 FROM nation         -- pulse 2
    ),
    ev AS (SELECT user_id % 250 AS o FROM events)
    SELECT COUNT(*) AS n_hits, COUNT(DISTINCT o) AS n_ips
    FROM ev JOIN iocs ON iocs.k = ev.o
    """,
)
def otx_append_indicator_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND write mode through the otx enrichment pack: two pulse
    deliveries accumulate (append — unlike cisa_kev's overwrite or
    threatfox's merge), and indicators from BOTH must hit from the
    lookup side. All three reference write modes now sit inside the
    gate."""
    from matano_spark.operators.enrichment import (
        EnrichmentStore,
        enrich,
        sync_enrichment,
    )

    nation = t(spark, sf_dir, "nation")

    def pulse(offset: int):
        return nation.select(
            F.to_json(
                F.struct(
                    (F.col("n_nationkey") + offset).cast("long").alias("id"),
                    F.concat(
                        F.lit("203.0.113."),
                        (F.col("n_nationkey") + offset).cast("string"),
                    ).alias("indicator"),
                    F.lit("IPv4").alias("type"),
                    F.lit("c2").alias("description"),
                    F.lit("white").alias("tlp"),
                )
            ).alias("json")
        )

    pack = os.path.join(_PACK_ROOT, "..", "enrichment", "otx")
    store = EnrichmentStore(spark, _oracle_scratch("otx_oracle_"))
    sync_enrichment(store, pack, pulse(0))
    landed = sync_enrichment(store, pack, pulse(100))
    flat = landed.selectExpr("threat.indicator.ip AS ip").distinct()
    events = t(spark, sf_dir, "events").select(
        F.concat(
            F.lit("203.0.113."), (F.col("user_id") % 250).cast("string")
        ).alias("ip")
    )
    hits = enrich(events, flat.withColumn("seen", F.lit(1)), on={"ip": "ip"},
                  select=["seen"], target="otx")
    return hits.filter(F.col("otx").isNotNull()).agg(
        F.count(F.lit(1)).alias("n_hits"),
        F.countDistinct("ip").alias("n_ips"),
    )


@query(
    "m1_compaction_conservation",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
           (CAST(SUM(CAST(ROUND(l_extendedprice * 1000000.0, 0) AS BIGINT))
                 AS DOUBLE) / 1000000.0) AS sum_price,
           TRUE AS files_reduced
    FROM lineitem WHERE l_partkey <= 400
    GROUP BY 1
    """,
)
def m1_compaction_conservation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1 bin-pack compaction inside the oracle gate: land a lineitem
    slice as 24 small files, compact_parquet_dir rewrites them to
    ~target-size files, and the post-compaction table must (a) have
    fewer files and (b) conserve every row and value exactly — the
    invariant the reference's hourly rewrite_data_files procedure
    relies on (iceberg-maintenance.ts:62-74).
    """
    from matano_spark.operators.maintenance import compact_parquet_dir
    from matano_spark.workloads.util import dsum

    li = t(spark, sf_dir, "lineitem").filter(F.col("l_partkey") <= 400)
    d = _oracle_scratch("m1_oracle_")
    li.repartition(24).write.mode("overwrite").parquet(d)
    before, after = compact_parquet_dir(spark, d, target_file_bytes=1 << 30)
    return (
        spark.read.parquet(d)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("l_orderkey").alias("n_orders"),
            dsum("l_extendedprice").alias("sum_price"),
        )
        .withColumn("files_reduced", F.lit(after < before))
    )


@query(
    "m4_flattened_view_rollup",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           (CAST(SUM(CAST(ROUND(value * 1000000.0, 0) AS BIGINT))
                 AS DOUBLE) / 1000000.0) AS sum_value
    FROM events WHERE value > 1
    GROUP BY 1
    """,
)
def m4_flattened_view_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 flattened SQL views inside the oracle gate: nest events into
    an ECS-ish struct, register the auto-generated `<t>_view` (every
    leaf as a_b_c — ref MatanoIcebergTableCustomResource.kt:266-318),
    and aggregate THROUGH the view. The flattened projection must
    equal the plain-column projection DuckDB computes directly.
    """
    from matano_spark.operators.maintenance import register_flattened_view
    from matano_spark.workloads.util import dsum

    ev = t(spark, sf_dir, "events")
    nested = ev.select(
        F.struct(
            F.col("event_type").alias("type"),
            F.struct(F.col("user_id").alias("id")).alias("user"),
        ).alias("event"),
        F.col("value"),
    )
    nested.createOrReplaceTempView("m4_nested")
    register_flattened_view(spark, "m4_nested", "m4_nested_view")
    v = spark.table("m4_nested_view")  # columns: event_type, event_user_id, value
    return (
        v.filter(F.col("value") > 1)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_user_id").alias("n_users"),
            dsum("value").alias("sum_value"),
        )
    )

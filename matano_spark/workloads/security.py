"""Security-lake workload — the reference's own operator surface
re-expressed on the `events` stream table (`events` plays the role of an
ECS-normalized log-source table; `customer`/`nation`/`region` play the
enrichment dimensions).

Operator coverage (SURVEY.md §2 IDs in each query docstring):
  W1 hourly tumbling rollup, A1/A3 rule-match aggregation + threshold,
  A4 context aggregation, A8 exact dedup, J1 enrichment broadcast
  lookup, S8 per-record table routing, P1-P8 row transforms,
  sessionization (W2 gap-based batch analog).

The exact fixed-anchor alert dedup-window state machine (W2/W3 with
`first_matched_at` anchoring) is in matano_spark.operators.alerts and
covered by its own query + tests (not plain-SQL-expressible).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from matano_spark.operators.hashing import P, sql_poly_hash
from matano_spark.workloads import query
from matano_spark.workloads.util import dsum, literal_rows, sql_dsum, t

ALERT_THRESHOLD = 5


@query(
    "w1_hourly_rollup",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS ts_hour, event_type,
           COUNT(*) AS n_events,
           {sql_dsum('value')} AS total_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
)
def w1_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: hourly tumbling partition window — every event assigned to
    its ts_hour (ref: transformer/src/main.rs:961-965 partition key;
    IcebergMetadataWriter.kt:60-65 hour partitioning). In the lake this
    is the hidden `hours(ts)` partition; as a query it is a date_trunc
    groupBy with map-side partial aggregation."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("ts_hour"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
    )


@query(
    "a1_rule_match_aggregation",
    oracle=f"""
    SELECT user_id AS dedupe,
           COUNT(*) AS match_count,
           min(ts) AS first_matched_at,
           max(ts) AS last_matched_at,
           string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY event_id) AS match_ids,
           COUNT(*) >= {ALERT_THRESHOLD} AS activated
    FROM events
    WHERE event_type = 'error'
    GROUP BY user_id
    """,
)
def a1_rule_match_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+A3: group rule matches by dedupe key, collect match-id list,
    activate when count >= threshold (ref: lake_writer/src/
    matano_alerts.rs:92-136 grouping, :199-237 threshold activation).
    The match-id list is emitted sorted+joined so the result is
    order-insensitive."""
    ev = t(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    return (
        ev.groupBy(F.col("user_id").alias("dedupe"))
        .agg(
            F.count(F.lit(1)).alias("match_count"),
            F.min("ts").alias("first_matched_at"),
            F.max("ts").alias("last_matched_at"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("event_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("match_ids"),
            (F.count(F.lit(1)) >= ALERT_THRESHOLD).alias("activated"),
        )
    )


@query(
    "a4_context_aggregation",
    oracle="""
    SELECT user_id AS alert_key,
           COUNT(*) AS match_count,
           string_agg(DISTINCT k, ',' ORDER BY k) AS ctx_k_values
    FROM (
      SELECT user_id,
             lpad(regexp_extract(props, '"k": (\\d+)', 1), 3, '0') AS k
      FROM events WHERE event_type = 'error'
    )
    GROUP BY user_id
    """,
)
def a4_context_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: alert-context aggregation — flatten rule-match payloads to
    key/value, merge distinct values per key into a context object
    (ref: alert_writer/src/main.rs:345-400 VRL merge program). Values
    zero-padded so lexicographic agg order is numeric-stable."""
    ev = t(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    k = F.lpad(F.regexp_extract(F.col("props"), '"k": (\\d+)', 1), 3, "0")
    return (
        ev.select(F.col("user_id").alias("alert_key"), k.alias("k"))
        .groupBy("alert_key")
        .agg(
            F.count(F.lit(1)).alias("match_count"),
            F.array_join(F.array_sort(F.collect_set("k")), ",").alias("ctx_k_values"),
        )
    )


@query(
    "a5_context_diff",
    oracle="""
    WITH m AS (
      SELECT user_id AS alert_key, event_id,
             lpad(regexp_extract(props, '"k": (\\d+)', 1), 3, '0') AS ctx_k,
             CAST(CAST(FLOOR(value/100) AS BIGINT) AS VARCHAR) AS ctx_vtier
      FROM events WHERE event_type = 'error'
    ),
    kv AS (
      SELECT alert_key, 'ctx_k' AS field, ctx_k AS val, event_id FROM m
      UNION ALL
      SELECT alert_key, 'ctx_vtier', ctx_vtier, event_id FROM m
    ),
    new_agg AS (
      SELECT alert_key, field,
             string_agg(DISTINCT val, ',' ORDER BY val) AS vals
      FROM kv GROUP BY 1, 2
    ),
    old_agg AS (
      SELECT alert_key, field,
             string_agg(DISTINCT val, ',' ORDER BY val) AS vals
      FROM kv WHERE event_id % 3 != 0 GROUP BY 1, 2
    )
    SELECT n.alert_key, n.field, n.vals AS new_vals
    FROM new_agg n LEFT JOIN old_agg o
      ON n.alert_key = o.alert_key AND n.field = o.field
    WHERE o.vals IS NULL OR o.vals != n.vals
    """,
)
def a5_context_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 context CDC (ref: alert_writer/src/main.rs:400+): diff two
    context-aggregation generations — the 'old' generation aggregates
    a deterministic subset of the matches (event_id % 3 != 0), the
    'new' one aggregates all of them; the diff emits, per alert, each
    context field whose value set changed or appeared, flattened to
    (alert_key, field, new_vals) for engine-portable comparison."""
    from matano_spark.operators.alerts import aggregate_context, context_diff

    ev = t(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    matches = ev.select(
        F.col("user_id").alias("alert_key"),
        F.col("event_id"),
        F.lpad(F.regexp_extract(F.col("props"), '"k": (\\d+)', 1), 3, "0").alias(
            "ctx_k"
        ),
        F.floor(F.col("value") / 100).cast("bigint").cast("string").alias(
            "ctx_vtier"
        ),
    )
    ctx_cols = ["ctx_k", "ctx_vtier"]
    old_agg = aggregate_context(
        matches.filter(F.col("event_id") % 3 != 0), ["alert_key"], ctx_cols
    )
    new_agg = aggregate_context(matches, ["alert_key"], ctx_cols)
    diff = context_diff(old_agg, new_agg, ["alert_key"])
    return diff.select(
        "alert_key", F.explode("changed").alias("field", "vals")
    ).select(
        "alert_key",
        "field",
        F.array_join(F.col("vals"), ",").alias("new_vals"),
    )


@query(
    "a8_exact_dedup_first",
    oracle="""
    SELECT user_id, event_type, event_id, ts
    FROM (
      SELECT user_id, event_type, event_id, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def a8_exact_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8/S16: exact dedup keeping the earliest row per key (ref:
    IcebergMetadataWriter.kt:271-294 sequencer conditional insert).
    Expressed as row_number-over-key rather than dropDuplicates so the
    kept row is deterministic."""
    ev = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts")
    )


@query(
    "j1_enrichment_lookup",
    oracle=f"""
    SELECT n_name, r_name,
           COUNT(*) AS n_purchases,
           {sql_dsum('value')} AS total_value
    FROM events
    JOIN customer ON user_id = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE event_type = 'purchase'
    GROUP BY n_name, r_name
    """,
)
def j1_enrichment_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/J2: enrichment point lookup as a broadcast hash join (ref:
    shared/src/functions.rs:108-255 get_enrichment_table_record;
    avro_index.rs hash-index lookup). The reference's mmapped Avro
    index is exactly a broadcast hash table in Spark; the `select`
    projection arg becomes column pruning on the broadcast side."""
    ev = t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    cust = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region")
    return (
        ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            dsum("value").alias("total_value"),
        )
    )


@query(
    "s8_table_routing",
    oracle="""
    SELECT CASE WHEN event_type IN ('click', 'view') THEN 'web'
                WHEN event_type IN ('purchase', 'signup') THEN 'commerce'
                ELSE 'ops' END AS route_table,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           COUNT(*) AS n_rows
    FROM events
    GROUP BY 1, 2
    """,
)
def s8_table_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8: per-record table routing by an expression over the record
    (ref: transformer/src/main.rs:864-917 select_table_from_payload).
    In the ingest pipeline this drives a partitioned write / one
    filtered stream per table; here surfaced as the routing projection
    + per-table row accounting (rows_in = sum(rows_out), S17/S18
    conservation check)."""
    ev = t(spark, sf_dir, "events")
    route = (
        F.when(F.col("event_type").isin("click", "view"), "web")
        .when(F.col("event_type").isin("purchase", "signup"), "commerce")
        .otherwise("ops")
    )
    return (
        ev.groupBy(
            route.alias("route_table"),
            F.date_trunc("day", F.col("ts")).alias("day"),
        ).agg(F.count(F.lit(1)).alias("n_rows"))
    )


@query(
    "p_transform_normalize",
    oracle="""
    SELECT event_id,
           ts,
           'demo' AS module,
           CASE event_type WHEN 'error' THEN 'failure' ELSE 'success' END AS event_outcome,
           lower(event_type) AS event_action,
           CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INT) AS props_k,
           CASE WHEN value >= 15.0 THEN 'high' WHEN value >= 5.0 THEN 'medium'
                ELSE 'low' END AS severity,
           concat('user-', CAST(user_id AS VARCHAR)) AS user_name,
           CAST(floor(value) AS BIGINT) AS value_int,
           '8.5.0' AS ecs_version
    FROM events
    WHERE NOT (event_type = 'view' AND value < 1.0)
    """,
)
def p_transform_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1-P8: the VRL row-transform surface as a static projection —
    field assignment/rename (P1), row filter/abort (P3), conditional
    logic (P4), JSON field extraction + fallible cast (P5/P7), constant
    stamping like `.ecs.version = "8.5.0"` (footer, ref:
    transformer/src/main.rs:276-282). This is the hand-written form of
    what matano_spark.transform compiles from transform programs."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.filter(~((F.col("event_type") == "view") & (F.col("value") < 1.0)))
        .select(
            "event_id",
            "ts",
            F.lit("demo").alias("module"),
            F.when(F.col("event_type") == "error", "failure")
            .otherwise("success")
            .alias("event_outcome"),
            F.lower("event_type").alias("event_action"),
            F.regexp_extract(F.col("props"), '"k": (\\d+)', 1)
            .cast("int")
            .alias("props_k"),
            F.when(F.col("value") >= 15.0, "high")
            .when(F.col("value") >= 5.0, "medium")
            .otherwise("low")
            .alias("severity"),
            F.concat(F.lit("user-"), F.col("user_id").cast("string")).alias(
                "user_name"
            ),
            F.floor("value").cast("bigint").alias("value_int"),
            F.lit("8.5.0").alias("ecs_version"),
        )
    )


@query(
    "w2_gap_sessions",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE OR
                  LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ), sessions AS (
      SELECT user_id, ts, event_id,
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id, COUNT(*) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end
    FROM sessions GROUP BY user_id, session_id
    """,
)
def w2_gap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 (batch analog): sessionization via lag + cumulative sum —
    a new session opens after a 30-minute silence. The streaming
    equivalent is session_window(ts, gap); the reference's alert window
    is the fixed-anchor variant implemented in operators.alerts."""
    ev = t(spark, sf_dir, "events")
    order = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(order)
    flagged = ev.withColumn(
        "is_new",
        F.when(gap.isNull() | (gap > 1800), F.lit(1)).otherwise(F.lit(0)),
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("is_new").over(order.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@query(
    "vrl_transform_normalize",
    oracle="""
    SELECT event_id,
           ts,
           'demo' AS module,
           CASE event_type WHEN 'error' THEN 'failure' ELSE 'success' END AS event_outcome,
           lower(event_type) AS event_action,
           CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) AS props_k,
           CASE WHEN value >= 15.0 THEN 'high' WHEN value >= 5.0 THEN 'medium'
                ELSE 'low' END AS severity,
           concat('user-', CAST(user_id AS VARCHAR)) AS user_name,
           CAST(floor(value) AS BIGINT) AS value_int,
           '8.5.0' AS ecs_version
    FROM events
    WHERE NOT (event_type = 'view' AND value < 1.0)
    """,
)
def vrl_transform_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same normalization as p_transform_normalize, but produced by
    the transform-DSL *compiler* (matano_spark.transform) instead of
    hand-written expressions — proving the compiled pipeline (P1-P8
    steps + §2.3 scalar functions) is oracle-exact. The whole program
    compiles to one Catalyst projection + one filter."""
    from matano_spark.transform import (
        AbortIf,
        Assign,
        Delete,
        Fn,
        L,
        P,
        When,
        compile_pipeline,
    )

    ev = t(spark, sf_dir, "events")
    pipeline = compile_pipeline(
        [
            AbortIf((P("event_type") == L("view")) & (P("value") < L(1.0))),
            Assign("module", L("demo")),
            When(
                P("event_type") == L("error"),
                [Assign("event_outcome", L("failure"))],
                [Assign("event_outcome", L("success"))],
            ),
            Assign("event_action", Fn("downcase", P("event_type"))),
            Assign("pk", Fn("parse_regex", P("props"), pattern='"k": (?P<k>\\d+)')),
            Assign("props_k", Fn("to_int", P("pk.k"))),
            Delete("pk"),
            When(
                P("value") >= L(15.0),
                [Assign("severity", L("high"))],
                [
                    When(
                        P("value") >= L(5.0),
                        [Assign("severity", L("medium"))],
                        [Assign("severity", L("low"))],
                    )
                ],
            ),
            # DSL paths, not raw F.col(...): the chunked compile may
            # place these steps past a projection boundary where the
            # original column names are mangled — P() rebinds, a raw
            # Column cannot
            Assign("user_name", L("user-") + Fn("to_string", P("user_id"))),
            Assign("value_int", Fn("to_int", Fn("floor", P("value")))),
            Assign("ecs_version", L("8.5.0")),
            Delete("user_id"),
            Delete("event_type"),
            Delete("value"),
            Delete("props"),
        ]
    )
    return pipeline(ev)


@query(
    "detections_rule_matches",
    oracle="""
    SELECT 'error_burst' AS rule_name,
           md5('error_burst:' || CAST(event_id AS VARCHAR)) AS match_id,
           CAST(user_id AS VARCHAR) AS dedupe,
           'Error burst by user ' || CAST(user_id AS VARCHAR) AS title,
           'high' AS severity,
           ts
    FROM events
    WHERE event_type = 'error' AND value > 5.0
    """,
)
def detections_rule_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 detections-as-code: a matano-style Python detect() module
    runs unmodified through the Arrow-batched mapInPandas harness
    (matano_spark.detections); the oracle is the equivalent relational
    predicate — proving the Python path produces exactly the rows the
    declarative path would. Match ids are deterministic digests."""
    from matano_spark.detections import Detection, run_detections

    det = Detection(
        name="error_burst",
        detect=lambda r: r.deepget("event_type") == "error"
        and r.deepget("value", 0.0) > 5.0,
        dedupe=lambda r: r.deepget("user_id"),
        title=lambda r: f"Error burst by user {r.deepget('user_id')}",
        severity="high",
        threshold=ALERT_THRESHOLD,
    )
    ev = t(spark, sf_dir, "events")
    out = run_detections(ev, [det], ts_col="ts", key_col="event_id")
    return out.select("rule_name", "match_id", "dedupe", "title", "severity", "ts")


@query(
    "alert_state_machine",
    oracle="""
    WITH RECURSIVE m AS (
      SELECT CAST(user_id AS VARCHAR) AS dedupe, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events WHERE event_type = 'error'
    ),
    r AS (
      SELECT dedupe, ts, rn, ts AS anchor FROM m WHERE rn = 1
      UNION ALL
      SELECT m.dedupe, m.ts, m.rn,
             CASE WHEN m.ts >= r.anchor + INTERVAL 3600 SECONDS
                  THEN m.ts ELSE r.anchor END AS anchor
      FROM m JOIN r ON m.dedupe = r.dedupe AND m.rn = r.rn + 1
    ),
    numbered AS (
      SELECT dedupe, anchor, ts,
             ROW_NUMBER() OVER (PARTITION BY dedupe, anchor ORDER BY ts, rn)
               AS rn_in_alert
      FROM r
    )
    SELECT 'error_burst' AS rule_name, dedupe,
           md5('error_burst:' || dedupe || ':' ||
               CAST(epoch_us(anchor) AS VARCHAR)) AS alert_id,
           anchor AS first_matched_at,
           max(ts) AS last_matched_at,
           COUNT(*) AS match_count,
           COUNT(*) >= 5 AS activated,
           max(CASE WHEN rn_in_alert = 5 THEN ts END) AS created_at
    FROM numbered GROUP BY dedupe, anchor
    """,
)
def alert_state_machine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2/W3 fixed-anchor alert aggregation (ref: matano_alerts.rs:
    92-307): matches within 3600s of an alert's FIRST match join it;
    the next match after expiry opens a new alert; activation at the
    5th match stamps created_at. Spark side is the per-key sequential
    fold of operators.alerts (one mapInPandas pass over key-sorted
    partitions, the recurrence streaming shares); the oracle replays the
    identical recurrence with a recursive CTE — a full value-level
    check of the state machine, not just row counts."""
    from matano_spark.operators.alerts import aggregate_alerts

    ev = t(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    matches = ev.select(
        F.lit("error_burst").alias("rule_name"),
        F.col("user_id").cast("string").alias("dedupe"),
        F.col("ts"),
        F.col("event_id").cast("string").alias("match_id"),
    )
    return aggregate_alerts(
        matches, threshold=ALERT_THRESHOLD, window_seconds=3600
    )


@query(
    "w3_threshold_windows",
    oracle="""
    SELECT user_id,
           CAST(to_timestamp(CAST(floor(epoch(ts) / 900) AS BIGINT) * 900)
                AS TIMESTAMP) AS window_start,
           COUNT(*) AS n_errors
    FROM events
    WHERE event_type = 'error'
    GROUP BY 1, 2
    HAVING COUNT(*) >= 2
    """,
)
def w3_threshold_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 (stateless form): threshold-in-tumbling-window alerting —
    the brute-force-detection shape (N failures / 15 min) as a pure
    windowed aggregate; the stateful fixed-anchor form lives in
    alert_state_machine. window() is expressed via epoch floor so the
    oracle is exact."""
    ev = t(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    win = F.timestamp_seconds(
        (F.floor(F.unix_timestamp(F.col("ts")) / 900)).cast("bigint") * 900
    )
    return (
        ev.groupBy(F.col("user_id"), win.alias("window_start"))
        .agg(F.count(F.lit(1)).alias("n_errors"))
        .filter(F.col("n_errors") >= 2)
    )


_VRL_NORMALIZE_SRC = r"""
if .event_type == "view" && .value < 1.0 { abort }
.module = "demo"
if .event_type == "error" { .event_outcome = "failure" }
else { .event_outcome = "success" }
.event_action = downcase(.event_type)
.pk = parse_regex(.props, pattern: '"k": (?P<k>\d+)')
.props_k = to_int(.pk.k)
del(.pk)
if .value >= 15.0 { .severity = "high" }
else if .value >= 5.0 { .severity = "medium" }
else { .severity = "low" }
.user_name = "user-" + to_string(.user_id)
.value_int = to_int(floor(.value))
.ecs_version = "8.5.0"
del(.user_id); del(.event_type); del(.value); del(.props)
"""


@query(
    "vrl_text_normalize",
    oracle="""
    SELECT event_id,
           ts,
           'demo' AS module,
           CASE event_type WHEN 'error' THEN 'failure' ELSE 'success' END AS event_outcome,
           lower(event_type) AS event_action,
           CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) AS props_k,
           CASE WHEN value >= 15.0 THEN 'high' WHEN value >= 5.0 THEN 'medium'
                ELSE 'low' END AS severity,
           concat('user-', CAST(user_id AS VARCHAR)) AS user_name,
           CAST(floor(value) AS BIGINT) AS value_int,
           '8.5.0' AS ecs_version
    FROM events
    WHERE NOT (event_type = 'view' AND value < 1.0)
    """,
)
def vrl_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same normalization a third time — now from VRL-style program
    TEXT through the parser (transform.parser) and compiler, proving a
    matano log_source.yml transform string runs verbatim and stays
    oracle-exact. Text → AST → one Catalyst projection."""
    from matano_spark.transform.parser import compile_vrl

    ev = t(spark, sf_dir, "events")
    return compile_vrl(_VRL_NORMALIZE_SRC)(ev)


_VRL_FOLD_SRC = """
toks = split(.text, " ")
n_long = 0
total_len = 0
for_each(toks) -> |_i, tk| {
  if length(tk) > 3 {
    n_long = n_long + 1
  }
  total_len = total_len + length(tk)
}
.n_long = n_long
.total_len = total_len
"""


@query(
    "vrl_fold_rollup",
    oracle="""
    SELECT doc_id % 10 AS bucket,
           CAST(SUM(len(list_filter(string_split(text, ' '),
                                    x -> strlen(x) > 3))) AS BIGINT) AS n_long,
           CAST(SUM(list_aggregate(list_transform(string_split(text, ' '),
                                                  x -> strlen(x)),
                    'sum')) AS BIGINT) AS total_len
    FROM documents
    GROUP BY 1
    """,
)
def vrl_fold_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verbatim `for_each` loop machinery under the oracle gate: a
    VRL closure mutating two outer counters compiles to ONE JVM-side
    F.aggregate fold per row (no UDF, no shuffle beyond the final
    rollup); the DuckDB restatement uses list lambdas. Gate-checks the
    r5 fold compiler on driver data."""
    from matano_spark.transform.parser import compile_vrl

    docs = t(spark, sf_dir, "documents")
    counted = compile_vrl(_VRL_FOLD_SRC)(docs)
    return counted.groupBy(
        (F.col("doc_id") % 10).alias("bucket")
    ).agg(
        F.sum("n_long").alias("n_long"),
        F.sum("total_len").alias("total_len"),
    )


@query(
    "sigma_longtail_modifiers",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE user_id % 7 = event_id % 7
      AND props IS NOT NULL
      AND value < 5.0
    """,
)
def sigma_longtail_modifiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 Sigma long-tail modifiers as one compiled rule: fieldref
    (compare two event fields), exists (presence), and lt (numeric
    compare) — the modifier set the public Sigma spec defines beyond
    the string matchers. Everything compiles to one boolean Column
    (whole-stage codegen); oracle is the equivalent SQL predicate."""
    from matano_spark.detections.sigma import sigma_filter

    rule = {
        "title": "correlated ids with low value",
        "detection": {
            "linked": {"uid_mod|fieldref": "eid_mod"},
            "shaped": {"props|exists": True, "value|lt": 5.0},
            "condition": "linked and shaped",
        },
    }
    ev = t(spark, sf_dir, "events").withColumns(
        {
            "uid_mod": F.col("user_id") % 7,
            "eid_mod": F.col("event_id") % 7,
        }
    )
    return sigma_filter(ev, rule).select(
        "event_id", "user_id", "event_type", "value"
    )


@query(
    "sigma_rule_filter",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value
    FROM events
    WHERE (event_type = 'error' AND value >= 10.0)
       OR (event_type = 'signup' AND props LIKE '%"k": 9%')
    """,
)
def sigma_rule_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 Sigma support: a Sigma rule dict compiles to a boolean
    Column expression (detections.sigma) — detection evaluation stays
    in whole-stage codegen. Oracle is the equivalent SQL predicate."""
    from matano_spark.detections.sigma import sigma_filter

    rule = {
        "title": "noisy errors or suspicious signups",
        "detection": {
            "errors": {"event_type": "error", "value|gte": 10.0},
            "signups": {"event_type": "signup", "props|contains": '"k": 9'},
            "condition": "errors or signups",
        },
    }
    ev = t(spark, sf_dir, "events")
    return sigma_filter(ev, rule).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


@query(
    "variant_json_extract",
    oracle="""
    SELECT CAST(json_extract(props, '$.k') AS INTEGER) % 10 AS k_bucket,
           COUNT(*) AS n,
           min(CAST(json_extract(props, '$.k') AS INTEGER)) AS min_k,
           max(CAST(json_extract(props, '$.k') AS INTEGER)) AS max_k
    FROM events
    GROUP BY 1
    """,
)
def variant_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured path (SURVEY §2.3 parse_json → VariantType on
    Spark 4): props parses once to a variant, fields extract with
    variant_get — the engine's answer to VRL's schemaless objects when
    a declared schema is not available. Aggregation over the extracted
    field proves end-to-end typing."""
    ev = t(spark, sf_dir, "events")
    k = F.try_variant_get(F.try_parse_json("props"), "$.k", "int")
    return (
        ev.select(k.alias("k"))
        .groupBy((F.col("k") % 10).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


@query(
    "funnel_signup_purchase",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup' THEN ts END) AS first_signup,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
      FROM events GROUP BY user_id
    )
    SELECT COUNT(*) AS n_users,
           COUNT(first_signup) AS n_signed_up,
           COUNT(CASE WHEN first_purchase > first_signup THEN 1 END)
             AS n_converted,
           CAST(COUNT(CASE WHEN first_purchase > first_signup THEN 1 END) AS DOUBLE)
             / COUNT(first_signup) AS conversion_rate
    FROM per_user
    """,
)
def funnel_signup_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence/funnel analysis: users whose first purchase follows
    their first signup — conditional-min aggregation, one shuffle on
    user_id, no self-join (the scalable funnel shape; an N-step funnel
    extends with more conditional mins)."""
    ev = t(spark, sf_dir, "events")
    first_signup = F.min(F.when(F.col("event_type") == "signup", F.col("ts")))
    first_purchase = F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
    per_user = ev.groupBy("user_id").agg(
        first_signup.alias("first_signup"),
        first_purchase.alias("first_purchase"),
    )
    converted = F.count(
        F.when(F.col("first_purchase") > F.col("first_signup"), F.lit(1))
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("first_signup").alias("n_signed_up"),
        converted.alias("n_converted"),
        (converted.cast("double") / F.count("first_signup")).alias(
            "conversion_rate"
        ),
    )


@query(
    "events_weekly_retention",
    oracle="""
    WITH weekly AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch(ts) / 604800) AS BIGINT) AS week
      FROM events
    ),
    base AS (SELECT min(week) AS w0 FROM weekly)
    SELECT w.week - b.w0 AS week_offset,
           COUNT(DISTINCT w.user_id) AS active_users,
           COUNT(DISTINCT CASE WHEN w0u.user_id IS NOT NULL
                 THEN w.user_id END) AS retained_from_week0
    FROM weekly w
    CROSS JOIN base b
    LEFT JOIN (SELECT weekly.user_id FROM weekly, base
               WHERE week = w0) w0u
      ON w0u.user_id = w.user_id
    GROUP BY w.week - b.w0
    """,
)
def events_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: per week offset, active users and how many of
    them were already active in week 0 — distinct-user semi-state via
    a broadcast of the (small) week-0 cohort."""
    ev = t(spark, sf_dir, "events")
    weekly = (
        ev.select(
            "user_id",
            (F.floor(F.unix_timestamp("ts") / 604800)).cast("bigint").alias("week"),
        )
        .distinct()
    )
    w0 = weekly.agg(F.min("week").alias("w0"))
    cohort = (
        weekly.crossJoin(F.broadcast(w0))
        .filter(F.col("week") == F.col("w0"))
        .select(F.col("user_id").alias("c_user"))
        .distinct()
    )
    return (
        weekly.crossJoin(F.broadcast(w0))
        .join(F.broadcast(cohort), weekly.user_id == cohort.c_user, "left")
        .groupBy((F.col("week") - F.col("w0")).alias("week_offset"))
        .agg(
            F.countDistinct("user_id").alias("active_users"),
            F.countDistinct(
                F.when(F.col("c_user").isNotNull(), F.col("user_id"))
            ).alias("retained_from_week0"),
        )
    )


@query(
    "w4_hourly_spike_zscore",
    oracle="""
    WITH hourly AS (
      SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    winstats AS (
      SELECT event_type, hour, n,
             SUM(n) OVER w AS sum_w,
             SUM(n * n) OVER w AS ss_w,
             COUNT(n) OVER w AS cnt_w
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY hour
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, hour, n,
           CAST(sum_w AS DOUBLE) / cnt_w AS mean24,
           (n - CAST(sum_w AS DOUBLE) / cnt_w)
             / sqrt(CAST(ss_w AS DOUBLE) / cnt_w
                    - (CAST(sum_w AS DOUBLE) / cnt_w)
                      * (CAST(sum_w AS DOUBLE) / cnt_w) + 1e-9) AS zscore
    FROM winstats
    WHERE cnt_w = 24
    """,
)
def w4_hourly_spike_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-spike detection: each (event_type, hour)'s count scored
    against its trailing 24-hour mean/stddev — the hunting query behind
    'alert me when error volume jumps'. Counts are integers, so the
    windowed sums are exact and the mean/variance/z-score doubles are
    bit-identical across engines (same expression order; +1e-9 floors
    the all-constant-window variance).

    SCALE: one shuffle on event_type for the window; the trailing
    frame is rows-based over the pre-aggregated hourly series — the
    window input is ~10^4x smaller than raw events.
    """
    ev = t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = (
        W.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-24, -1)
    )
    sum_w = F.sum("n").over(w)
    ss_w = F.sum(F.col("n") * F.col("n")).over(w)
    cnt_w = F.count("n").over(w)
    mean24 = sum_w.cast("double") / cnt_w
    var24 = ss_w.cast("double") / cnt_w - mean24 * mean24
    return (
        hourly.select(
            "event_type",
            "hour",
            "n",
            cnt_w.alias("cnt_w"),
            mean24.alias("mean24"),
            ((F.col("n") - mean24) / F.sqrt(var24 + F.lit(1e-9))).alias("zscore"),
        )
        .filter(F.col("cnt_w") == 24)
        .drop("cnt_w")
    )


@query(
    "user_journey_bounds",
    oracle="""
    SELECT user_id,
           FIRST_VALUE(event_type) OVER w AS first_event,
           LAST_VALUE(event_type) OVER w AS last_event,
           NTH_VALUE(event_type, 2) OVER w AS second_event,
           COUNT(*) OVER w AS n_events
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) = 1
    """,
)
def user_journey_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user journey bounds via the value-window family:
    first_value / last_value / nth_value over the full per-user frame
    (entry event, exit event, second touch) — one row per user via a
    row_number qualify. One shuffle on user_id serves every window."""
    ev = t(spark, sf_dir, "events")
    order = W.partitionBy("user_id").orderBy("ts", "event_id")
    full = order.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return (
        ev.select(
            "user_id",
            F.first("event_type").over(full).alias("first_event"),
            F.last("event_type").over(full).alias("last_event"),
            F.nth_value("event_type", 2).over(full).alias("second_event"),
            F.count(F.lit(1)).over(full).alias("n_events"),
            F.row_number().over(order).alias("__rn"),
        )
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


@query(
    "events_burst_rate_24h",
    oracle="""
    WITH rates AS (
      SELECT user_id,
             COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                            RANGE BETWEEN 86400000000 PRECEDING
                                      AND CURRENT ROW) AS r
      FROM events
    )
    SELECT user_id, CAST(max(r) AS BIGINT) AS peak_rate_24h
    FROM rates GROUP BY user_id
    HAVING max(r) >= 5
    """,
)
def events_burst_rate_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst-rate detection over a VALUE-RANGE window frame: each
    event's trailing-24-hour activity count per user (RANGE over epoch
    micros, not ROWS — peers at identical timestamps share a frame, and
    gaps in the series don't shrink it), reduced to each user's peak
    rate. The physical shape behind rate-limit / brute-force hunting
    when events are irregularly spaced.

    SCALE: one shuffle on user_id serves both the range window and the
    peak aggregation (the groupBy reuses the window's partitioning —
    AQE sees the exchange is already satisfied). The frame is bounded
    by time, so per-row state in the window operator is O(events in 24
    hours per user), not O(partition).
    """
    ev = t(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-86_400_000_000, 0)
    )
    rates = ev.select("user_id", F.count(F.lit(1)).over(w).alias("r"))
    return (
        rates.groupBy("user_id")
        .agg(F.max("r").cast("bigint").alias("peak_rate_24h"))
        .filter(F.col("peak_rate_24h") >= 5)
    )


@query(
    "sketch_kmv_distinct",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT event_type,
             {sql_poly_hash("CAST(user_id AS VARCHAR)")} AS h
      FROM events
    ),
    ranked AS (
      SELECT event_type, h,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS nd
      FROM h
    )
    SELECT event_type,
           CAST(nd AS BIGINT) AS n_distinct,
           CAST(h AS BIGINT) AS hk,
           CASE WHEN nd >= 64
                THEN CAST(CAST(63 AS BIGINT) * {P} AS DOUBLE) / CAST(h AS DOUBLE)
                ELSE CAST(nd AS DOUBLE) END AS est_distinct
    FROM ranked
    WHERE rn = CASE WHEN nd >= 64 THEN 64 ELSE nd END
    """,
)
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch, k=64: per group,
    keep the k smallest distinct hash values; the k-th smallest h_k
    estimates distinct count as (k-1)·P/h_k. The exact distinct count
    rides along so the estimate's error is visible in the output.

    Why a sketch when COUNT(DISTINCT) exists: KMV states are MERGEABLE
    (union of two groups' k-mins, re-truncated to k, is the union's
    sketch), so at 100 TB the per-partition partial state is k values
    per group instead of the full distinct set — the same reason
    production engines ship HLL. This query pins the k-th-smallest
    selection + estimator math against the oracle; the merge identity
    is pinned by test_llmdata_curation's kmv merge test. Estimator
    division is a single float op on exact integers — engine-portable.
    """
    from matano_spark.operators.hashing import P as _P, poly_hash

    ev = t(spark, sf_dir, "events")
    h = ev.select(
        "event_type",
        poly_hash(F.col("user_id").cast("string")).alias("h"),
    ).distinct()
    wrank = W.partitionBy("event_type").orderBy("h")
    wall = W.partitionBy("event_type")
    ranked = h.select(
        "event_type",
        "h",
        F.row_number().over(wrank).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("nd"),
    )
    kth = ranked.filter(
        F.col("rn")
        == F.when(F.col("nd") >= 64, F.lit(64)).otherwise(F.col("nd"))
    )
    return kth.select(
        "event_type",
        F.col("nd").cast("bigint").alias("n_distinct"),
        F.col("h").cast("bigint").alias("hk"),
        F.when(
            F.col("nd") >= 64,
            F.lit(float(63 * _P)) / F.col("h").cast("double"),
        )
        .otherwise(F.col("nd").cast("double"))
        .alias("est_distinct"),
    )


@query(
    "lpm_geo_enrichment",
    oracle="""
    WITH ev AS (
      SELECT event_id, user_id, user_id % 40 AS oct2 FROM events
    )
    SELECT COALESCE(n.n_name, 'global') AS region,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users
    FROM ev LEFT JOIN nation n ON n.n_nationkey = ev.oct2
    GROUP BY 1
    """,
)
def lpm_geo_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest-prefix-match CIDR enrichment (GeoIP/ASN shape): event
    IPs against a prefix table holding 25 /16 networks (one per
    nation) plus a /8 catch-all — the /16 must win where both match
    (longest prefix), the /8 only where no /16 covers. Exercises
    operators.enrichment.lpm_join: per-prefix-length equi-joins over a
    broadcast dim, union, longest-wins reduction — never a theta join.
    """
    from matano_spark.operators.enrichment import lpm_join

    ev = t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.concat(
            F.lit("10."),
            (F.col("user_id") % 40).cast("string"),
            F.lit("."),
            (F.col("user_id") % 250).cast("string"),
            F.lit(".7"),
        ).alias("ip"),
    )
    nation = t(spark, sf_dir, "nation")
    dim16 = nation.select(
        F.concat(
            F.lit("10."), F.col("n_nationkey").cast("string"), F.lit(".0.0/16")
        ).alias("cidr"),
        F.col("n_name").alias("region"),
    )
    dim = dim16.unionByName(
        literal_rows(spark, [("10.0.0.0/8", "global")], ["cidr", "region"])
    )
    enriched = lpm_join(ev, dim, ip_col="ip")
    return enriched.groupBy("region").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


@query(
    "lpm_v6_enrichment",
    oracle="""
    WITH ev AS (
      SELECT event_id, user_id, user_id % 40 AS k FROM events
    )
    SELECT CASE WHEN ev.event_id % 2 = 1 THEN COALESCE(n.n_name, 'global6')
                ELSE COALESCE(n.n_name, 'global4') END AS region,
           COUNT(*) AS n_events,
           COUNT(DISTINCT ev.user_id) AS n_users
    FROM ev LEFT JOIN nation n ON n.n_nationkey = ev.k
    GROUP BY 1
    """,
)
def lpm_v6_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed v4/v6 longest-prefix-match enrichment: odd events carry
    IPv6 addresses (2001:db8:K::Y), even events dotted-quad v4
    (10.K.Y.7); the dim mixes per-nation /48 v6 and /16 v4 prefixes
    plus per-family catch-alls. Exercises lpm_join6's 128-bit word
    masking, v4-mapped scaling (/L → /96+L), and `::` expansion —
    the oracle derives regions from the same integers without any
    address parsing, so the Spark side's parse path is what's tested.
    """
    from matano_spark.operators.enrichment import lpm_join6

    k = (F.col("user_id") % 40).cast("long")
    y = (F.col("user_id") % 250).cast("long")
    ev = t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.when(
            F.col("event_id") % 2 == 1,
            F.format_string("2001:db8:%x::%x", k, y),
        )
        .otherwise(F.format_string("10.%d.%d.7", k, y))
        .alias("ip"),
    )
    nation = t(spark, sf_dir, "nation")
    dim = (
        nation.select(
            F.format_string("2001:db8:%x::/48", F.col("n_nationkey")).alias(
                "cidr"
            ),
            F.col("n_name").alias("region"),
        )
        .unionByName(
            nation.select(
                F.format_string("10.%d.0.0/16", F.col("n_nationkey")).alias(
                    "cidr"
                ),
                F.col("n_name").alias("region"),
            )
        )
        .unionByName(
            literal_rows(
                spark,
                [("2001:db8::/32", "global6"), ("10.0.0.0/8", "global4")],
                ["cidr", "region"],
            )
        )
    )
    enriched = lpm_join6(ev, dim, ip_col="ip")
    return enriched.groupBy("region").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )

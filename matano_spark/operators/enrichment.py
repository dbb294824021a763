"""Enrichment tables: small dimension tables joined into the hot path
(SURVEY.md §2.5 J1/J2/J4, §2.6 W5, §2.9 M5).

The reference materializes each enrichment table as an mmapped Avro
snapshot + JSON hash index and does per-row point lookups from VRL and
Python (shared/src/functions.rs:108-255, avro_index.rs:44-156). In
Spark that whole cycle is a **broadcast hash join**: the table is
small by construction, the executor-local hash relation IS the index,
and re-reading it per micro-batch IS the 3-minute sync (enrichment.ts:
96-109) — Structured Streaming re-plans the broadcast every batch.

Write modes (ref Enrichment.kt:336-366; MERGE SQL :305-324):
  overwrite — replace the table wholesale (snapshot-style feeds)
  append    — add rows
  merge     — upsert by primary key (MERGE INTO on Iceberg; on the
              parquet fallback: union + latest-wins window)
"""

from __future__ import annotations

import json
import os
from functools import lru_cache

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from matano_spark import hadoop_fs


class EnrichmentStore:
    """Directory-backed enrichment tables (parquet fallback; with an
    Iceberg catalog the same API maps to saveAsTable/MERGE INTO).

    Schema record: every write leaves `<table>/_schema.json`, the
    table's Spark schema as JSON, written through the Hadoop FS API
    after the data commit (Parquet readers skip files that start with
    `_`). An overwrite records the frame's schema, a merge the merged
    frame's schema, an append the union of the old record and the new
    frame's columns. `read()` passes the record to
    `spark.read.schema(...)`, so reading a table plans without the
    schema-inference job a bare `spark.read.parquet` runs. That job
    would otherwise be the first job of every query that joins the
    table, and a stream that re-reads the table per micro-batch would
    pay it every batch. A column added by a later append shows in every
    read, whichever file a footer sample would have picked."""

    SCHEMA_RECORD = "_schema.json"

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _recorded(self, name: str) -> T.StructType | None:
        text = hadoop_fs.read_text(
            self.spark, f"{self._path(name)}/{self.SCHEMA_RECORD}"
        )
        return None if text is None else T.StructType.fromJson(json.loads(text))

    def read(self, name: str) -> DataFrame:
        schema = self._recorded(name)
        if schema is None:
            raise FileNotFoundError(
                f"enrichment table {name!r} has no schema record under "
                f"{self._path(name)}; write it through EnrichmentStore.write"
            )
        return self.spark.read.schema(schema).parquet(self._path(name))

    def _replace(self, path: str, df: DataFrame) -> None:
        """Land `df` in a sibling directory, then overwrite the table from
        it: `df` may read the table it replaces."""
        df.write.mode("overwrite").parquet(path + ".tmp")
        self.spark.read.schema(df.schema).parquet(path + ".tmp").write.mode(
            "overwrite"
        ).parquet(path)
        hadoop_fs.delete(self.spark, path + ".tmp")

    def write(
        self,
        name: str,
        df: DataFrame,
        mode: str = "overwrite",
        primary_key: str | None = None,
    ) -> None:
        path = self._path(name)
        if mode == "overwrite" or not hadoop_fs.exists(self.spark, path):
            self._replace(path, df)
            schema = df.schema
        elif mode == "append":
            df.write.mode("append").parquet(path)
            old = self._recorded(name) or T.StructType()
            known = set(old.fieldNames())
            schema = T.StructType(
                old.fields + [f for f in df.schema.fields if f.name not in known]
            )
        elif mode == "merge":
            if not primary_key:
                raise ValueError("merge mode requires primary_key")
            # MERGE INTO ... WHEN MATCHED UPDATE ALL / NOT MATCHED INSERT
            # (ref Enrichment.kt:314-321) — latest-wins emulation: new
            # rows rank above old for the same key.
            old = self.read(name).withColumn("__gen", F.lit(0))
            new = df.withColumn("__gen", F.lit(1))
            w = W.partitionBy(primary_key).orderBy(F.desc("__gen"))
            merged = (
                old.unionByName(new, allowMissingColumns=True)
                .withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn", "__gen")
            )
            self._replace(path, merged)
            schema = merged.schema
        else:
            raise ValueError(f"unknown write mode {mode!r}")
        hadoop_fs.write_text(self.spark, f"{path}/{self.SCHEMA_RECORD}", schema.json())


def enrich(
    df: DataFrame,
    enrichment: DataFrame,
    on: dict[str, str],
    select: list[str] | None = None,
    target: str = "enrichment",
) -> DataFrame:
    """get_enrichment_table_record as a relational operator (J1).

    on: {event_column: enrichment_column} equality keys (the bare
    string / single-pair lookup forms, functions.rs:216-250).
    select: projected enrichment columns (:113-124 → Catalyst column
    pruning on the broadcast side). The looked-up record lands as one
    struct column `target` — null on miss, like the VRL fn."""
    proj = enrichment
    if select:
        proj = proj.select(*set(list(on.values()) + select))
    keep = select or [c for c in proj.columns if c not in on.values()]
    packed = proj.select(
        *[F.col(c).alias(f"__k_{i}") for i, c in enumerate(on.values())],
        F.struct(*[F.col(c) for c in keep]).alias(target),
    )
    cond: Column | None = None
    for i, ev_col in enumerate(on.keys()):
        c = df[ev_col] == packed[f"__k_{i}"]
        cond = c if cond is None else (cond & c)
    out = df.join(F.broadcast(packed), cond, "left")
    return out.drop(*[f"__k_{i}" for i in range(len(on))])


def sync_enrichment(store: EnrichmentStore, pack_dir: str, raw: DataFrame) -> DataFrame:
    """Run one managed enrichment pack's sync cycle: raw feed records →
    compiled pack transform → full-schema projection → store write with
    the pack's write_mode/primary_key (ref Enrichment.kt:112-149 sync +
    :336-366 write modes). Returns the landed table.

    `raw` carries either the pack's parsed input columns or a `json`
    string column (the puller drop shape); parse mirrors
    pipeline._read_raw."""
    from matano_spark.schema.config import load_enrichment
    from matano_spark.schema.resolve import fields_to_structtype

    ed = load_enrichment(pack_dir)
    if ed.ingest.get("input_fields") and "json" in raw.columns:
        schema = fields_to_structtype(ed.ingest["input_fields"])
        raw = raw.select(F.from_json("json", schema).alias("r")).select("r.*")
    normalized = ed.pipeline(raw)
    present = set(normalized.columns)
    projected = normalized.select(
        *[
            F.col(f"`{f.name}`")
            if f.name in present
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in ed.schema.fields
        ]
    )
    store.write(ed.name, projected, mode=ed.write_mode, primary_key=ed.primary_key)
    return store.read(ed.name)


def ip4_long(c: Column) -> Column:
    """Dotted-quad IPv4 string → bigint (ref VRL ip_pton analog)."""
    o = F.split(c, r"\.")
    return (
        F.element_at(o, 1).cast("bigint") * 16777216
        + F.element_at(o, 2).cast("bigint") * 65536
        + F.element_at(o, 3).cast("bigint") * 256
        + F.element_at(o, 4).cast("bigint")
    )


def lpm_join(
    events: DataFrame,
    cidrs: DataFrame,
    ip_col: str = "ip",
    cidr_col: str = "cidr",
) -> DataFrame:
    """Longest-prefix-match CIDR enrichment (GeoIP/ASN-style lookup).

    The naive formulation is a theta join (ip BETWEEN range_start AND
    range_end) with per-row candidate scans. This one is a CHAIN of
    broadcast LEFT equi-joins, one per distinct prefix length in the
    dim table, probed longest-first, folded with `coalesce`:

        events ⟕ dim/32 ⟕ dim/31 ⟕ ... ⟕ dim/8
        match = coalesce(m32, m31, ..., m8)

    Each per-length join keys on `ip & mask(L)` computed map-side, so
    the whole probe chain is broadcast hash joins inside ONE codegen
    stage: the 100 TB event side is scanned exactly once and NEVER
    shuffles — not for the probe, not for the longest-wins pick
    (coalesce is a row-local expression, so there is no reduction
    step at all, and duplicate event rows trivially survive). CIDR
    tables (GeoIP ~3M rows, ~30 distinct lengths) broadcast.

    Adds: every column of `cidrs` except the cidr string lands on the
    matched rows; events with no covering prefix are dropped (inner
    semantics — the `__m` struct is exposed pre-filter for callers
    wanting left semantics). Dim rows duplicated on the same network
    are deduplicated deterministically (stable-hash keeper).
    """
    payload = tuple(c for c in cidrs.columns if c != cidr_col)
    # cached expression trees (see the _lpm builders below): building
    # them is per-process py4j work, not per-query
    dim = (
        cidrs.select("*", _lpm4_dim_split(cidr_col))
        .select("*", *_lpm4_dim_parse())
        .drop("__p")
    )
    # normalize the base to its network address at its own length,
    # deterministic keeper for dim rows that collapse to one network
    dim = (
        dim.select("*", _lpm4_dim_net())
        .drop("__base")
        .select("*", _lpm4_dedup_rn(payload))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        # pin the deduped dim once: each per-length branch below builds
        # its own broadcast, and without this every branch (plus the
        # lengths collect) re-executes the full dim plan — scan, union,
        # dedup window — once per distinct prefix length (measured
        # ~0.5 s per re-execution at sf0.1). Dim is small by contract.
        # LAZY checkpoint: the lengths collect below is the first
        # action, so materialization and the control-plane read fuse
        # into ONE job (the old eager form paid a separate
        # materialization job first — pure scheduling overhead).
        .localCheckpoint(eager=False)
    )
    # control-plane: the distinct-length list (≤33 values for v4) —
    # collected WITHOUT a distinct (that was a second exchange over the
    # already-materialized dim; the dim is tiny by contract, so the
    # set() dedup is driver-side free)
    lengths = sorted(
        {r["__len"] for r in dim.select("__len").collect()}, reverse=True
    )
    if not lengths:
        empty = events.limit(0)
        for fld in [f for f in dim.schema.fields if f.name in payload]:
            empty = empty.withColumn(fld.name, F.lit(None).cast(fld.dataType))
        return empty

    # materialize the dotted-quad parse ONCE as a hidden column: the
    # per-length join keys below each mask it, so without this the
    # split/cast chain re-evaluates once per distinct prefix length
    # per row (same hoist lpm_join6 applies to its word parse)
    out = events.select("*", _lpm4_ev_parse(ip_col))
    probes = []
    for ln in lengths:
        sel, cond = _lpm4_probe(ln, payload)
        d = dim.filter(F.col("__len") == ln).select(*sel)
        out = out.join(F.broadcast(d), cond, "left").drop(f"__net_{ln}")
        probes.append(f"__m_{ln}")
    # longest prefix wins — a row-local coalesce, no shuffle, no window
    out = out.withColumn("__m", F.coalesce(*probes)).drop(*probes)
    return out.filter(F.col("__m").isNotNull()).select(*events.columns, "__m.*")


def _ip6_groups(c: Column) -> Column:
    """IPv6 string → array of 8 hex-group strings (`::` expansion).
    Pure column expressions; malformed input yields null groups which
    null the join keys (no match), like a failed ip_pton."""
    halves = F.split(c, "::", -1)
    no_str = F.array().cast("array<string>")
    left = F.when(F.element_at(halves, 1) == "", no_str).otherwise(
        F.split(F.element_at(halves, 1), ":")
    )
    has2 = F.size(halves) == 2
    right = F.when(
        ~has2 | (F.element_at(halves, 2) == ""), no_str
    ).otherwise(F.split(F.element_at(halves, 2), ":"))
    fill = F.array_repeat(
        F.lit("0"), (8 - F.size(left) - F.size(right)).cast("int")
    )
    return F.when(has2, F.concat(left, fill, right)).otherwise(F.split(c, ":"))


def ip6_words(c: Column) -> list[Column]:
    """IPv6 → four 32-bit words as bigints (the two-bigint `ip_pton`
    analog, split further so no intermediate ever exceeds 2^32 —
    ANSI-overflow-safe). Word k holds hex groups 2k and 2k+1."""
    g = _ip6_groups(c)

    def grp(i: int) -> Column:
        return F.conv(F.element_at(g, i), 16, 10).try_cast("bigint")

    return [grp(2 * k + 1) * 65536 + grp(2 * k + 2) for k in range(4)]


def ip_words(c: Column) -> list[Column]:
    """Mixed-family address → 128-bit words: IPv6 parsed directly,
    IPv4 mapped into ::ffff:0:0/96 (RFC 4291 §2.5.5.2), so ONE
    128-bit LPM covers both families."""
    v6 = ip6_words(c)
    v4 = [F.lit(0), F.lit(0), F.lit(0xFFFF), ip4_long(c)]
    is6 = c.contains(":")
    return [F.when(is6, w6).otherwise(w4) for w6, w4 in zip(v6, v4)]


def _mask_words(ln: int) -> list[int]:
    """Per-word bitmasks for a 128-bit prefix length."""
    out = []
    for k in range(4):
        kept = min(max(ln - 32 * k, 0), 32)
        out.append(((1 << kept) - 1) << (32 - kept))
    return out


# ---------------------------------------------------------------------------
# Cached Column-tree builders for the LPM joins. Column objects are
# immutable expression TREES, resolved by name against whatever plan
# they are applied to — so the trees can be built once per (column
# name, …) key and reused across queries and bench repeats. Building
# them is driver-side py4j chatter (~0.3 s for the 8 conv/split trees
# of ip_words alone, measured r10) that otherwise re-runs on every
# query construction. Plan-construction memoization only: no data, no
# plan fragments — just unresolved expressions.
# ---------------------------------------------------------------------------


@lru_cache(maxsize=64)
def _lpm4_dim_split(cidr_col: str) -> Column:
    return F.split(F.col(cidr_col), "/").alias("__p")


@lru_cache(maxsize=4)
def _lpm4_dim_parse() -> tuple[Column, Column]:
    return (
        ip4_long(F.element_at(F.col("__p"), 1)).alias("__base"),
        F.element_at(F.col("__p"), 2).cast("int").alias("__len"),
    )


@lru_cache(maxsize=4)
def _lpm4_dim_net() -> Column:
    # powers of two are exact in doubles far beyond 2^32
    shift = F.pow(F.lit(2.0), 32 - F.col("__len")).cast("bigint")
    return (F.col("__base") - (F.col("__base") % shift)).alias("__net")


@lru_cache(maxsize=64)
def _lpm4_dedup_rn(payload: tuple[str, ...]) -> Column:
    wd = W.partitionBy("__len", "__net").orderBy(F.xxhash64(*payload))
    return F.row_number().over(wd).alias("__rn")


@lru_cache(maxsize=64)
def _lpm4_ev_parse(ip_col: str) -> Column:
    return ip4_long(F.col(ip_col)).alias("__lpm_ip")


@lru_cache(maxsize=256)
def _lpm4_probe(ln: int, payload: tuple[str, ...]) -> tuple[tuple[Column, ...], Column]:
    """(dim-side select list renamed per length, event-side masked join
    condition) for one v4 prefix length."""
    sel = (
        F.col("__net").alias(f"__net_{ln}"),
        F.struct(*payload).alias(f"__m_{ln}"),
    )
    ev_ip = F.col("__lpm_ip")
    block = 1 << (32 - ln)
    cond = (ev_ip - (ev_ip % F.lit(block))) == F.col(f"__net_{ln}")
    return sel, cond


@lru_cache(maxsize=64)
def _lpm6_dim_parse(cidr_col: str) -> tuple[Column, ...]:
    """(4 word columns aliased __w0..3, prefix length aliased __len)
    for a mixed v4/v6 cidr string column."""
    p = F.split(F.col(cidr_col), "/")
    addr = F.element_at(p, 1)
    raw_len = F.element_at(p, 2).cast("int")
    words = [w.alias(f"__w{k}") for k, w in enumerate(ip_words(addr))]
    ln = (
        F.when(addr.contains(":"), raw_len)
        .otherwise(raw_len + 96)
        .alias("__len")
    )
    return (*words, ln)


@lru_cache(maxsize=4)
def _lpm6_dim_norm() -> tuple[Column, ...]:
    """Per-word masked network columns __n0..3 from __w0..3 and the
    row's own __len (column-level masks, powers of two exact in
    doubles far beyond 2^32)."""
    out = []
    for k in range(4):
        kept = F.least(F.greatest(F.col("__len") - 32 * k, F.lit(0)), F.lit(32))
        mask = (
            (F.pow(F.lit(2.0), kept) - 1) * F.pow(F.lit(2.0), 32 - kept)
        ).cast("bigint")
        out.append(F.col(f"__w{k}").bitwiseAND(mask).alias(f"__n{k}"))
    return tuple(out)


@lru_cache(maxsize=64)
def _lpm6_dedup_rn(payload: tuple[str, ...]) -> Column:
    """Deterministic-keeper row_number over (__len, __n0..3)."""
    wd = W.partitionBy("__len", *[f"__n{k}" for k in range(4)]).orderBy(
        F.xxhash64(*payload)
    )
    return F.row_number().over(wd).alias("__rn")


@lru_cache(maxsize=64)
def _lpm6_ev_parse(ip_col: str) -> tuple[Column, Column]:
    """(hex-group array aliased __g6, v4 integer aliased __ip4) for the
    event address column — the hoisted once-per-row parse."""
    return (
        _ip6_groups(F.col(ip_col)).alias("__g6"),
        ip4_long(F.col(ip_col)).alias("__ip4"),
    )


@lru_cache(maxsize=64)
def _lpm6_ev_words(ip_col: str) -> tuple[Column, ...]:
    """Event-side 32-bit words __ew0..3 from the hoisted __g6/__ip4."""

    def grp(i: int) -> Column:
        return F.conv(F.element_at(F.col("__g6"), i), 16, 10).try_cast(
            "bigint"
        )

    is6 = F.col(ip_col).contains(":")
    v4w = [F.lit(0), F.lit(0), F.lit(0xFFFF), F.col("__ip4")]
    return tuple(
        F.when(is6, grp(2 * k + 1) * 65536 + grp(2 * k + 2))
        .otherwise(v4w[k])
        .alias(f"__ew{k}")
        for k in range(4)
    )


@lru_cache(maxsize=256)
def _lpm6_probe(ln: int, payload: tuple[str, ...]) -> tuple[tuple[Column, ...], Column]:
    """(dim-side select list renamed per length, event-side join
    condition) for one prefix length."""
    sel = (
        *[F.col(f"__n{k}").alias(f"__n{k}_{ln}") for k in range(4)],
        F.struct(*payload).alias(f"__m_{ln}"),
    )
    masks = _mask_words(ln)
    cond = None
    for k in range(4):
        c = F.col(f"__ew{k}").bitwiseAND(F.lit(masks[k])) == F.col(
            f"__n{k}_{ln}"
        )
        cond = c if cond is None else (cond & c)
    return sel, cond


def lpm_join6(
    events: DataFrame,
    cidrs: DataFrame,
    ip_col: str = "ip",
    cidr_col: str = "cidr",
) -> DataFrame:
    """Mixed v4/v6 longest-prefix-match enrichment — the 128-bit
    `lpm_join`. Same plan shape (chain of longest-first broadcast LEFT
    equi-joins folded with coalesce; zero event-side shuffle), with
    the join key being the four masked 32-bit words. IPv4 prefixes
    scale into the v4-mapped space (/L → /96+L), so a GeoIP table
    mixing families is ONE dim. Event words materialize once as
    hidden columns — the parse runs once per row, not per length."""
    payload = tuple(c for c in cidrs.columns if c != cidr_col)
    # All expression trees below come from the module-level lru caches:
    # building them is pure driver-side py4j work (~0.9 s/query
    # measured r10) that is identical for every (column-name, payload)
    # combination, so it runs once per process, not once per build.
    dim = cidrs.select("*", *_lpm6_dim_parse(cidr_col))
    # normalize ALL dim rows in one pass (column-level masks derived
    # from each row's own length), dedup once, then pin the slim dim
    # in memory — the per-length branches below each build their own
    # broadcast, and without this they would re-execute the full dim
    # plan (scans + window) once per distinct length
    dim = dim.select("*", *_lpm6_dim_norm())
    dim = (
        dim.select("*", _lpm6_dedup_rn(payload))
        .filter(F.col("__rn") == 1)
        .select("__len", *[f"__n{k}" for k in range(4)], *payload)
        # dim is small by contract; lazy so the lengths collect below
        # materializes it in the same job (see lpm_join)
        .localCheckpoint(eager=False)
    )
    lengths = sorted(
        {r["__len"] for r in dim.select("__len").collect()}, reverse=True
    )
    if not lengths:
        empty = events.limit(0)
        for fld in [f for f in dim.schema.fields if f.name in payload]:
            empty = empty.withColumn(fld.name, F.lit(None).cast(fld.dataType))
        return empty

    # materialize the parse ONCE: the group array and the v4 integer
    # land as hidden columns, so each of the four word expressions (and
    # each join) reuses them instead of re-building the split/conv
    # chains 8× per row (measured 6.4s → ~2s at sf0.1); single selects,
    # not withColumn chains — each withColumn is its own analysis pass
    out = events.select("*", *_lpm6_ev_parse(ip_col))
    out = out.select(*events.columns, *_lpm6_ev_words(ip_col))
    probes = []
    for ln in lengths:
        sel, cond = _lpm6_probe(ln, payload)
        d = dim.filter(F.col("__len") == ln).select(*sel)
        out = out.join(F.broadcast(d), cond, "left").drop(
            *[f"__n{k}_{ln}" for k in range(4)]
        )
        probes.append(f"__m_{ln}")
    out = out.withColumn("__m", F.coalesce(*probes)).drop(*probes)
    return out.filter(F.col("__m").isNotNull()).select(*events.columns, "__m.*")

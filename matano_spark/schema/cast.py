"""P7: resolve rows against the declared table schema, sidelining rows
that cannot be coerced (ref: Avro `resolve` union-mismatch →
SchemaMismatchError sidelined row, transformer/src/main.rs:955-998).

`apply_schema(df, schema)` try-casts every leaf to the declared type
and splits the input into (good, bad): a row is bad when a non-null
input value failed its cast (null-in → null-out is fine; a value that
*was* present but didn't coerce is a schema mismatch). Bad rows carry
the failing field names — the quarantine channel's error_kind."""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _coerce(col: Column, src: T.DataType | None, dst: T.DataType) -> tuple[Column, list[Column]]:
    """Returns (cast column, [mismatch flags])."""
    if src is not None and src.simpleString() == dst.simpleString():
        return col, []
    if isinstance(dst, T.StructType):
        if isinstance(src, T.MapType):
            # dynamic VRL object (loop-built map) landing where a
            # struct is declared: per-field key lookup + leaf coercion
            cols, flags = [], []
            for f in dst.fields:
                c, fl = _coerce(
                    F.element_at(col, F.lit(f.name)), src.valueType, f.dataType
                )
                cols.append(c.alias(f.name))
                flags.extend(fl)
            return F.struct(*cols), flags
        src_fields = {f.name: f.dataType for f in src.fields} if isinstance(src, T.StructType) else {}
        cols, flags = [], []
        # non-struct value (e.g. a string) sitting where a struct is
        # declared is a schema mismatch, not a silent all-null struct
        if src is not None and not isinstance(src, T.StructType):
            flags.append(F.coalesce(col.isNotNull(), F.lit(False)))
        for f in dst.fields:
            child = col.getField(f.name) if f.name in src_fields else F.lit(None)
            c, fl = _coerce(child, src_fields.get(f.name), f.dataType)
            cols.append(c.alias(f.name))
            flags.extend(fl)
        return F.struct(*cols), flags
    if isinstance(dst, T.ArrayType):
        if src is not None and not isinstance(src, T.ArrayType):
            # non-array value where an array is declared: quarantine
            return F.lit(None).cast(dst), [F.coalesce(col.isNotNull(), F.lit(False))]
        if src is not None and isinstance(src, T.ArrayType):
            inner_src = src.elementType
            if inner_src.simpleString() == dst.elementType.simpleString():
                return col, []
            # element-wise recursive coercion (struct elements restructure
            # field-by-field; plain try_cast cannot add/reorder fields)
            out = F.transform(
                col, lambda x: _coerce(x, inner_src, dst.elementType)[0]
            )

            def _elem_flag(x):
                flags = _coerce(x, inner_src, dst.elementType)[1]
                agg = F.lit(False)
                for fl in flags:
                    agg = agg | fl
                return agg

            flag = F.exists(col, _elem_flag)
            return out, [F.coalesce(flag, F.lit(False))]
        return F.lit(None).cast(dst), []
    out = col.try_cast(dst.simpleString())
    if src is None:  # absent column — nothing to mismatch on
        return out, []
    flag = col.isNotNull() & out.isNull()
    return out, [F.coalesce(flag, F.lit(False))]


@lru_cache(maxsize=64)
def _schema_plan(
    src: T.StructType, schema: T.StructType
) -> tuple[tuple[Column, ...], Column]:
    """(cast columns, mismatch-list column) landing a frame of schema
    `src` in `schema`. Built once per schema pair: the Columns hold
    names only, so every frame of that schema reuses them."""
    src_types = {f.name: f.dataType for f in src.fields}
    out_cols: list[Column] = []
    flag_cols: list[Column] = []
    flag_names: list[str] = []
    for f in schema.fields:
        src_t = src_types.get(f.name)
        base = F.col(f"`{f.name}`") if f.name in src_types else F.lit(None)
        c, flags = _coerce(base, src_t, f.dataType)
        out_cols.append(c.cast(f.dataType).alias(f.name))
        for i, fl in enumerate(flags):
            flag_cols.append(fl)
            flag_names.append(f.name if not flags[1:] else f"{f.name}#{i}")
    mismatches = F.array_compact(
        F.array(
            *[
                F.when(fl, F.lit(name))
                for fl, name in zip(flag_cols, flag_names)
            ]
        )
    ) if flag_cols else F.array().cast("array<string>")
    return tuple(out_cols), mismatches


def apply_schema(
    df: DataFrame, schema: T.StructType, counts: Observation | None = None
) -> tuple[DataFrame, DataFrame]:
    """Cast df to the declared schema. Returns (good, bad):
    good — declared columns, coerced; bad — original rows + the
    `mismatch_fields` array naming the leaves that failed.

    With `counts`, the first action on `good` also observes `rows`
    (all input rows) and `bad` (rows with a mismatch), so landing
    `good` counts both sides in its own job. Both sides then read the
    observed frame, whose CollectMetrics node also keeps the split
    filters from being pushed into (and inlining) the transform's
    projections."""
    out_cols, mismatches = _schema_plan(df.schema, schema)
    tagged = df.withColumn("__mismatch", mismatches)
    landed = tagged
    if counts is not None:
        landed = tagged.observe(
            counts,
            F.count(F.lit(1)).alias("rows"),
            F.count_if(F.size("__mismatch") > 0).alias("bad"),
        )
    good = landed.filter(F.size("__mismatch") == 0).select(*out_cols)
    bad = (
        landed.filter(F.size("__mismatch") > 0)
        .withColumnRenamed("__mismatch", "mismatch_fields")
    )
    return good, bad

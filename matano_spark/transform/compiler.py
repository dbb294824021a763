"""Compiler: transform-DSL steps → one Spark projection (+ filter).

Design (SURVEY.md §4 "custom Spark work #1"): the reference executes
VRL programs row-at-a-time over dynamic values; here every step is
folded into a dict of top-level Column expressions compiled against the
input schema, so the whole program becomes a single select() that
Catalyst optimizes and codegens. Row filters (VRL `abort`) accumulate
into one filter() applied before the projection — abort skips the row
(ref: transformer/src/main.rs:905-916 abort-as-skip).

Path semantics:
- reads of missing paths yield null (VRL missing ≡ null;
  ref: detection/util.py:131-132)
- writes create intermediate structs as needed (`.a.b.c = v` scaffolds
  a and a.b); writing into a null-but-typed struct replaces it
- When(cond, ...) applies each inner write conditionally:
  new = CASE WHEN cond THEN value ELSE old END

Compile-time representation: struct-valued columns being written are
held as a lazy TREE of child Columns (exploded from the source struct
once, on first write), and folded back into one F.struct() only at
the final projection. Rebuilding the full struct expression on every
nested assignment instead (the naive approach) duplicates the prior
expression once per sibling field, i.e. grows the Catalyst tree
EXPONENTIALLY in the number of sequential writes — a 60-assign program
like okta's took minutes to analyze; the tree form is linear.
"""

from __future__ import annotations

import itertools
import os
import threading
import time
from collections import OrderedDict
from typing import Any, Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from matano_spark.transform import ast
from matano_spark.transform.functions import build_call

# variables the reference injects into managed programs at deploy time
# (o365 audit.yml:2 "# tenants config injected here^") — resolved to
# an empty config map when the deployment provides none
CONFIG_VARS = {"tenants"}


class _Leaf:
    """An unexploded column expression + its (best-effort) type.

    `guarded` marks a value written ONLY under a runtime guard (the
    blend is `CASE WHEN g THEN v ELSE old END`, which is null exactly
    when the key never existed): dynamic-object materialization then
    includes the key only when the value is non-null, so a false guard
    doesn't fabricate the key — VRL `if g { .a.b = x }` with g false
    leaves `.a` absent (o365's ExceptionInfo.Reason rewrite must not
    make `.ExceptionInfo != null` true)."""

    __slots__ = ("col", "dtype", "guarded")

    def __init__(
        self, col: Column, dtype: T.DataType | None, guarded: bool = False
    ):
        self.col = col
        self.dtype = dtype
        self.guarded = guarded


class _Tree:
    """A struct being edited: child name → _Leaf | _Tree."""

    __slots__ = ("children",)

    def __init__(self, children: dict | None = None):
        self.children: dict[str, _Leaf | _Tree] = children or {}


def _explode(node: _Leaf) -> _Tree:
    """Leaf struct → tree of per-field leaves. Each child references the
    parent expression once (getField), so repeated writes after the
    explode never re-copy siblings."""
    if isinstance(node.dtype, (T.VariantType, T.MapType)):
        # dynamic object (variant or map) being written through
        # (del/assign on a subpath): keep the remainder reachable —
        # sibling keys must keep resolving after one key is
        # deleted/overwritten (okta system.yml dels ~40 .json.* keys
        # then reads others; its debug_data.flattened map gets three
        # keys re-assigned). The `__vrest__` child is the dynamic
        # fallback _node() descends into for keys without an explicit
        # child; _materialize merges it back in map form.
        return _Tree({"__vrest__": node})
    if not isinstance(node.dtype, T.StructType):
        # non-struct (or unknown) value being written through: VRL
        # overwrite semantics — start fresh scaffolding
        return _Tree()
    return _Tree(
        {
            f.name: _Leaf(node.col.getField(f.name), f.dataType)
            for f in node.dtype.fields
        }
    )


def _is_guarded(node) -> bool:
    """True when every value under `node` was written ONLY behind
    runtime guards — the subtree's keys must not exist for rows where
    no guard fired (all values runtime-null ⇒ the subtree is absent)."""
    if isinstance(node, _Leaf):
        return node.guarded
    if not isinstance(node, _Tree) or not node.children:
        return False
    if "__vrest__" in node.children:
        return False  # retains base content — exists regardless
    return all(_is_guarded(c) for c in node.children.values())


def _materialize(node) -> tuple[Column, T.DataType]:
    if isinstance(node, _Leaf):
        return node.col, node.dtype if node.dtype is not None else T.StringType()
    if not node.children:
        return F.lit(None), T.NullType()
    if set(node.children) == {"__vrest__"}:
        # exploded variant with no explicit overwrites yet: still the
        # original variant
        n = node.children["__vrest__"]
        return n.col, n.dtype
    if "__vrest__" in node.children:
        # mutated variant: merge the explicit (assigned/deleted) keys
        # back into the dynamic remainder as map<string,variant> —
        # exact VRL object semantics (untouched keys survive, deleted
        # keys vanish, assigned keys win). okta ip_chain's closure
        # (`v.geographical_context = del(v.geographicalContext); v`)
        # must keep v.ip.
        rest = node.children["__vrest__"]
        if isinstance(rest.dtype, T.MapType):
            base = rest.col.cast("map<string,variant>")
        else:
            base = F.try_variant_get(rest.col, "$", "map<string,variant>")
        explicit = [n for n in node.children if n != "__vrest__"]
        pairs: list[Column] = []
        cond_pairs: list[tuple[str, Column]] = []
        for name in explicit:
            child = node.children[name]
            c, t = _materialize(child)
            if isinstance(t, T.NullType):
                continue  # deleted key: excluded below, not re-added
            if isinstance(t, (T.MapType, T.StructType, T.ArrayType)):
                c = _lift_variant_object(c, t)
            elif not isinstance(t, T.VariantType):
                c = c.cast("variant")
            if _is_guarded(child):
                # guard-only write: the blend is null exactly when the
                # key never existed (false guard over an absent base)
                # — include the key only when the value is non-null,
                # so `if g { .a.b = x }` with g false leaves the
                # object without `b` (and `del` under guard truly
                # removes the key for matched rows).
                # KNOWN DIVERGENCE (accepted tradeoff): when g is TRUE
                # but the assigned value is null, VRL sets the key to
                # null while this drops it — exists()/key-count over a
                # guard-written null key differ; null READS are
                # unaffected. A precise fix would key inclusion on a
                # tracked guard-fired column instead of value
                # non-nullness.
                cond_pairs.append((name, c))
            else:
                pairs += [F.lit(name), c]
        names = F.array(*[F.lit(n) for n in explicit])
        mt = T.MapType(T.StringType(), T.VariantType())
        kept = F.map_filter(
            F.coalesce(base, F.create_map().cast(mt)),
            lambda k, _v: ~F.array_contains(names, k),
        )
        segs = [kept]
        if pairs:
            segs.append(F.create_map(*pairs))
        for name, c in cond_pairs:
            segs.append(
                F.when(c.isNotNull(), F.create_map(F.lit(name), c)).otherwise(
                    F.create_map().cast(mt)
                )
            )
        out = F.map_concat(*segs) if len(segs) > 1 else kept
        if not pairs and cond_pairs:
            # no unconditional content: when the base is absent AND no
            # guard fired, the whole object never came to exist —
            # null, not {} (o365's `.ExceptionInfo != null` gate)
            absent = base.isNull()
            for _, c in cond_pairs:
                absent = absent & c.isNull()
            out = F.when(~absent, out)
        return out, mt
    cols, fields, raw = [], [], []
    for name, child in node.children.items():
        c, t = _materialize(child)
        cols.append(c.alias(name))
        raw.append(c)
        fields.append(T.StructField(name, t))
    out = F.struct(*cols)
    if node.children and all(
        _is_guarded(c) for c in node.children.values()
    ):
        # every field written only behind guards: if none fired the
        # struct never came to exist — null, not a struct of nulls
        # (parent `!= null` checks must not see a fabricated object)
        any_set = raw[0].isNotNull()
        for c in raw[1:]:
            any_set = any_set | c.isNotNull()
        out = F.when(any_set, out)
    return out, T.StructType(fields)


class _RowState:
    """Mutable compile-time model of the row: top-level name → node
    (lazy tree for structs under edit, plain leaf otherwise)."""

    def __init__(self, df: DataFrame):
        # backtick-escape so literally-dotted column names (zeek's
        # id.orig_h) resolve as single columns, not nested paths
        self.nodes: dict[str, _Leaf | _Tree] = {
            f.name: _Leaf(F.col(f"`{f.name}`"), f.dataType)
            for f in df.schema.fields
        }
        self.filters: list[Column] = []
        # root-level dynamic remainder: set by `. = del(.json)` on a
        # schemaless payload (matano_alerts) — top-level reads of
        # names without an explicit node resolve through this variant
        self.rest: Column | None = None
        # keys del'd at the root while a remainder is live: reads must
        # stop resolving through `rest`, and the key must NOT appear in
        # columns() (a NullType mask column is void-typed and fails
        # parquet sinks)
        self.tombstones: set[str] = set()

    # -- reads ---------------------------------------------------------
    def _node(self, parts: tuple[str, ...]):
        """Walk to the node at `parts`; returns _Leaf | _Tree | None.
        Descending through an unexploded leaf struct follows getField
        without exploding (reads don't mutate). Descending INTO a
        VariantType leaf (parse_json without schema, `variant` input
        fields) compiles the remaining path to try_variant_get — the
        VRL dynamic-object read on semi-structured data."""
        node = self.nodes.get(parts[0])
        if (
            node is None
            and self.rest is not None
            and parts[0] not in self.tombstones
        ):
            path = "$"
            for p in parts:
                path += f"[{p}]" if p.isdigit() else f".{p}"
            return _Leaf(
                F.try_variant_get(self.rest, path, "variant"),
                T.VariantType(),
            )
        for i, part in enumerate(parts[1:], start=1):
            if node is None:
                return None
            if isinstance(node, _Tree):
                child = node.children.get(part)
                if child is None and "__vrest__" in node.children:
                    # exploded dynamic object: un-overwritten keys
                    # resolve through the retained remainder — fall
                    # THROUGH to the leaf descend below with parts[i:]
                    # (current part included)
                    node = node.children["__vrest__"]
                else:
                    node = child
                    continue
            dtype = node.dtype
            if isinstance(dtype, T.VariantType):
                path = "$"
                for p in parts[i:]:
                    path += f"[{p}]" if p.isdigit() else f".{p}"
                # stay VARIANT-typed: consumers concretize by context
                # (scalar funnels cast to string, array/map builders
                # re-extract the structured form) — a string claim
                # here broke every join/filter/index over `.json.*`
                return _Leaf(
                    F.try_variant_get(node.col, path, "variant"),
                    T.VariantType(),
                )
            if isinstance(dtype, T.MapType):
                # map member read (parse_key_value output): one key per
                # remaining path step, descending through nested
                # map/variant value types; a path that outruns the
                # value shape reads null (missing key), not a type
                # error (okta reads oktargets.user.id off an empty {})
                col = node.col
                vt: T.DataType = dtype
                for j, p in enumerate(parts[i:]):
                    if isinstance(vt, T.MapType):
                        col, vt = F.element_at(col, p), vt.valueType
                    elif isinstance(vt, T.VariantType):
                        path = "$"
                        for q in parts[i + j :]:
                            path += f"[{q}]" if q.isdigit() else f".{q}"
                        return _Leaf(
                            F.try_variant_get(col, path, "variant"),
                            T.VariantType(),
                        )
                    elif isinstance(vt, T.StructType):
                        fld = next(
                            (f for f in vt.fields if f.name == p), None
                        )
                        if fld is None:
                            return _Leaf(F.lit(None), T.NullType())
                        col, vt = col.getField(p), fld.dataType
                    else:
                        return _Leaf(F.lit(None), T.NullType())
                return _Leaf(col, vt)
            if not isinstance(dtype, T.StructType):
                return None
            match = next((f for f in dtype.fields if f.name == part), None)
            if match is None:
                return None
            node = _Leaf(node.col.getField(part), match.dataType)
        return node

    def get(self, parts: tuple[str, ...]) -> Column:
        node = self._node(parts)
        if node is None:
            return F.lit(None)
        return _materialize(node)[0]

    def get_type(self, parts: tuple[str, ...]) -> T.DataType | None:
        node = self._node(parts)
        if node is None:
            return None
        if isinstance(node, _Leaf):
            return node.dtype
        return _materialize(node)[1]

    # -- writes --------------------------------------------------------
    def _tree_at(self, parts: tuple[str, ...]) -> _Tree:
        """Walk/create the tree at `parts`, exploding leaves in place."""
        node = self.nodes.get(parts[0])
        if (
            node is None
            and self.rest is not None
            and parts[0] not in self.tombstones
        ):
            sub = (
                f"$[{parts[0]}]" if parts[0].isdigit() else f"$.{parts[0]}"
            )
            node = _Leaf(
                F.try_variant_get(self.rest, sub, "variant"),
                T.VariantType(),
            )
        if not isinstance(node, _Tree):
            node = _explode(node) if isinstance(node, _Leaf) else _Tree()
            self.nodes[parts[0]] = node
        for i, part in enumerate(parts[1:], start=1):
            child = node.children.get(part)
            if child is None and "__vrest__" in node.children:
                # descending INTO a retained dynamic object: the child
                # starts as its sub-object so sibling keys keep
                # resolving
                rest = node.children["__vrest__"]
                if isinstance(rest.dtype, T.MapType):
                    child = _Leaf(
                        F.element_at(rest.col, part), rest.dtype.valueType
                    )
                else:
                    sub = f"$[{part}]" if part.isdigit() else f"$.{part}"
                    child = _Leaf(
                        F.try_variant_get(rest.col, sub, "variant"),
                        T.VariantType(),
                    )
            if not isinstance(child, _Tree):
                child = _explode(child) if isinstance(child, _Leaf) else _Tree()
                node.children[part] = child
            node = child
        return node

    def set(
        self,
        parts: tuple[str, ...],
        value: Column,
        vtype: T.DataType,
        guarded: bool = False,
    ) -> None:
        leaf = _Leaf(value, vtype, guarded=guarded)
        if len(parts) > 1 and parts[0] in self.tombstones:
            # the root key was deleted: a nested write starts from an
            # empty object, never from the root remainder's old value
            # (VRL: del(.a); .a.b = x  ->  {a: {b: x}})
            self.nodes[parts[0]] = _Tree()
        self.tombstones.discard(parts[0])
        if len(parts) == 1:
            self.nodes[parts[0]] = leaf
            return
        self._tree_at(parts[:-1]).children[parts[-1]] = leaf

    def delete(self, parts: tuple[str, ...]) -> None:
        if len(parts) == 1:
            if self.rest is not None:
                # a live root remainder may also hold this key: reads
                # must stop resolving through it (tombstone, not a
                # NullType mask column — void columns fail sinks)
                self.tombstones.add(parts[0])
            self.nodes.pop(parts[0], None)
            return
        # only explode if the path actually exists
        if self._node(parts) is None:
            return
        tree = self._tree_at(parts[:-1])
        if parts[-1] not in tree.children and "__vrest__" in tree.children:
            # deleting a key that only exists inside the retained
            # variant: mask it (reads of this key must stop resolving
            # through __vrest__)
            tree.children[parts[-1]] = _Leaf(F.lit(None), T.NullType())
            return
        tree.children.pop(parts[-1], None)

    # -- output --------------------------------------------------------
    def columns(self) -> list[Column]:
        out = []
        for name, node in self.nodes.items():
            col, dtype = _materialize(node)
            if isinstance(node, _Tree) and isinstance(dtype, T.NullType):
                col = col.cast(T.StringType())  # empty struct remnant
            out.append(col.alias(name))
        return out


def _written_var_roots(steps) -> set:
    """Root names of locals a step list assigns (recursive) — used to
    detect map-closures that mutate ENCLOSING-scope locals (okta's
    `oktargets.user = v` inside the target map_values)."""
    out: set = set()
    for s in steps:
        if isinstance(s, ast.LetVar):
            out.add(ast.split_path(s.path)[0])
        elif isinstance(s, ast.LetErr) and s.val_path and not s.val_row:
            out.add(ast.split_path(s.val_path)[0])
        elif isinstance(s, ast.When):
            out |= _written_var_roots(s.steps) | _written_var_roots(s.orelse)
        elif isinstance(s, (ast.Multi, ast.ForEach)):
            out |= _written_var_roots(s.steps)
    return out


def _void_free(t: T.DataType) -> T.DataType:
    """Replace VOID (null-literal) leaves with string — to_variant_object
    cannot cast a struct carrying a VOID field (waf's closure emits
    `sensitivity_level: null` when the source field is absent)."""
    if isinstance(t, T.NullType):
        return T.StringType()
    if isinstance(t, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _void_free(f.dataType)) for f in t.fields]
        )
    if isinstance(t, T.ArrayType):
        return T.ArrayType(_void_free(t.elementType))
    if isinstance(t, T.MapType):
        return T.MapType(t.keyType, _void_free(t.valueType))
    return t


def _lift_variant_object(c: Column, t: T.DataType) -> Column:
    """to_variant_object with VOID leaves pre-cast away (see
    _void_free)."""
    ft = _void_free(t)
    if ft.simpleString() != t.simpleString():
        c = c.cast(ft.simpleString())
    return F.to_variant_object(c)


def _reshape_struct(old: Column, oldt: T.StructType, newt: T.StructType) -> Column:
    """Rebuild a struct value in a NEW struct shape, field by field:
    same-typed fields pass through, scalars try_cast, struct-struct
    pairs RECURSE (the vpcflow 29-token grok branch re-types
    aws.vpcflow's leaves bigint→string — the off-guard arm must keep
    the old values in the new leaf types, not null the subtree),
    variants lift, and irreconcilable shapes null only the LEAF."""
    byname = {f.name: f for f in oldt.fields}

    def _refield(f):
        src = byname.get(f.name)
        if src is None:
            return F.lit(None).cast(f.dataType).alias(f.name)
        c = old.getField(f.name)
        if src.dataType.simpleString() == f.dataType.simpleString():
            return c.alias(f.name)
        if isinstance(f.dataType, T.VariantType):
            return (
                c.cast("variant")
                if not isinstance(
                    src.dataType, (T.StructType, T.ArrayType, T.MapType)
                )
                else _lift_variant_object(c, src.dataType)
            ).alias(f.name)
        if isinstance(src.dataType, T.StructType) and isinstance(
            f.dataType, T.StructType
        ):
            return _reshape_struct(c, src.dataType, f.dataType).alias(f.name)
        if not isinstance(
            src.dataType, (T.StructType, T.ArrayType, T.MapType)
        ) and not isinstance(
            f.dataType, (T.StructType, T.ArrayType, T.MapType)
        ):
            return c.try_cast(f.dataType).alias(f.name)
        return F.lit(None).cast(f.dataType).alias(f.name)

    return F.struct(*[_refield(f) for f in newt.fields])


def _has_row_write(steps) -> bool:
    for s in steps:
        if isinstance(s, (ast.Assign, ast.Move)):
            return True
        if isinstance(s, ast.Delete) and not s.var:
            return True
        if isinstance(s, ast.When) and (
            _has_row_write(s.steps) or _has_row_write(s.orelse)
        ):
            return True
        if isinstance(s, (ast.Multi, ast.ForEach)) and _has_row_write(s.steps):
            return True
    return False


def _deep_merge(lc, lt, rc, rt):
    """Recursive struct merge, right wins on conflicts (VRL merge
    deep: true)."""
    if not (isinstance(lt, T.StructType) and isinstance(rt, T.StructType)):
        return rc, rt
    lmap = {f.name: f for f in lt.fields}
    rnames = {f.name for f in rt.fields}
    cols, fields = [], []
    for f in lt.fields:
        if f.name not in rnames:
            cols.append(lc.getField(f.name).alias(f.name))
            fields.append(f)
    for f in rt.fields:
        if f.name in lmap:
            c, t = _deep_merge(
                lc.getField(f.name), lmap[f.name].dataType,
                rc.getField(f.name), f.dataType,
            )
        else:
            c, t = rc.getField(f.name), f.dataType
        cols.append(c.alias(f.name))
        fields.append(T.StructField(f.name, t))
    return F.struct(*cols), T.StructType(fields)


def _copy_node(n):
    """Structural copy of a state node: trees re-dict (so sub-scope
    writes don't leak out), leaves shared (immutable)."""
    if isinstance(n, _Tree):
        return _Tree({k: _copy_node(v) for k, v in n.children.items()})
    return n


class _VarState(_RowState):
    """Local-variable namespace (VRL `name = ...`): the same lazy-tree
    row model, starting empty. Locals never reach the output."""

    def __init__(self, nodes: dict | None = None):
        self.nodes = nodes or {}
        self.filters: list[Column] = []
        self.rest: Column | None = None
        self.tombstones: set[str] = set()


def _infer_type(value: Any) -> T.DataType:
    if isinstance(value, list):
        return T.ArrayType(
            _infer_type(value[0]) if value else T.StringType()
        )
    if value is None:
        # typed as NULL so ternary/coalesce arms adopt the OTHER arm's
        # type instead of unifying everything to string
        return T.NullType()
    if isinstance(value, bool):
        return T.BooleanType()
    if isinstance(value, int):
        return T.LongType()
    if isinstance(value, float):
        return T.DoubleType()
    if isinstance(value, str):
        return T.StringType()
    return T.StringType()


class Compiler:
    def __init__(self, state: _RowState, variables: _VarState | None = None):
        self.state = state
        self.vars = variables if variables is not None else _VarState()

    def _compile_lambda(self, lam: ast.Lambda):
        """ast.Lambda → typed callable evaluated with params bound as
        locals (the builders call it per element/leaf). A STATEMENT
        body (lam.steps) runs first in an isolated locals scope —
        param-field/local mutations only (a row-path write from a
        value closure would be a per-element row mutation, which has
        no meaning)."""
        from matano_spark.transform.functions import TypedLambda

        def guard(ss):
            for s in ss:
                if isinstance(s, (ast.Assign, ast.Move)) or (
                    isinstance(s, ast.Delete) and not s.var
                ):
                    raise ValueError(
                        "row-path write inside a value closure — "
                        "mutate the closure param or a local instead"
                    )
                if isinstance(s, ast.When):
                    guard(s.steps)
                    guard(s.orelse)
                if isinstance(s, ast.Multi):
                    guard(s.steps)

        guard(lam.steps)

        def call(*typed_args):
            # accepts (col, dtype) pairs — one per closure param
            saved_nodes = self.vars.nodes
            self.vars.nodes = {
                k: _copy_node(v) for k, v in saved_nodes.items()
            }
            try:
                for p, (c, t) in zip(lam.params, typed_args):
                    self.vars.nodes[p] = _Leaf(c, t)
                for st in lam.steps:
                    self.step(st, None)
                return self.expr(lam.body)
            finally:
                self.vars.nodes = saved_nodes

        return TypedLambda(call, n_params=len(lam.params))

    # expression → (Column, best-effort DataType)
    def expr(self, e: Any) -> tuple[Column, T.DataType]:
        if isinstance(e, ast.Var):
            if e.name not in self.vars.nodes:
                if e.name in CONFIG_VARS:
                    # deploy-time-injected config (o365 audit.yml:2
                    # "# tenants config injected here"): an empty map
                    # stands in when no config is provided
                    mt = T.MapType(T.StringType(), T.StringType())
                    return F.create_map().cast(mt), mt
                raise ValueError(f"unbound variable {e.name!r}")
            return (
                self.vars.get((e.name,)),
                self.vars.get_type((e.name,)) or T.StringType(),
            )
        if isinstance(e, ast.Fn) and e.name == "__del_read":
            # expression-position del(target): yield the value, queue
            # the removal for the post-statement flush (step() applies
            # it under the statement guard AND any lazy-arm guard —
            # `del(a) || del(b)` must remove b only when the a arm was
            # null, snyk reads ALTERNATIVE again two statements later)
            c, t = self.expr(e.args[0])
            if not hasattr(self, "_pending_dels"):
                self._pending_dels = []
            self._pending_dels.append(
                (
                    ast.Delete(e.kwargs["target"], var=e.kwargs["var"]),
                    getattr(self, "_lazy_del_guard", None),
                )
            )
            return c, t
        if (
            isinstance(e, ast.Fn)
            and e.name == "__field"
            and e.args
            and isinstance(e.args[0], ast.Var)
        ):
            # local-variable member read: resolve through the locals
            # tree (maps/variants descend; edited trees stay exact)
            parts = (e.args[0].name,) + ast.split_path(e.kwargs["path"])
            if parts[0] in self.vars.nodes:
                if self.vars._node(parts) is None:
                    # ABSENT local subpath: claim NullType (same
                    # reasoning as the row-path read below — a string
                    # claim makes map_values/merge reject programs
                    # whose optional inputs are missing, e.g.
                    # gcp_audit's authn_info.serviceAccountDelegationInfo)
                    return self.vars.get(parts), T.NullType()
                return (
                    self.vars.get(parts),
                    self.vars.get_type(parts) or T.StringType(),
                )
        if isinstance(e, ast.Fn) and e.name == "__stmt_block":
            # value block with statements: run them in an isolated
            # locals scope, value is the trailing expression
            lam = e.kwargs["fn"]
            return self._compile_lambda(lam)()
        if isinstance(e, ast.Fn) and e.name == "coalesce":
            # `expr ?? { abort }` — abort-the-row on error/null: keep
            # rows where some non-abort arm is non-null, value is the
            # plain coalesce of the remaining arms (S7 abort shape)
            arms = [
                a
                for a in e.args
                if not (isinstance(a, ast.Fn) and a.name == "__abort_block")
            ]
            if len(arms) != len(e.args):
                cols = [self.expr(a) for a in arms]
                value = (
                    F.coalesce(*[c for c, _t2 in cols])
                    if len(cols) > 1
                    else cols[0][0]
                )
                keep = value.isNotNull()
                g = getattr(self, "_cur_guard", None)
                if g is not None:
                    # abort inside `if g { ... }`: VRL never evaluates
                    # the expression when g is false — the row only
                    # drops when the guard actually fired (cloudtrail's
                    # `object!(fields)` under `fields != null`)
                    keep = ~F.coalesce(g, F.lit(False)) | keep
                self.state.filters.append(keep)
                return value, cols[0][1]
        if (
            isinstance(e, ast.Fn)
            and e.name in ("set", "get")
            and len(e.args) >= 2
        ):
            # constant-fold split(lit, lit) path args (zeek's
            # set(.o, split("id.orig_p", "."), v) idiom) so the
            # builder sees a literal multi-segment path
            pa = e.args[1]
            if (
                isinstance(pa, ast.Fn)
                and pa.name == "split"
                and len(pa.args) == 2
                and all(isinstance(x, ast.L) for x in pa.args)
            ):
                parts = str(pa.args[0].value).split(str(pa.args[1].value))
                e = ast.Fn(
                    e.name, e.args[0], ast.L(parts), *e.args[2:], **e.kwargs
                )
        if (
            isinstance(e, ast.Fn)
            and e.name == "flatten"
            and len(e.args) == 1
            and isinstance(e.args[0], ast.Fn)
            and e.args[0].name == "__array"
        ):
            # VRL flatten([scalar, arr, ...]) mixes element kinds —
            # lift non-arrays to singletons and concat (a plain array
            # literal can't hold heterogeneous members in Spark).
            # A null ARRAY member stays an ELEMENT in VRL
            # (flatten([null, "x"]) -> [null, "x"]) while Spark's
            # concat null-propagates (panw threat's
            # `flatten([.related.user, .source.user.name])` with
            # related.user still unset) — so coalesce array members
            # to [null].
            lifted, et = [], T.StringType()
            for a in e.args[0].args:
                c, t = self.expr(a)
                if isinstance(t, T.ArrayType):
                    lifted.append((c, True))
                    if not isinstance(t.elementType, T.NullType):
                        et = t.elementType
                else:
                    lifted.append((F.array(c), False))
                    if not isinstance(t, T.NullType):
                        et = t
            if isinstance(et, T.NullType):
                # all-null members: array<void> breaks array_join and
                # friends downstream (o365 joins a flatten of guarded
                # placeholders) — claim string
                et = T.StringType()
            out_t = T.ArrayType(et)
            null_elem = F.array(F.lit(None)).cast(out_t)
            return (
                F.concat(
                    *[
                        F.coalesce(c.cast(out_t), null_elem)
                        if was_arr
                        else c.cast(out_t)
                        for c, was_arr in lifted
                    ]
                ),
                out_t,
            )
        if isinstance(e, ast.P):
            node = self.state._node(e.parts)
            if node is None:
                # ABSENT path: claim NullType so null-in/null-out
                # guards fire (a string claim here made map_values/
                # merge/get reject programs whose inputs are missing
                # from the probe schema)
                return self.state.get(e.parts), T.NullType()
            return self.state.get(e.parts), self.state.get_type(e.parts) or T.StringType()
        if isinstance(e, ast.L):
            if isinstance(e.value, list):
                # element type from the first NON-null element: VRL
                # nullish lists lead with null (crowdstrike falcon's
                # [null, "", "-", "N/A", "NA"])
                et = next(
                    (
                        _infer_type(v)
                        for v in e.value
                        if v is not None
                    ),
                    T.StringType(),
                )
                out_t = T.ArrayType(et)
                if not e.value:
                    return F.array().cast(out_t), out_t
                return (
                    F.array(*[F.lit(v).cast(et) for v in e.value]),
                    out_t,
                )
            return F.lit(e.value), _infer_type(e.value)
        if isinstance(e, ast.Fn):
            if e.name in ("parse_grok", "parse_groks"):
                # all-literal object-literal args are grok alias DICTS
                # (o365's positional pattern_definitions) — fold raw
                folded = []
                for a in e.args:
                    if (
                        isinstance(a, ast.Fn)
                        and a.name == "__object"
                        and all(isinstance(x, ast.L) for x in a.args)
                    ):
                        vals = [x.value for x in a.args]
                        folded.append(ast.L(dict(zip(vals[0::2], vals[1::2]))))
                    else:
                        folded.append(a)
                e = ast.Fn(e.name, *folded, **e.kwargs)
            args = []
            _prev_ldg = getattr(self, "_lazy_del_guard", None)
            _acc_null = None
            try:
                for a in e.args:
                    if e.name == "coalesce" and args:
                        # `??` evaluates later arms lazily — a del()
                        # there only fires when every earlier arm was
                        # null (same rule as `||`)
                        pc = args[-1][0]
                        if isinstance(pc, Column):
                            pn = pc.isNull()
                            _acc_null = (
                                pn if _acc_null is None else (_acc_null & pn)
                            )
                            self._lazy_del_guard = (
                                _acc_null
                                if _prev_ldg is None
                                else (_prev_ldg & _acc_null)
                            )
                    if isinstance(a, ast.L):
                        # literals reach builders RAW ((value, type)) so
                        # separator/pattern args keep their python string;
                        # functions._c lifts to F.lit when a Column is needed
                        args.append((a.value, _infer_type(a.value)))
                    elif isinstance(
                        a, (ast.P, ast.Fn, ast.BinOp, ast.UnaryOp, ast.Var)
                    ):
                        args.append(self.expr(a))
                    else:
                        args.append((a, None))
            finally:
                self._lazy_del_guard = _prev_ldg
            kwargs = {}
            for k, v in e.kwargs.items():
                if isinstance(v, ast.Lambda):
                    kwargs[k] = self._compile_lambda(v)
                elif isinstance(
                    v, (ast.P, ast.Fn, ast.BinOp, ast.UnaryOp, ast.Var)
                ):
                    # expression-valued kwarg (parse_regex!(value: .x)):
                    # builders get the compiled (Column, type) pair
                    kwargs[k] = self.expr(v)
                else:
                    kwargs[k] = v
            return build_call(e.name, args, kwargs)
        if isinstance(e, ast.BinOp):
            lc, lt = self.expr(e.left)
            if e.op == "|":
                # VRL `||` evaluates the rhs lazily: a del() in the
                # rhs arm must only remove its target when the lhs arm
                # fell through (snyk `del(.CVE) || del(.ALT)` — ALT is
                # read again by a later move). Fall-through happens on
                # null AND, for boolean-typed lhs, on false.
                prev_ldg = getattr(self, "_lazy_del_guard", None)
                g0 = lc.isNull()
                if isinstance(lt, T.BooleanType):
                    g0 = g0 | ~lc
                g = g0 if prev_ldg is None else (prev_ldg & g0)
                self._lazy_del_guard = g
                try:
                    rc, rt = self.expr(e.right)
                finally:
                    self._lazy_del_guard = prev_ldg
            else:
                rc, rt = self.expr(e.right)
            op = e.op
            if (
                op == "|"
                and isinstance(lt, T.VariantType)
                and isinstance(rt, T.VariantType)
            ):
                # both arms schemaless (snyk `del(.CVE) || del(.ALT)`,
                # both arrays at runtime): stay variant so indexing /
                # iteration over the result keeps working
                return F.coalesce(lc, rc), lt
            if op == "|" and isinstance(lt, T.VariantType):
                # `.json.x || <default>`: concretize the schemaless
                # side to the DEFAULT's shape (`|| []` → array,
                # `|| {}` → map, else scalar) so the coalesce and all
                # downstream collection ops type-check
                if isinstance(rt, T.ArrayType):
                    lc = F.try_variant_get(lc, "$", "array<variant>")
                    lt = T.ArrayType(T.VariantType())
                    rc, rt = rc.cast("array<variant>"), lt
                elif isinstance(rt, T.MapType):
                    lc = F.try_variant_get(lc, "$", "map<string,variant>")
                    lt = T.MapType(T.StringType(), T.VariantType())
                    rc, rt = rc.cast("map<string,variant>"), lt
                elif isinstance(rt, T.BooleanType):
                    lc, lt = lc.try_cast("boolean"), T.BooleanType()
            # variants aren't orderable/comparable — concretize by the
            # operator: arithmetic funnels to double (zeek kerberos
            # `.valid.until - .valid.from` on epoch-seconds variants),
            # everything else to string (the pre-variant read behavior)
            if op in ("-", "*", "/", "%"):
                if isinstance(lt, T.VariantType):
                    lc, lt = (
                        F.try_variant_get(lc, "$", "double"),
                        T.DoubleType(),
                    )
                if isinstance(rt, T.VariantType):
                    rc, rt = (
                        F.try_variant_get(rc, "$", "double"),
                        T.DoubleType(),
                    )
            if isinstance(lt, T.VariantType):
                lc, lt = lc.cast("string"), T.StringType()
            if isinstance(rt, T.VariantType):
                rc, rt = rc.cast("string"), T.StringType()
            # VRL `x == null` / `x != null` are IS NULL checks, not SQL
            # three-valued comparisons
            lnull = isinstance(e.left, ast.L) and e.left.value is None
            rnull = isinstance(e.right, ast.L) and e.right.value is None
            if op == "==" and (lnull or rnull):
                return (rc if lnull else lc).isNull(), T.BooleanType()
            if op == "!=" and (lnull or rnull):
                return (rc if lnull else lc).isNotNull(), T.BooleanType()
            # VRL equality is VALUE equality (null is a comparable
            # value): `null != "x"` is true, not SQL-NULL. A
            # string-vs-boolean pair never coerces in VRL (it is just
            # unequal) — Spark's ANSI cast would THROW on a non-bool
            # string (cloudflare audit `.json.ActionResult == true`
            # over a string field), so compare boolean-side as string.
            def _strbool(a, b):
                return isinstance(a, T.StringType) and isinstance(
                    b, T.BooleanType
                )

            if _strbool(lt, rt):
                rc = rc.cast("string")
            elif _strbool(rt, lt):
                lc = lc.cast("string")
            # Same hazard for string-vs-NUMERIC equality: Spark's ANSI
            # implicit cast would THROW on a non-numeric string (panw
            # threat's `.panw.panos.http2_connection != 0` over the
            # parse_csv string "1efed0b4-…"), so for ==/!= compare the
            # numeric side as string — matching numeric text still
            # compares equal, garbage text compares unequal instead of
            # crashing the task.
            # KNOWN SEMANTIC TRADE (documented, deliberate): VRL
            # equality is type-strict — string "0" == int 0 is FALSE
            # there, TRUE here; and "1.0" == 1 is false here (string
            # render) where a numeric compare would match. The engine's
            # static string type often comes from a VARIANT degrade
            # (line above) where the VRL runtime value may genuinely be
            # a number, so type-strict constant-folding would diverge
            # MORE often than this cast does; corpus guards (`!= 0 &&
            # != "0"`) reach the reference outcome either way.
            _num = (
                T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                T.FloatType, T.DoubleType, T.DecimalType,
            )

            def _strnum(a, b):
                return isinstance(a, T.StringType) and isinstance(b, _num)

            if op in ("==", "!="):
                if _strnum(lt, rt):
                    rc = rc.cast("string")
                elif _strnum(rt, lt):
                    lc = lc.cast("string")
            if op == "==":
                return lc.eqNullSafe(rc), T.BooleanType()
            if op == "!=":
                return ~lc.eqNullSafe(rc), T.BooleanType()
            if op == ">":
                return lc > rc, T.BooleanType()
            if op == ">=":
                return lc >= rc, T.BooleanType()
            if op == "<":
                return lc < rc, T.BooleanType()
            if op == "<=":
                return lc <= rc, T.BooleanType()
            if op == "&":
                return lc & rc, T.BooleanType()
            if op == "|":
                # VRL `||` is value-or: lhs unless null/false. Between
                # booleans that's logical OR; with any non-boolean side
                # it's the null-coalesce idiom (`.a || ""`)
                def _boolish(t):
                    return t is None or isinstance(
                        t, (T.BooleanType, T.NullType)
                    )

                if _boolish(lt) and _boolish(rt):
                    return lc | rc, T.BooleanType()
                # `struct || {}` empty-object default: the map arm is
                # a null of the struct type (same rule as ?? — see
                # functions._coalesce)
                if isinstance(lt, T.StructType) and isinstance(rt, T.MapType):
                    return F.coalesce(lc, F.lit(None).cast(lt)), lt
                if isinstance(rt, T.StructType) and isinstance(lt, T.MapType):
                    return F.coalesce(F.lit(None).cast(rt), rc), rt
                # `scalar || []` (gw alert's affectedUserEmails may be
                # synthesized/claimed scalar): VRL keeps the non-null
                # lhs whatever its type — blend as VARIANT so the
                # downstream array!() concretization decides at runtime
                if (
                    isinstance(rt, T.ArrayType)
                    and isinstance(e.right, ast.L)
                    and e.right.value == []
                    and lt is not None
                    and not isinstance(
                        lt,
                        (
                            T.ArrayType,
                            T.MapType,
                            T.StructType,
                            T.VariantType,
                            T.NullType,
                        ),
                    )
                ):
                    return (
                        F.coalesce(
                            lc.cast("variant"), F.to_variant_object(rc)
                        ),
                        T.VariantType(),
                    )
                # `typed_array || []`: the empty-list LITERAL adopts the
                # other arm's element type (okta ipChain — coalescing
                # array<struct> with the default-typed empty array would
                # fail analysis)
                if (
                    isinstance(lt, T.ArrayType)
                    and isinstance(rt, T.ArrayType)
                    and lt != rt
                ):
                    if isinstance(e.right, ast.L) and e.right.value == []:
                        rc, rt = F.array().cast(lt), lt
                    elif isinstance(e.left, ast.L) and e.left.value == []:
                        lc, lt = F.array().cast(rt), rt
                return (
                    F.coalesce(lc, rc),
                    (lt if not isinstance(lt, (T.NullType,)) and lt else rt),
                )
            if op == "+":
                if isinstance(lt, T.StringType) or isinstance(rt, T.StringType):
                    # VRL `+` on strings concatenates
                    return (
                        F.concat(lc.cast("string"), rc.cast("string")),
                        T.StringType(),
                    )
                return lc + rc, lt
            if op == "-":
                return lc - rc, lt
            if op == "*":
                return lc * rc, lt
            if op == "/":
                return lc / rc, T.DoubleType()
            if op == "%":
                return lc % rc, lt
            raise ValueError(f"unknown op {op}")
        if isinstance(e, ast.UnaryOp):
            c, t = self.expr(e.operand)
            if isinstance(t, T.VariantType):
                c = c.try_cast("boolean")
            if e.op == "!":
                return ~c, T.BooleanType()
            raise ValueError(f"unknown unary op {e.op}")
        if isinstance(e, Column):
            return e, T.StringType()
        return F.lit(e), _infer_type(e)

    def run(self, steps: Iterable[ast.Step], cond: Column | None = None) -> None:
        for step in steps:
            self.step(step, cond)

    @staticmethod
    def _is_self_ref(arg: Any, parts: tuple[str, ...], is_var: bool) -> bool:
        """Does `arg` read exactly the assignment target? (push/append
        self-reference detection, for both row paths and locals.)"""
        if not is_var:
            return isinstance(arg, ast.P) and arg.parts == tuple(parts)
        if isinstance(arg, ast.Var):
            return (arg.name,) == tuple(parts)
        if (
            isinstance(arg, ast.Fn)
            and arg.name == "__field"
            and isinstance(arg.args[0], ast.Var)
        ):
            full = (arg.args[0].name,) + ast.split_path(arg.kwargs["path"])
            return full == tuple(parts)
        return False

    def _assign(
        self,
        target,
        parts: tuple[str, ...],
        expr: Any,
        cond: Column | None,
        is_var: bool,
    ) -> None:
        """One assignment against `target` (_RowState row or _VarState
        locals), shared by Assign and LetVar."""
        if (
            isinstance(expr, ast.Fn)
            and expr.name in ("map_values", "map_each")
            and isinstance(expr.kwargs.get("fn"), ast.Lambda)
            and expr.kwargs["fn"].steps
            and len(expr.kwargs["fn"].params) == 1
            and expr.args
            and (
                _has_row_write(expr.kwargs["fn"].steps)
                # ...or mutates an ENCLOSING-scope local (okta target
                # routing: `oktargets.user = v` inside map_values) —
                # a pure transform() lambda would drop the side effect
                or any(
                    r in self.vars.nodes
                    for r in _written_var_roots(expr.kwargs["fn"].steps)
                    if r not in expr.kwargs["fn"].params
                )
            )
        ):
            # a map closure that ALSO mutates row paths (route53's
            # answers rebuild pushes .related.ip per element): desugar
            # to the for_each fold with an accumulator list —
            #   acc = []; for_each(c) -> |i, v| { body; acc.push(val) }
            # so both the mapped array and the row mutations come out
            # of ONE JVM-side aggregate
            lam = expr.kwargs["fn"]
            self._mv_n = getattr(self, "_mv_n", 0) + 1
            tmp = f"__mv_acc_{self._mv_n}"
            body = lam.steps + (
                ast.LetVar(tmp, ast.Fn("push", ast.Var(tmp), lam.body)),
            )
            self.step(ast.LetVar(tmp, ast.L([])), cond)
            self.step(
                ast.ForEach(
                    expr.args[0], (f"__mv_i_{self._mv_n}", *lam.params), body
                ),
                cond,
            )
            value = self.vars.get((tmp,))
            vtype = self.vars.get_type((tmp,)) or T.ArrayType(T.StringType())
            if cond is not None:
                old = target.get(parts)
                oldt = target.get_type(parts)
                if oldt is not None and oldt.simpleString() != vtype.simpleString():
                    # the closure retyped the array; rows outside the
                    # guard can't keep the old shape in a static
                    # column — they null (the declared schema keeps
                    # only the new shape anyway)
                    old = F.lit(None).cast(vtype)
                value = F.when(cond, value).otherwise(old)
            target.set(parts, value, vtype, guarded=cond is not None)
            self.vars.delete((tmp,))
            return
        if not parts:
            # root assignment: `. = merge(., x, deep: true)` (o365's
            # grok-spread idiom) — fold x's top-level fields into the
            # row, deep-merging where both sides are structs
            if (
                isinstance(expr, ast.Fn)
                and expr.name == "merge"
                and expr.args
                and isinstance(expr.args[0], ast.P)
                and expr.args[0].parts == ()
            ):
                xc, xt = self.expr(expr.args[1])
                if not isinstance(xt, T.StructType):
                    raise ValueError("root merge requires a struct value")
                deep = bool(expr.kwargs.get("deep"))
                for f in xt.fields:
                    newc, newt = xc.getField(f.name), f.dataType
                    oldt = target.get_type((f.name,))
                    if (
                        deep
                        and isinstance(oldt, T.StructType)
                        and isinstance(newt, T.StructType)
                    ):
                        newc, newt = _deep_merge(
                            target.get((f.name,)), oldt, newc, newt
                        )
                    if cond is not None:
                        old = target.get((f.name,))
                        if (
                            oldt is not None
                            and not isinstance(oldt, T.NullType)
                            and oldt.simpleString() != newt.simpleString()
                            and isinstance(
                                newt, (T.StructType, T.ArrayType, T.MapType)
                            )
                        ):
                            # guard retypes between complex shapes
                            # (cloudtrail root-merge widens a struct;
                            # vpcflow's 29-token grok branch re-types
                            # aws.vpcflow leaves bigint→string):
                            # struct-struct reshapes field-by-field so
                            # off-guard rows keep their values in the
                            # new leaf types; other shapes null
                            if isinstance(oldt, T.StructType) and isinstance(
                                newt, T.StructType
                            ):
                                old = _reshape_struct(old, oldt, newt)
                            else:
                                old = F.lit(None).cast(newt)
                        newc = F.when(cond, newc).otherwise(old)
                    target.set(
                        (f.name,), newc, newt, guarded=cond is not None
                    )
                return
            raise ValueError("unsupported root (`.`) assignment form")
        # conditional self-append (`if c { .p = push(.p, v) }`) is the
        # dominant shape in managed-source transforms (ECS category/
        # type tagging). The generic form CASE WHEN c THEN push(old,v)
        # ELSE old END embeds `old` twice, doubling the expression per
        # step (2^n over a transform's tag chain). Compile it instead
        # to old ++ compact([CASE WHEN c THEN v END]) — `old` appears
        # once and growth stays linear.
        if (
            cond is not None
            and isinstance(expr, ast.Fn)
            and expr.name in ("push", "append")
            and expr.args
            and self._is_self_ref(expr.args[0], parts, is_var)
        ):
            old = target.get(parts)
            oldt = target.get_type(parts)
            if isinstance(oldt, T.VariantType):
                # the target lives inside a dynamic object (event
                # became map<string,variant> after a ragged-lookup
                # merge): concretize the read to an array of variants
                old = F.try_variant_get(old, "$", "array<variant>")
                oldt = T.ArrayType(T.VariantType())
            v, vt = self.expr(expr.args[1])
            if expr.name == "push":
                et = (
                    oldt.elementType
                    if isinstance(oldt, T.ArrayType)
                    else (vt or T.StringType())
                )
                if isinstance(vt, T.VariantType) and not isinstance(
                    et, (T.VariantType, T.NullType)
                ):
                    # pushing a schemaless value onto a concretely
                    # typed array (duo pushes variant addresses onto
                    # hosts=[]): concretize the element, else Spark
                    # widens the whole array to unorderable variant
                    v = F.try_variant_get(v, "$", et.simpleString())
                elif isinstance(et, T.VariantType) and not isinstance(
                    vt, (T.VariantType, T.NullType)
                ) and vt is not None:
                    # the reverse: concrete value onto a variant array
                    v = v.cast("variant")
                out_t = T.ArrayType(et)
                tail = F.array(v)
            else:  # append: second arg is already an array
                out_t = (
                    oldt
                    if isinstance(oldt, T.ArrayType)
                    else (
                        vt
                        if isinstance(vt, T.ArrayType)
                        else T.ArrayType(
                            T.VariantType()
                            if isinstance(vt, T.VariantType)
                            else T.StringType()
                        )
                    )
                )
                if isinstance(vt, T.VariantType):
                    # schemaless array value (teleport participants):
                    # concretize to the target's element type first
                    v = F.try_variant_get(
                        v, "$", out_t.simpleString()
                    )
                elif (
                    isinstance(vt, T.ArrayType)
                    and isinstance(out_t.elementType, T.VariantType)
                    and not isinstance(vt.elementType, T.VariantType)
                ):
                    v = v.cast("array<variant>")
                elif vt is not None and not isinstance(
                    vt, (T.ArrayType, T.NullType)
                ):
                    # scalar-claimed value: a VRL type-error arm
                    # (append requires arrays) reachable only behind
                    # an is_array guard that is false for this static
                    # shape (teleport audit's participants inferred as
                    # string) — contributes nothing
                    v = F.lit(None).cast(out_t)
                tail = F.coalesce(v, F.array().cast(out_t))
            empty = F.array().cast(out_t)
            # When the guard is FALSE the assignment never ran in
            # VRL: the target keeps its old value (null stays null —
            # NOT coalesced to []). Built so `old` appears ONCE:
            # chained conditional pushes (o365's event.type chain)
            # would otherwise double the expression per step.
            # concat propagates null: old null + guard false →
            # coalesce picks the null branch → whole concat null.
            value = F.concat(
                F.coalesce(old, F.when(cond, empty)),
                F.when(cond, tail).otherwise(empty),
            )
            target.set(parts, value, out_t, guarded=True)
            return
        value, vtype = self.expr(expr)
        if cond is not None:
            value, vtype = self._guard_blend(
                cond, value, vtype, target, parts
            )
        target.set(parts, value, vtype, guarded=cond is not None)

    def _guard_blend(self, cond, value, vtype, target, parts):
        """CASE WHEN cond THEN value ELSE old END with type
        unification — the single blend used by every guarded write
        (Assign, Move, err-destructured assigns)."""
        old = target.get(parts)
        oldt = target.get_type(parts)

        def _complex(t):
            return isinstance(t, (T.StructType, T.ArrayType, T.MapType))

        # a variant arm can't sit in one CASE with a concrete
        # type: concretize the variant side (aws_inspector blends
        # to_timestamp(...) over a variant-read old value; teleport
        # conditionally re-assigns a bigint port from a variant read)
        if (
            isinstance(oldt, T.VariantType)
            and vtype is not None
            and not isinstance(vtype, (T.VariantType, T.NullType))
        ):
            if _complex(vtype):
                # keep the blend VARIANT-typed by lifting the new
                # value: nulling the old arm breaks guarded rebinding
                # chains (o365's `x = if A {[]} else if is_array(x)
                # {x} else {[x]}` — later branches must still see the
                # original value when their guard is the live one)
                value = _lift_variant_object(value, vtype)
                vtype = T.VariantType()
            else:
                old = old.try_cast(vtype)
                oldt = vtype
        elif (
            isinstance(vtype, T.VariantType)
            and oldt is not None
            and not isinstance(oldt, (T.VariantType, T.NullType))
        ):
            old = (
                _lift_variant_object(old, oldt)
                if _complex(oldt)
                else old.cast("variant")
            )
            oldt = vtype

        def _widening_pair(a, b):
            # pairs where Spark's CASE coercion matches VRL intent
            # (the old value keeps its meaning in the widened type)
            dt = (T.DateType, T.TimestampType, T.TimestampNTZType)
            if isinstance(a, dt) and isinstance(b, dt):
                return True
            return isinstance(a, T.NumericType) and isinstance(b, T.NumericType)

        if (
            oldt is not None
            and vtype is not None
            and not isinstance(oldt, T.NullType)
            and not isinstance(vtype, T.NullType)
            and oldt.simpleString() != vtype.simpleString()
            and not _widening_pair(oldt, vtype)
        ):
            # the guard RETYPES the path (gw login's events[0]
            # array→struct rebind, falcon's bigint→timestamp,
            # suricata's flow_id int→string). Complex rebinds null
            # the off-guard arm; scalar rebinds TRY_CAST the old
            # value to the NEW type — letting CASE coerce instead is
            # wrong both ways (ANSI coerces string+bigint toward
            # BIGINT, silently undoing a to_string! write) — and the
            # cast keeps the pre-write value readable for an
            # else-branch that re-reads the path (falcon's epoch
            # seconds/millis dichotomy; state threads linearly).
            # Numeric/datetime widening pairs keep the blend.
            if (
                isinstance(vtype, T.MapType)
                and isinstance(vtype.valueType, T.VariantType)
                and isinstance(oldt, (T.StructType, T.MapType))
            ):
                # struct/map → dynamic-object rebind (cloudtrail's
                # guarded `.event = merge(.event, object!(fields),
                # deep: true)`): the off-guard arm must KEEP the old
                # object, converted to the same map form — nulling it
                # wipes every pre-merge field for rows the guard
                # skipped
                old = F.try_variant_get(
                    F.to_variant_object(old), "$", "map<string,variant>"
                )
            elif isinstance(oldt, T.StructType) and isinstance(
                vtype, T.StructType
            ):
                # struct → wider/re-shaped struct (guarded self-merge
                # where the lookup value is a typed literal): rebuild
                # the old value field-by-field in the NEW shape so the
                # off-guard arm keeps every pre-merge field
                old = _reshape_struct(old, oldt, vtype)
            elif isinstance(vtype, T.ArrayType) and (
                not _complex(oldt) or isinstance(oldt, T.ArrayType)
            ):
                # scalar → array and array → differently-shaped array
                # rebinds (o365's `x = if x == null {[]} else if
                # is_array(x) {x} else {[x]}` chain): later branches
                # RE-READ the original value, so nulling the off-guard
                # arm breaks the chain — blend as VARIANT, each arm
                # keeping its runtime kind
                value = _lift_variant_object(value, vtype)
                old = (
                    _lift_variant_object(old, oldt)
                    if _complex(oldt)
                    else old.cast("variant")
                )
                vtype = T.VariantType()
            elif _complex(oldt) or _complex(vtype):
                old = F.lit(None).cast(vtype)
            else:
                old = old.try_cast(vtype)
        return F.when(cond, value).otherwise(old), vtype

    # -- for_each: closure loop → one JVM-side fold ---------------------
    @staticmethod
    def _loop_targets(steps, outer_vars: set[str], params: set[str]):
        """The loop's ACCUMULATOR targets: row paths it assigns, plus
        locals that exist before the loop (VRL closures mutate outer
        variables in place — okta's curr_key carries across
        iterations). Locals first assigned inside the body (and
        closure params) are per-iteration temporaries, not state."""
        found: list[tuple[bool, tuple[str, ...]]] = []

        def add(is_var: bool, path: str):
            key = (is_var, ast.split_path(path))
            if key not in found:
                found.append(key)

        def walk(ss):
            for s in ss:
                if isinstance(s, ast.Assign):
                    add(False, s.path)
                elif isinstance(s, ast.Move):
                    add(False, s.dst)
                elif isinstance(s, ast.LetVar):
                    add(True, s.path)
                elif isinstance(s, ast.LetErr):
                    if s.val_path:
                        add(True, s.val_path)
                    if s.err_path:
                        add(True, s.err_path)
                elif isinstance(s, ast.When):
                    walk(s.steps)
                    walk(s.orelse)
                elif isinstance(s, ast.ForEach):
                    walk(s.steps)
                elif isinstance(s, ast.Delete) and s.var:
                    root = ast.split_path(s.path)[0]
                    if root in params or root not in outer_vars:
                        # per-iteration temporary delete (okta target
                        # closure `del(v.detailEntry)`) — the body
                        # compiler tombstones it; not an accumulator
                        continue
                    raise ValueError(
                        "del of an outer local inside for_each is not supported"
                    )
                elif isinstance(s, (ast.AbortIf, ast.Delete)):
                    raise ValueError(
                        "abort/del inside for_each is not supported"
                    )
        walk(steps)
        out = []
        for is_var, parts in found:
            if is_var and (parts[0] in params or parts[0] not in outer_vars):
                continue  # per-iteration temporary
            out.append((is_var, parts))
        # drop targets shadowed by a strict-prefix target (same space)
        return [
            (iv, p)
            for iv, p in out
            if not any(
                iv == iv2 and len(p2) < len(p) and p[: len(p2)] == p2
                for iv2, p2 in out
            )
        ]

    def _for_each(self, fe: ast.ForEach, cond: Column | None) -> None:
        """Compile `for_each(coll) -> |i_or_k, v| { steps }` to ONE
        F.aggregate fold: the accumulator is a struct holding every
        mutated outer target (+ the element index), the merge lambda
        compiles the body against a sub-scope whose target reads come
        from the accumulator and whose other reads are loop-invariant
        outer columns. Two passes: pass 1 compiles with untyped
        accumulator fields to DISCOVER each target's steady-state type
        (e.g. `.dns.answers = []` then push(struct) ⇒ array<struct>),
        pass 2 builds the final fold with stable accumulator types.
        Stays entirely JVM-side — no UDF, no shuffle."""
        coll_c, coll_t = self.expr(fe.coll)
        if isinstance(coll_t, T.VariantType):
            # schemaless `.json.x` iteration: VRL iterates arrays AND
            # objects with the same two-param closure. Concretize to
            # the object form (map<string,variant>) when the variant
            # holds an object, else the array form — statically we
            # pick by probing both; the array extraction is null for
            # objects and vice versa, so coalescing the two entry
            # lists is exact.
            as_map = F.try_variant_get(coll_c, "$", "map<string,variant>")
            as_arr = F.try_variant_get(coll_c, "$", "array<variant>")
            # struct<key,variant> entries aren't orderable — sort by
            # key via comparator (VRL object iteration is key-ordered)
            _k = lambda e: e.getField("key")  # noqa: E731
            coll_c = F.coalesce(
                F.array_sort(
                    F.map_entries(as_map),
                    lambda a, b: F.when(_k(a) < _k(b), -1)
                    .when(_k(a) > _k(b), 1)
                    .otherwise(0),
                ),
                F.transform(
                    as_arr,
                    lambda v: F.struct(
                        F.lit(None).cast("string").alias("key"), v.alias("value")
                    ),
                ),
            )
            coll_t = T.ArrayType(
                T.StructType(
                    [
                        T.StructField("key", T.StringType()),
                        T.StructField("value", T.VariantType()),
                    ]
                )
            )
            entries = coll_c
            elem_t = coll_t.elementType
            is_object = True
        elif isinstance(coll_t, T.MapType):
            # VRL object iteration is key-ordered (BTreeMap); sort by
            # KEY via comparator — entry structs with variant/complex
            # values aren't orderable as a whole
            _k = lambda e: e.getField("key")  # noqa: E731
            entries = F.array_sort(
                F.map_entries(coll_c),
                lambda a, b: F.when(_k(a) < _k(b), -1)
                .when(_k(a) > _k(b), 1)
                .otherwise(0),
            )
            elem_t: T.DataType = T.StructType(
                [
                    T.StructField("key", coll_t.keyType),
                    T.StructField("value", coll_t.valueType),
                ]
            )
            is_object = True
        elif isinstance(coll_t, T.StructType):
            vt = (
                coll_t.fields[0].dataType
                if coll_t.fields
                and len({f.dataType.simpleString() for f in coll_t.fields}) == 1
                else T.StringType()
            )
            entries = F.array(
                *[
                    F.struct(
                        F.lit(f.name).alias("key"),
                        coll_c.getField(f.name).cast(vt).alias("value"),
                    )
                    for f in sorted(coll_t.fields, key=lambda f: f.name)
                ]
            )
            elem_t = T.StructType(
                [
                    T.StructField("key", T.StringType()),
                    T.StructField("value", vt),
                ]
            )
            is_object = True
        else:
            if coll_t is not None and not isinstance(
                coll_t, (T.ArrayType, T.NullType)
            ):
                # statically-scalar collection: the guard around the
                # loop (is_array(...)) is false for such rows, so the
                # loop body is dead — iterate an empty array instead
                # of failing analysis (route53 answers synthesized as
                # a string leaf)
                coll_c = F.array().cast("array<string>")
                coll_t = T.ArrayType(T.StringType())
            entries = coll_c
            elem_t = (
                coll_t.elementType
                if isinstance(coll_t, T.ArrayType)
                else T.StringType()
            )
            is_object = False

        targets = self._loop_targets(
            fe.steps, set(self.vars.nodes), set(fe.params)
        )
        inits = []
        for is_var, parts in targets:
            st = self.vars if is_var else self.state
            inits.append((st.get(parts), st.get_type(parts)))

        def run_body(acc, elem, acc_types):
            """Compile the body in a sub-scope; returns per-target
            (Column, DataType) results."""
            sub_state = _RowState.__new__(_RowState)
            sub_state.nodes = {
                k: _copy_node(v) for k, v in self.state.nodes.items()
            }
            sub_state.filters = []
            sub_state.rest = self.state.rest
            sub_state.tombstones = set(self.state.tombstones)
            sub_vars = _VarState(
                {k: _copy_node(v) for k, v in self.vars.nodes.items()}
            )
            for i, (is_var, parts) in enumerate(targets):
                st = sub_vars if is_var else sub_state
                st.set(parts, acc.getField(f"t{i}"), acc_types[i])
            if is_object:
                binds = [
                    (elem.getField("key"), elem_t["key"].dataType),
                    (elem.getField("value"), elem_t["value"].dataType),
                ]
            else:
                binds = [
                    (acc.getField("__i"), T.IntegerType()),
                    (elem, elem_t),
                ]
            for p, (c, t) in zip(fe.params, binds):
                sub_vars.nodes[p] = _Leaf(c, t)
            sub = Compiler(sub_state, sub_vars)
            sub.run(fe.steps)
            out = []
            for is_var, parts in targets:
                st = sub_vars if is_var else sub_state
                out.append((st.get(parts), st.get_type(parts)))
            return out

        # pass 1: discover steady-state accumulator types, priming acc
        # fields with their INIT types (an untyped prime makes Var
        # reads claim string, turning `n + 1` into a concat); the
        # push-element refinement below still lets `[]` placeholders
        # re-type to array<struct> when the body pushes structs
        probe = run_body(
            F.lit(None), F.lit(None).cast(elem_t.simpleString())
            if not isinstance(elem_t, T.StringType)
            else F.lit(None).cast("string"),
            [it for (_ic, it) in inits],
        )
        acc_types: list[T.DataType] = []
        for (_c0, discovered), (_i0, init_t) in zip(probe, inits):
            t = discovered
            if t is None or isinstance(t, T.NullType):
                t = init_t
            if t is None or isinstance(t, T.NullType):
                t = T.StringType()
            acc_types.append(t)

        # pass 2: the real fold with stable types
        def zero_field(init_c, init_t, t):
            if init_t is not None and init_t.simpleString() == t.simpleString():
                # cast anyway: a python-literal init (j = 1) may carry a
                # narrower physical type than its declared DataType
                return init_c.cast(t)
            if isinstance(t, T.ArrayType) and isinstance(init_t, T.ArrayType):
                return F.array().cast(t)  # `[]` re-typed by the body
            if (
                init_t is None
                or isinstance(init_t, T.NullType)
                or (isinstance(init_t, T.StructType) and not init_t.fields)
            ):
                return F.lit(None).cast(t)
            # struct init whose steady state is a dynamic object (fdr
            # re-types .crowdstrike via set!() in the loop body):
            # funnel the struct to map<string,variant>, keeping nested
            # objects intact (a direct cast is illegal)
            if (
                isinstance(init_t, T.StructType)
                and isinstance(t, T.MapType)
                and isinstance(t.valueType, T.VariantType)
            ):
                return F.map_from_arrays(
                    F.array(*[F.lit(f.name) for f in init_t.fields]),
                    F.array(
                        *[
                            (
                                F.to_variant_object(init_c.getField(f.name))
                                if isinstance(
                                    f.dataType,
                                    (T.StructType, T.ArrayType, T.MapType),
                                )
                                else init_c.getField(f.name).cast("variant")
                            )
                            for f in init_t.fields
                        ]
                    ),
                )
            # scalar init vs complex steady state (okta: oktargets
            # primed `{}` reads as a string through the dynamic-object
            # map, body assigns a struct): uncastable — null-init
            if isinstance(t, (T.StructType, T.ArrayType, T.MapType)) != (
                isinstance(init_t, (T.StructType, T.ArrayType, T.MapType))
            ):
                return F.lit(None).cast(t)
            return init_c.cast(t)

        zero = F.struct(
            *[
                zero_field(ic, it, t).alias(f"t{i}")
                for i, ((ic, it), t) in enumerate(zip(inits, acc_types))
            ],
            F.lit(0).cast("int").alias("__i"),
        )

        def merge(acc, elem):
            results = run_body(acc, elem, acc_types)
            return F.struct(
                *[
                    rc.cast(t).alias(f"t{i}")
                    for i, ((rc, _rt), t) in enumerate(
                        zip(results, acc_types)
                    )
                ],
                (acc.getField("__i") + 1).alias("__i"),
            )

        safe_entries = F.coalesce(
            entries, F.array().cast(T.ArrayType(elem_t).simpleString())
        )
        folded = F.aggregate(safe_entries, zero, merge)
        for i, ((is_var, parts), t) in enumerate(zip(targets, acc_types)):
            st = self.vars if is_var else self.state
            value = folded.getField(f"t{i}")
            if cond is not None:
                old = st.get(parts)
                oldt = st.get_type(parts)
                if oldt is not None and oldt.simpleString() != t.simpleString():
                    # the pre-loop value was a same-scope placeholder
                    # (`.x = []`) the body re-typed; outside the guard
                    # neither assignment ran — the path is absent
                    old = F.lit(None).cast(t)
                value = F.when(cond, value).otherwise(old)
            st.set(parts, value, t, guarded=cond is not None)

    def step(self, step: ast.Step, cond: Column | None) -> None:
        prev_guard = getattr(self, "_cur_guard", None)
        self._cur_guard = cond
        try:
            r = self._step(step, cond)
        finally:
            self._cur_guard = prev_guard
        # flush expression-position del()s queued by __del_read: the
        # removal happens after the statement that read the value,
        # under the statement guard AND any lazy-arm (`||`/`??`) guard.
        # Mirror Move's `dst != src` rule: when the del target overlaps
        # the statement's own write destination, VRL dels FIRST and the
        # assign re-creates the path — flushing after the write would
        # clobber the just-written value (`.a = upcase!(del(.a))`)
        tgt = None
        if isinstance(step, ast.Assign):
            tgt = (False, ast.split_path(step.path))
        elif isinstance(step, ast.LetVar):
            tgt = (True, ast.split_path(step.path))
        elif isinstance(step, ast.Move):
            tgt = (False, ast.split_path(step.dst))
        elif isinstance(step, ast.LetErr) and step.val_path:
            tgt = (not step.val_row, ast.split_path(step.val_path))
        self._flush_pending(cond, tgt)
        return r

    def _flush_pending(
        self,
        cond: Column | None,
        skip_tgt: tuple[bool, tuple] | None = None,
    ) -> None:
        pending = getattr(self, "_pending_dels", None)
        if not pending:
            return
        self._pending_dels = []
        for dstep, extra in pending:
            if skip_tgt is not None and dstep.var == skip_tgt[0]:
                dparts = ast.split_path(dstep.path)
                tparts = skip_tgt[1]
                n = min(len(dparts), len(tparts))
                if n and tuple(dparts[:n]) == tuple(tparts[:n]):
                    continue
            c2 = cond
            if extra is not None:
                c2 = extra if c2 is None else (c2 & extra)
            self._step(dstep, c2)

    def _step(self, step: ast.Step, cond: Column | None) -> None:
        s = self.state
        if isinstance(step, ast.LetVar):
            self._assign(
                self.vars, ast.split_path(step.path), step.expr, cond, True
            )
            return
        if isinstance(step, ast.LetErr):
            vc, vt = self.expr(step.expr)
            if step.val_path:
                target = self.state if step.val_row else self.vars
                parts = ast.split_path(step.val_path)
                val = vc
                if cond is not None:
                    val, vt = self._guard_blend(
                        cond, vc, vt, target, parts
                    )
                target.set(parts, val, vt, guarded=cond is not None)
            if step.err_path:
                err = F.when(vc.isNull(), F.lit("error"))
                if cond is not None:
                    err = F.when(cond & vc.isNull(), F.lit("error"))
                self.vars.set(
                    ast.split_path(step.err_path), err, T.StringType()
                )
            return
        if isinstance(step, ast.ForEach):
            self._for_each(step, cond)
            return
        if isinstance(step, ast.Multi):
            for sub in step.steps:
                self.step(sub, cond)
            return
        if isinstance(step, ast.ExprStmt):
            # bare call statement: VRL evaluates + discards; with
            # infallible try_* builders this has no row effect — except
            # the abort-block coalesce, which expr() registers itself
            self.expr(step.expr)
            return
        if isinstance(step, ast.Assign):
            self._assign(s, ast.split_path(step.path), step.expr, cond, False)
        elif isinstance(step, ast.Move):
            dst = ast.split_path(step.dst)
            src = ast.split_path(step.src)
            value = s.get(src)
            vtype = s.get_type(src) or T.StringType()
            if not dst:
                # root move `. = del(.json)` (matano_alerts): spread
                # the struct's fields to top level, then drop it
                if cond is not None:
                    raise ValueError("conditional root move is not supported")
                if isinstance(vtype, T.VariantType):
                    # schemaless payload spread: later top-level reads
                    # resolve dynamically through the root remainder
                    s.delete(src)
                    s.rest = value
                    return
                if not isinstance(vtype, T.StructType):
                    raise ValueError("root move requires a struct source")
                for fld in vtype.fields:
                    s.set(
                        (fld.name,), value.getField(fld.name), fld.dataType
                    )
                s.delete(src)
                return
            if cond is not None:
                value, vtype = self._guard_blend(
                    cond, value, vtype, s, dst
                )
            s.set(dst, value, vtype, guarded=cond is not None)
            if cond is None and dst != src:
                # `.x = del(.x)` keeps the value (VRL: del returns the
                # old value, the assign puts it straight back — panw's
                # `.message = del(.message)` idiom); deleting after
                # the set would drop the just-written node
                s.delete(src)
        elif isinstance(step, ast.Delete):
            if step.var:
                vparts = ast.split_path(step.path)
                if cond is not None:
                    # expression-position del(local) inside a guard:
                    # only matching rows lose the value — blend with
                    # the old (same rule as the row-path branch below)
                    if self.vars._node(vparts) is not None:
                        old = self.vars.get(vparts)
                        t = self.vars.get_type(vparts) or T.StringType()
                        self.vars.set(
                            vparts,
                            F.when(cond, F.lit(None).cast(t)).otherwise(old),
                            t,
                            guarded=True,
                        )
                    return
                self.vars.delete(vparts)
                return
            parts = ast.split_path(step.path)
            if cond is not None:
                # VRL del under if removes the key for matching rows;
                # the static output schema keeps the column, so the
                # analog is null-where-guard (null-uniform at rest —
                # SURVEY §7 compact() semantics)
                if s._node(parts) is not None:
                    old = s.get(parts)
                    t = s.get_type(parts) or T.StringType()
                    # guarded=True: in dynamic-object form the key
                    # then drops exactly when the del ran (value
                    # null) — true VRL del, not just a null value
                    s.set(
                        parts,
                        F.when(cond, F.lit(None).cast(t)).otherwise(old),
                        t,
                        guarded=True,
                    )
                return
            s.delete(parts)
        elif isinstance(step, ast.AbortIf):
            c, _ = self.expr(step.cond)
            # a del() inside the condition expression fires for every
            # row the condition was evaluated on — flush it under the
            # ENCLOSING guard, not under the abort outcome
            self._flush_pending(cond)
            if cond is not None:
                c = cond & c
            s.filters.append(~F.coalesce(c, F.lit(False)))
        elif isinstance(step, ast.When):
            c, _ = self.expr(step.cond)
            # same: condition-expression dels are unconditional w.r.t.
            # the branch outcome — flush before entering the bodies so
            # they don't inherit the first branch statement's guard
            self._flush_pending(cond)
            c = F.coalesce(c, F.lit(False))
            inner = c if cond is None else (cond & c)
            self.run(step.steps, inner)
            if step.orelse:
                neg = ~c if cond is None else (cond & ~c)
                self.run(step.orelse, neg)
        else:
            raise TypeError(f"unknown step {step!r}")


def _flatten_whens(steps, guard: str | None = None, counter=None):
    """Rewrite `When` trees into hoisted boolean guard LOCALS plus
    per-step singleton Whens, so the chunked compile's projection
    boundaries can fall INSIDE branch bodies. A 30-assign event_type
    branch (suricata eve) otherwise compiles as ONE unsplittable step
    whose shared cond/value DAGs re-expand per use and blow the
    driver heap at Column→Catalyst conversion.

    Semantics preserved exactly: the guard local is evaluated at the
    When's position (before any body write can mutate what the cond
    reads), the else-guard is parent && !coalesce(cond, false) —
    matching Compiler.run's `inner`/`neg` composition — and each body
    step compiles through the same guarded-write machinery it always
    did, just with a cheap Var-ref cond. ForEach/Lambda bodies are
    untouched (they compile to folds, not sequential writes)."""
    if counter is None:
        counter = itertools.count()
    out = []
    for s in steps:
        if isinstance(s, ast.When):
            n = next(counter)
            cn = f"__wg{n}_c"
            out.append(ast.LetVar(cn, ast.Fn("__bool_guard", s.cond)))

            def conj(e):
                return e if guard is None else ast.BinOp("&", ast.Var(guard), e)

            gt = f"__wg{n}_t"
            out.append(ast.LetVar(gt, conj(ast.Var(cn))))
            out.extend(_flatten_whens(s.steps, gt, counter))
            if s.orelse:
                ge = f"__wg{n}_e"
                out.append(
                    ast.LetVar(ge, conj(ast.UnaryOp("!", ast.Var(cn))))
                )
                out.extend(_flatten_whens(s.orelse, ge, counter))
        elif guard is None:
            out.append(s)
        else:
            out.append(ast.When(ast.Var(guard), (s,)))
    return out


def _is_root_assign(s) -> bool:
    """True for `. = <expr>` steps (and their When/Multi wrappers) —
    the root-spread shape the chunker must isolate."""
    if isinstance(s, ast.Assign) and not s.path:
        return True
    if isinstance(s, ast.When):
        return any(_is_root_assign(x) for x in s.steps) or any(
            _is_root_assign(x) for x in s.orelse
        )
    if isinstance(s, ast.Multi):
        return any(_is_root_assign(x) for x in s.steps)
    return False


# Function families whose COMPILED Column form is expensive per
# evaluation (regex engines, JSON round-trips, multi-group extraction,
# closure folds). Their AST is compact (weight ~5-10, indistinguishable
# from a rename), but any later statement in the same chunk that reads
# the written value re-inlines the whole tree — and Catalyst's
# subexpression elimination cannot deduplicate them because the copies
# sit under conditional branches (the When/otherwise guard blends), so
# EVERY copy re-executes per row (measured: msft aad_signinlogs'
# recursive map_keys re-parsed its JSON 126× per row, 279 s for a
# 6k-row input; isolated, 3.6 s). The chunker gives each such
# statement its own chunk, so the boundary projection names its value
# once and every later read is a column reference.
_EXPENSIVE_FNS = frozenset(
    {
        "parse_grok",
        "parse_groks",
        "grok",
        "parse_regex",
        "parse_regex_all",
        "parse_key_value",
        "parse_csv",
        "parse_xml",
        "parse_cef",
        "parse_syslog",
        "parse_aws_vpc_flow_log",
        "parse_json",
        "parse_user_agent",
        "parse_url",
        "map_keys",
        "map_values",
    }
)


def _contains_expensive(o) -> bool:
    if isinstance(o, (tuple, list)):
        return any(_contains_expensive(x) for x in o)
    if isinstance(o, ast.Fn):
        if o.name in _EXPENSIVE_FNS:
            return True
        return _contains_expensive(o.args) or _contains_expensive(
            tuple(o.kwargs.values())
        )
    if isinstance(o, ast.BinOp):
        return _contains_expensive(o.left) or _contains_expensive(o.right)
    if isinstance(o, ast.UnaryOp):
        return _contains_expensive(o.operand)
    if isinstance(o, ast.Lambda):
        return _contains_expensive(o.body) or _contains_expensive(o.steps)
    if isinstance(o, ast.ForEach):
        return True  # loop folds embed their body per iteration
    if isinstance(o, ast.Assign):
        return _contains_expensive(o.expr)
    if isinstance(o, ast.LetVar):
        return _contains_expensive(o.expr)
    if isinstance(o, ast.LetErr):
        return _contains_expensive(o.expr)
    if isinstance(o, ast.When):
        return (
            _contains_expensive(o.cond)
            or _contains_expensive(o.steps)
            or _contains_expensive(o.orelse)
        )
    if isinstance(o, ast.Multi):
        return _contains_expensive(o.steps)
    if isinstance(o, ast.ExprStmt):
        return _contains_expensive(o.expr)
    return False


def _writes_value(s) -> bool:
    """True when the statement stores a value later statements can
    read (isolation is pointless for pure filters/deletes)."""
    if isinstance(s, (ast.Assign, ast.LetVar, ast.Move, ast.Enrich)):
        return True
    if isinstance(s, ast.LetErr):
        return bool(s.val_path or s.err_path)
    if isinstance(s, ast.When):
        return any(_writes_value(x) for x in s.steps) or any(
            _writes_value(x) for x in s.orelse
        )
    if isinstance(s, (ast.Multi, ast.ForEach)):
        return any(_writes_value(x) for x in s.steps)
    return False


def _is_expensive(s) -> bool:
    return _writes_value(s) and _contains_expensive(s)


def _stmt_rw(s):
    """(touched_rows, touched_vars, row_writes, var_writes) of one
    statement — the chunker's read-after-expensive-write test.
    `touched` includes writes and dels: a nested write or del on an
    expensively-written map REBUILDS it (map_concat/map_filter over
    the old value), i.e. reads it."""
    from matano_spark.transform.slice import _Effects, _stmt_effects

    fx = _Effects()
    _stmt_effects(s, fx)
    row_writes = set(fx.row_writes) | set(fx.row_dels)
    if fx.writes_all:
        row_writes.add(())
    var_writes = fx.var_writes | fx.var_dels
    return (
        fx.row_reads | row_writes,
        fx.var_reads | var_writes,
        row_writes,
        var_writes,
    )


def _paths_overlap(a: set, b: set) -> bool:
    for p in a:
        for q in b:
            n = min(len(p), len(q))
            if p[:n] == q[:n]:
                return True
    return False


def _self_rebuild_root(s) -> tuple | None:
    """2-segment root key when the statement rebuilds a row-path value
    IN PLACE — a dynamic `set!` whose expression reads its own write
    target, or a nested (≥3-segment) del. On a variant-map node each
    such statement nests the previous value EXPRESSION (map_concat /
    map_filter over the old map, referenced 2-3×), so a run of them in
    one chunk grows the Column tree multiplicatively: zeek smb_cmd's
    14 `set(.zeek.smb_cmd, split("referenced_file.x","."), …)` + del
    pairs cost 370 s of analysis in one 12-step chunk vs ~20 s with
    boundaries. The chunker caps same-root rebuilds per chunk."""
    if isinstance(s, ast.Delete) and not s.var:
        parts = ast.split_path(s.path)
        return tuple(parts[:2]) if len(parts) >= 3 else None
    target = expr = None
    if isinstance(s, ast.Assign):
        target, expr = ast.split_path(s.path), s.expr
    elif isinstance(s, ast.LetErr) and s.val_path and s.val_row:
        target, expr = ast.split_path(s.val_path), s.expr
    if not target or expr is None:
        return None
    from matano_spark.transform.slice import _Effects, _expr as _slice_expr

    fx = _Effects()
    _slice_expr(expr, fx)
    for rp in fx.row_reads:
        n = min(len(rp), len(target))
        if n and tuple(rp[:n]) == tuple(target[:n]):
            return tuple(target[:2])
    return None


def _ast_weight(o) -> int:
    """Rough AST node count — the static 'this chunk could explode at
    analysis' signal for the chunk-growth probe. Plain literal values
    (the fdr mappings dict) count 0: they never expand into the plan
    tree. Caches nothing; callers size only small windows."""
    from dataclasses import fields as _dcf, is_dataclass as _isdc

    if isinstance(o, (tuple, list)):
        return sum(_ast_weight(x) for x in o)
    if isinstance(o, ast.L):
        return 1
    if _isdc(o) and not isinstance(o, type):
        return 1 + sum(_ast_weight(getattr(o, f.name)) for f in _dcf(o))
    if isinstance(o, dict):
        return sum(_ast_weight(v) for v in o.values())
    return 0


def _read_vars(obj, acc: set) -> set:
    """Collect local-variable names READ by the given steps/exprs —
    the liveness set used to prune dead locals at chunk boundaries
    (every flattened When leaves behind guard locals that die two
    steps later; carrying them all makes boundary projections wide
    and reanalysis quadratic). Conservative: closure params are not
    excluded, nested local writes count as reads of their root (a
    subpath assign merges into the existing value)."""
    if isinstance(obj, (tuple, list)):
        for x in obj:
            _read_vars(x, acc)
    elif isinstance(obj, ast.Var):
        acc.add(obj.name.split(".")[0].split("[")[0])
    elif isinstance(obj, ast.Fn):
        _read_vars(obj.args, acc)
        _read_vars(tuple(obj.kwargs.values()), acc)
    elif isinstance(obj, ast.BinOp):
        _read_vars(obj.left, acc)
        _read_vars(obj.right, acc)
    elif isinstance(obj, ast.UnaryOp):
        _read_vars(obj.operand, acc)
    elif isinstance(obj, ast.Lambda):
        _read_vars(obj.body, acc)
        _read_vars(obj.steps, acc)
    elif isinstance(obj, ast.Assign):
        _read_vars(obj.expr, acc)
    elif isinstance(obj, ast.Delete):
        if obj.var:
            acc.add(ast.split_path(obj.path)[0])
    elif isinstance(obj, ast.AbortIf):
        _read_vars(obj.cond, acc)
    elif isinstance(obj, ast.When):
        _read_vars(obj.cond, acc)
        _read_vars(obj.steps, acc)
        _read_vars(obj.orelse, acc)
    elif isinstance(obj, ast.LetVar):
        parts = ast.split_path(obj.path)
        if len(parts) > 1:
            acc.add(parts[0])
        _read_vars(obj.expr, acc)
    elif isinstance(obj, ast.LetErr):
        if obj.val_path and not obj.val_row:
            parts = ast.split_path(obj.val_path)
            if len(parts) > 1:
                acc.add(parts[0])
        _read_vars(obj.expr, acc)
    elif isinstance(obj, ast.ExprStmt):
        _read_vars(obj.expr, acc)
    elif isinstance(obj, ast.Multi):
        _read_vars(obj.steps, acc)
    elif isinstance(obj, ast.ForEach):
        _read_vars(obj.coll, acc)
        _read_vars(obj.steps, acc)

        # loop accumulators read their pre-loop value even when the
        # body write is a whole-path LetVar — count every body write
        # target as a read (conservative; params just over-carry)
        def targets(ss):
            for s in ss:
                if isinstance(s, ast.LetVar):
                    acc.add(ast.split_path(s.path)[0])
                elif isinstance(s, ast.LetErr) and s.val_path and not s.val_row:
                    acc.add(ast.split_path(s.val_path)[0])
                elif isinstance(s, ast.When):
                    targets(s.steps)
                    targets(s.orelse)
                elif isinstance(s, ast.ForEach):
                    targets(s.steps)
                elif isinstance(s, ast.Multi):
                    targets(s.steps)

        targets(obj.steps)
    return acc


def _const_var_names(steps) -> set:
    """Names of locals that are PURE LITERALS for the whole stage:
    every write is an unconditional top-level LetVar whose expression
    references no row path (P), no closure, no raw Column, and only
    other const locals. Such locals are row-independent, so chunk
    boundaries carry their expression objects symbolically instead of
    spilling them as columns — crowdstrike fdr's ~1000-entry mappings
    literal would otherwise be re-materialized into EVERY boundary
    projection (quadratic reanalysis) and string-coerced on the way."""
    PURE_PY = (str, int, float, bool, bytes, type(None), list, dict, tuple)

    def expr_pure(e, const):
        if isinstance(e, ast.L):
            return True
        if isinstance(e, ast.Var):
            return e.name.split(".")[0].split("[")[0] in const
        if isinstance(e, ast.Fn):
            return all(expr_pure(a, const) for a in e.args) and all(
                expr_pure(v, const) for v in e.kwargs.values()
            )
        if isinstance(e, ast.BinOp):
            return expr_pure(e.left, const) and expr_pure(e.right, const)
        if isinstance(e, ast.UnaryOp):
            return expr_pure(e.operand, const)
        if isinstance(e, (ast.P, ast.Lambda)):
            return False
        # plain python literal (kwargs like pattern="...", raw lists)
        return isinstance(e, PURE_PY) and not isinstance(e, Column)

    top_writes: dict[str, list] = {}
    tainted: set = set()

    def taint_writes(ss):
        for s in ss:
            if isinstance(s, ast.LetVar):
                tainted.add(ast.split_path(s.path)[0])
            elif isinstance(s, ast.LetErr) and s.val_path and not s.val_row:
                tainted.add(ast.split_path(s.val_path)[0])
            elif isinstance(s, ast.Delete) and s.var:
                tainted.add(ast.split_path(s.path)[0])
            elif isinstance(s, ast.When):
                taint_writes(s.steps)
                taint_writes(s.orelse)
            elif isinstance(s, (ast.ForEach, ast.Multi)):
                taint_writes(s.steps)

    for s in steps:
        if isinstance(s, ast.LetVar):
            parts = ast.split_path(s.path)
            if len(parts) == 1:
                top_writes.setdefault(parts[0], []).append(s.expr)
            else:
                tainted.add(parts[0])
        elif isinstance(s, ast.LetErr) and s.val_path and not s.val_row:
            tainted.add(ast.split_path(s.val_path)[0])
        elif isinstance(s, ast.Delete) and s.var:
            tainted.add(ast.split_path(s.path)[0])
        elif isinstance(s, ast.When):
            taint_writes(s.steps)
            taint_writes(s.orelse)
        elif isinstance(s, (ast.ForEach, ast.Multi)):
            taint_writes(s.steps)

    const = {n for n in top_writes if n not in tainted}
    while True:
        nxt = {
            n
            for n in const
            if all(expr_pure(e, const) for e in top_writes[n])
        }
        if nxt == const:
            return const
        const = nxt


# Compiled-stage memo, the analog of the reference's per-(source,
# schema) VRL program LRU (shared/src/vrl_util.rs): (program
# fingerprint, stage index, stage input schema, chunk settings) → the
# filter/select ops that stage's compile emitted. The Columns hold
# unresolved names only, so a hit replays them on any frame of that
# schema — about 25 filter/select calls for the okta pack, where a
# compile makes about 20k py4j round trips building Column trees.
_STAGE_MEMO: OrderedDict = OrderedDict()
_STAGE_MEMO_SIZE = 64
_STAGE_MEMO_LOCK = threading.Lock()


def _run_op(df: DataFrame, op: tuple) -> DataFrame:
    kind, arg = op
    return df.filter(arg) if kind == "filter" else df.select(*arg)


def _memo_get(key: tuple) -> list | None:
    with _STAGE_MEMO_LOCK:
        ops = _STAGE_MEMO.get(key)
        if ops is not None:
            _STAGE_MEMO.move_to_end(key)
        return ops


def _memo_put(key: tuple, ops: list) -> None:
    with _STAGE_MEMO_LOCK:
        _STAGE_MEMO[key] = ops
        while len(_STAGE_MEMO) > _STAGE_MEMO_SIZE:
            _STAGE_MEMO.popitem(last=False)


def compile_pipeline(steps: Iterable[ast.Step]):
    """Compile steps into a DataFrame -> DataFrame transformation.

    One filter() (all aborts) + one select() (all writes) per stage;
    Enrich steps split the program into stages joined by broadcast
    lookups (VRL's get_enrichment_table_record boundary). Each steps
    stage compiles once per input schema (`_STAGE_MEMO`); later applies
    replay the memoized ops.
    """
    steps = tuple(steps)
    # stable across reloads of the same pack (dataclass reprs)
    fingerprint = repr(steps)
    stages: list[tuple] = []
    cur: list = []
    wg_counter = itertools.count()
    for s in steps:
        if isinstance(s, ast.Enrich):
            stages.append(("steps", tuple(_flatten_whens(cur, None, wg_counter))))
            cur = []
            stages.append(("enrich", s))
        else:
            cur.append(s)
    stages.append(("steps", tuple(_flatten_whens(cur, None, wg_counter))))

    # 12 measured optimal for the r7 compiler (guard-scoped aborts +
    # variant-preserving blends changed the expression shapes): bigger
    # chunks cut boundary selects/analyses — okta 14.2s→10.1s,
    # panw/threat 73s→~45s, falcon 24s→~19s, o365 42s→~34s — while
    # suricata eve (the pathological shared-DAG program, 42s @6,
    # 195s @12, 342s+ @24) degrades superlinearly. No static estimate
    # discriminates eve from the programs 12 helps (tree-weight models
    # rank panw WORSE than eve yet panw improves at 12), so the loop
    # below self-tunes at compile time: each chunk's driver-side
    # compile+analysis is timed, and a slow chunk halves the size for
    # the rest of the program (12→6→3). Setting MATANO_VRL_STAGE_CHUNK
    # pins a fixed size and disables the adaptation.
    fixed_chunk = os.environ.get("MATANO_VRL_STAGE_CHUNK")
    chunk_n = int(fixed_chunk) if fixed_chunk else 12
    slow_chunk_s = float(os.environ.get("MATANO_VRL_CHUNK_SLOW_S", "1.5"))
    chunk_setting = (fixed_chunk, slow_chunk_s)

    def apply_steps(df: DataFrame, stage_steps, ops: list) -> DataFrame:
        # compile in CHUNKS of top-level steps with a projection
        # boundary between them: expressions that python shares as a
        # DAG expand to a TREE at Column→Catalyst conversion, so one
        # giant select for a 100+-step program (suricata eve,
        # crowdstrike fdr) blows the driver heap. A chunk boundary
        # names every live value as a real column — later chunks
        # reference attributes, not re-inlined trees. Locals and the
        # root remainder spill to __var_* / __root_rest columns and
        # rehydrate in the next chunk; Catalyst's CollapseProject
        # keeps non-duplicating projections cheap at runtime. Every
        # filter/select lands in `ops`, the stage's memo entry.
        def emit(frame: DataFrame, op: tuple) -> DataFrame:
            ops.append(op)
            return _run_op(frame, op)

        out = df
        remaining = list(stage_steps)
        # positional carry between chunks: intermediate boundaries
        # keep mangled __out_i names and rehydrate BY POSITION — never
        # by real name, because live values can collide
        # case-insensitively mid-program (crowdstrike fdr holds both
        # `File` and `file` until a later del) and Spark's analyzer
        # resolves names case-insensitively
        carry: list[tuple[str, str]] | None = None
        const_names = _const_var_names(stage_steps)
        const_carry: dict = {}
        prev_tombstones: set = set()
        cur_n = chunk_n
        trial: dict | str | None = None
        ci = 0
        while True:
            t0 = time.monotonic()
            snapshot = (out, carry, const_carry, set(prev_tombstones), len(ops))
            chunk_l = list(remaining[:cur_n])
            # Isolate root-spread assigns (`. = merge(., x, deep:
            # true)`) into single-step chunks: the merge folds x's
            # value expression into the row ONCE PER TOP-LEVEL FIELD,
            # so sharing a chunk with the steps that built x (vpcflow:
            # a 29-field two-pattern parse_groks + recursive
            # map_values) multiplies the already-huge tree ~30× and
            # OOMs a 24g driver at analysis. A boundary before AND
            # after materializes x once and every fold reads a plain
            # column.
            rebuilds: dict = {}
            exp_rows: set = set()
            exp_vars: set = set()
            for j, s in enumerate(chunk_l):
                if _is_root_assign(s):
                    chunk_l = chunk_l[:j] if j else chunk_l[:1]
                    break
                # Expensive compiled forms (grok/regex/JSON round-trips
                # — see _EXPENSIVE_FNS): re-inlining one at a later
                # READ site re-EXECUTES it per row, so a boundary must
                # fall between an expensive statement's write and the
                # first same-chunk statement that reads it. Statements
                # that don't touch an expensive value written in this
                # chunk (including further independent parses) keep
                # sharing the chunk — boundaries cost driver-side
                # reanalysis, so we only pay where a re-read exists.
                rr_, vr_, rw_, vw_ = _stmt_rw(s)
                if (
                    _paths_overlap(rr_, exp_rows) or (vr_ & exp_vars)
                ) and j:
                    chunk_l = chunk_l[:j]
                    break
                if _is_expensive(s):
                    exp_rows |= rw_
                    exp_vars |= vw_
                # cap same-root IN-PLACE rebuilds per chunk: each one
                # nests the previous value expression, so >K in one
                # chunk grows the tree ~2^K (zeek smb_cmd — see
                # _self_rebuild_root)
                rr = _self_rebuild_root(s)
                if rr is not None:
                    rebuilds[rr] = rebuilds.get(rr, 0) + 1
                    if rebuilds[rr] > 4 and j:
                        chunk_l = chunk_l[:j]
                        break
            chunk = tuple(chunk_l)
            remaining = remaining[len(chunk) :]
            is_last = not remaining
            if carry is None:
                state = _RowState(out)
                comp = Compiler(state)
            else:
                state = _RowState.__new__(_RowState)
                state.nodes = {}
                state.filters = []
                state.rest = None
                # masks are compile-time: carry them across the
                # projection boundary (the spilled __root_rest column
                # still physically contains del'd keys)
                state.tombstones = set(prev_tombstones)
                comp = Compiler(state)
                for i, (kind, name) in enumerate(carry):
                    leaf = _Leaf(
                        F.col(f"`{out.columns[i]}`"),
                        out.schema.fields[i].dataType,
                    )
                    if kind == "row":
                        state.nodes[name] = leaf
                    elif kind == "var":
                        comp.vars.nodes[name] = leaf
                    else:  # root remainder variant
                        state.rest = leaf.col
                # pure-literal locals carry their expression objects
                # straight through — row-independent, so rebinding
                # across the projection is valid and the (possibly
                # enormous — fdr mappings) literal never lands in a
                # boundary projection
                comp.vars.nodes.update(const_carry)
            comp.run(chunk)
            prev_tombstones = state.tombstones
            for f in state.filters:
                out = emit(out, ("filter", f))
            # materialize through temp names, then rename: an output
            # that reuses an input name with a CHANGED type (json
            # re-emitted as its mutated map form) must not shadow
            # references to the original inside sibling expressions'
            # lambdas (Spark resolves lambda-embedded name references
            # to the lateral alias)
            cols = state.columns()
            entries = [("row", n) for n in state.nodes]
            if not is_last:
                # spill only locals still LIVE in later chunks:
                # flattened-When guard vars die within a step or two,
                # and carrying every dead local makes each boundary
                # projection wide and plan reanalysis quadratic
                live: set = set()
                _read_vars(remaining, live)
                const_carry = {}
                for vn, vnode in comp.vars.nodes.items():
                    if vn not in live:
                        continue
                    if vn in const_names:
                        const_carry[vn] = vnode
                        continue
                    vc, _vt = _materialize(vnode)
                    cols.append(vc)
                    entries.append(("var", vn))
                if state.rest is not None:
                    cols.append(state.rest)
                    entries.append(("rest", "__root_rest"))
                # per-chunk mangle prefix: chunk ci+1's select reads
                # these names as inputs, so its own output aliases
                # must not reuse them.
                #
                # Optimizer barrier: CollapseProject (the rule AND
                # the ScanOperation/PhysicalOperation planning
                # pattern that calls its cost helpers directly, so
                # excludedRules can't help) re-merges adjacent
                # Projects, re-expanding every shared value per use —
                # the exponential tree the chunking exists to prevent
                # (falcon/suricata/msft hang the optimizer 10+ min or
                # OOM a 24g driver). A NONDETERMINISTIC always-true
                # filter between boundary projections stops both:
                # projects are never adjacent, patterns only collect
                # deterministic filters, predicate pushdown can't
                # move it, BooleanSimplification can't fold it.
                # Whole-stage codegen still fuses the whole
                # Project/Filter chain into one loop — named local
                # reuse instead of tree duplication, exactly what we
                # want at 100 TB. Chunk 0 stays scan-adjacent, so
                # parquet column/nested-schema pruning still sees the
                # first projection. The condition is built on rand,
                # which (unlike monotonically_increasing_id) streaming
                # accepts; a bare `rand >= 0` would not do, because
                # OptimizeRand folds a comparison of rand with a
                # constant outside [0, 1) to a literal.
                out = emit(
                    out,
                    ("select", [c.alias(f"__o{ci}_{i}") for i, c in enumerate(cols)]),
                )
                out = emit(out, ("filter", F.rand(0) + 1 > 0))
                carry = entries
            else:
                tmp = emit(
                    out,
                    ("select", [c.alias(f"__out_{i}") for i, c in enumerate(cols)]),
                )
                # final projection: void-typed outputs (reads of
                # deleted keys, explicit nulls) fail parquet sinks —
                # cast by the ANALYZED schema, not the compile-time
                # claim (which can be stale for When-unified values)
                final_types = {
                    f.name: f.dataType for f in tmp.schema.fields
                }
                out = emit(
                    tmp,
                    (
                        "select",
                        [
                            (
                                F.col(f"`__out_{i}`").cast("string")
                                if isinstance(
                                    final_types[f"__out_{i}"], T.NullType
                                )
                                else F.col(f"`__out_{i}`")
                            ).alias(name)
                            for i, (_k, name) in enumerate(entries)
                        ],
                    ),
                )
            dt = time.monotonic() - t0
            if os.environ.get("MATANO_VRL_CHUNK_DEBUG"):
                print(
                    f"CHUNK ci={ci} n={len(chunk)} cur_n={cur_n} "
                    f"dt={dt:.2f}s",
                    flush=True,
                )
            # Self-tuning: SHRINK only. A growth direction (double the
            # chunk while compiles stay fast) was tried in r8 and
            # REMOVED this round: it gated on driver-side compile
            # time, which says nothing about execution-side tree
            # duplication, and grown 24-48-step chunks made the okta
            # pipeline's EXECUTION ~100× slower (duplicated grok/when
            # trees under conditional branches defeat Catalyst's
            # subexpression elimination). Worse, wall-clock gating
            # made the chosen plan depend on driver load — the same
            # query could get a fast or a catastrophic plan run to
            # run. Chunk shape is now deterministic: fixed size 12,
            # expensive-statement isolation, rebuild caps, and a
            # shrink trial that only fires on measured slow compiles
            # (shrinking is always execution-safe). The trial runs once
            # per memo key; later applies replay the chosen shape.
            #
            # SHRINK guard. Per-chunk driver cost has two parts:
            # (a) per-boundary reanalysis of the whole accumulated
            # plan — INDEPENDENT of chunk size (crowdstrike fdr:
            # ~4 s/boundary, so halving the size DOUBLES boundaries
            # and nearly doubles total compile), and (b) superlinear
            # within-chunk shared-DAG tree expansion (suricata eve:
            # one 12-step chunk costs 10 s where two 6-step chunks
            # cost 1 s each). No static signal separates the two, so
            # the first slow chunk runs a TRIAL: roll back (keeping
            # the bloated boundary would tax every later reanalysis —
            # measured 0.47 → 1.05 s/chunk on eve), recompile the
            # same steps at half size, and keep the smaller size only
            # if the trial actually beat the slow chunk. Measured:
            # eve 195 s → ~38 s (trial accepted), fdr stays within
            # ~1.2× of its fixed-12 time (trial rejected).
            if fixed_chunk is None:
                if (
                    trial is None
                    and cur_n > 6
                    and len(chunk) > 6
                    and dt > slow_chunk_s
                ):
                    cur_n = max(6, cur_n // 2)
                    trial = {"left": len(chunk), "cost": 0.0, "base": dt}
                    out, carry, const_carry, prev_tombstones, n_ops = snapshot
                    del ops[n_ops:]
                    remaining = list(chunk) + remaining
                    continue
                if isinstance(trial, dict):
                    trial["cost"] += dt
                    trial["left"] -= len(chunk)
                    if trial["left"] <= 0:
                        if trial["cost"] > 0.6 * trial["base"]:
                            cur_n = chunk_n  # shrink didn't pay
                        trial = "done"
            if is_last:
                break
            ci += 1
        return out

    def apply_enrich(df: DataFrame, step: ast.Enrich) -> DataFrame:
        from matano_spark.operators.enrichment import enrich

        # row paths may be nested — materialize join keys as columns
        keyed = df
        tmp_keys = {}
        for i, row_path in enumerate(step.on):
            tmp = f"__ek_{i}"
            state = _RowState(df)
            keyed = keyed.withColumn(
                tmp, state.get(tuple(ast.split_path(row_path)))
            )
            tmp_keys[tmp] = step.on[row_path]
        out = enrich(
            keyed,
            step.table,
            on=tmp_keys,
            select=list(step.select) or None,
            target=step.target,
        )
        return out.drop(*tmp_keys.keys())

    def apply(df: DataFrame) -> DataFrame:
        out = df
        for si, (kind, payload) in enumerate(stages):
            if kind == "enrich":
                out = apply_enrich(out, payload)
                continue
            if not payload:
                continue
            key = (fingerprint, si, out.schema.json(), chunk_setting)
            ops = _memo_get(key)
            if ops is None:
                ops = []
                out = apply_steps(out, payload, ops)
                _memo_put(key, ops)
            else:
                for op in ops:
                    out = _run_op(out, op)
        return out

    return apply

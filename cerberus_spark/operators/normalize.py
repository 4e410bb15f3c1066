"""Normalization operators: rename → purge → defaults → coerce.

Re-expresses the reference's normalization pipeline
(/root/reference/cerberus/validator.py:690-710 fixed stage order;
docs/normalization-rules.rst) as column-level transforms computed in the
same single projection as validation — normalized values feed the rule
predicates directly, exactly like the reference validates the
*normalized copy* of each document (validator.py:1032-1033).

Stage mapping (reference → Spark):

* ``rename``          validator.py:900-918  → select-alias (compile time)
* ``purge_unknown``   validator.py:893-898  → drop columns (compile time)
* ``purge_readonly``  validator.py:887-891  → drop columns (compile time)
* ``default``         validator.py:947-963  → ``coalesce(col, lit(default))``
* ``default_setter``  validator.py:965-1005 → registered Column-builder over
                       the row; cycles detected by compile-time topo sort
* ``coerce``          validator.py:712-767  → ``try_cast`` / Column fn /
                       vectorized pandas UDF; failure → COERCION_FAILED
                       violation row.  The reference BREAKS the chain at
                       the first failing step and keeps that step's input
                       (validator.py:745-767); the engine restores that
                       value WHEREVER the normalized column type can hold
                       it (same-typed chains: string cleanup chains,
                       items/array elements, dynamic map payloads).  When
                       the chain changes the column type (e.g. string →
                       bigint) the un-coercible original cannot live in
                       the typed output column and stays NULL — the one
                       remaining deviation, pinned per-type by
                       test_coerce_failure_value_semantics_per_type and
                       tabulated in COVERAGE.md

Rename semantics (parity since r4): renames apply SEQUENTIALLY over
the ORIGINAL document keys, exactly like the reference's dict moves
(validator.py:900-918) — chains (``a→b`` plus ``b→c``) compose when the
intermediate key was originally present, a present source clobbers an
existing target, shared targets resolve last-present-wins.  Move order:
top-level columns and struct fields use their LAYOUT order (compiled
into CASE expressions by ``fold_renames``; runtime presence =
non-NULL); dynamic MAP keys use canonical SORTED order via an Arrow
batch running the reference algorithm literally — a Spark map column
carries no reliable entry order, so the reference's insertion-order
dependence is unobservable there (documented semantic note).

Documented deviation (corner case, deliberate, opt-out available):

* keysrules key coercions that COLLIDE (two keys coerce to the same
  string) — the reference warns and clobbers (last wins); the engine
  default surfaces Spark's DUPLICATED_MAP_KEY instead of silently
  dropping an entry.  ``SparkValidator(on_key_collision='last_wins')``
  selects the reference behavior.
"""

from __future__ import annotations

from collections.abc import Mapping
from typing import Callable

import pandas as pd  # noqa: F401 — resolves pandas_udf type hints
from pyspark.sql import Column, functions as F, types as T

from .. import errors as E
from ..dsl import (
    NORMALIZATION_RULES as NORM_KEYS,
    SchemaError,
    _looks_like_rules_set as _looks_like_rules,
)
from .compile import Frag, collect_violations, guard, make_violation, stringify


def has_normalization(rules: Mapping) -> bool:
    """Does this rules-set (or any nested sub-schema) carry
    normalization work?"""
    if not NORM_KEYS.isdisjoint(rules):
        return True
    for key in ("schema", "keysrules", "valuesrules"):
        sub = rules.get(key)
        if isinstance(sub, Mapping):
            if _looks_like_rules(sub):
                if has_normalization(sub):
                    return True
            elif any(isinstance(r, Mapping) and has_normalization(r)
                     for r in sub.values()):
                return True
    items = rules.get("items")
    if isinstance(items, (list, tuple)) and any(
        isinstance(r, Mapping) and has_normalization(r) for r in items
    ):
        return True
    return False

# ---------------------------------------------------------------------------
# coercer registry — named, vectorized coercers (reference: named coercers
# resolved via _normalize_coerce_* reflection, docs/customize.rst:116-150)
# ---------------------------------------------------------------------------

CoercerFn = Callable[[Column, T.DataType], tuple[Column, T.DataType]]

_BUILTIN_COERCERS: dict[str, CoercerFn] = {}


def register_coercer(name: str):
    def deco(fn: CoercerFn):
        _BUILTIN_COERCERS[name] = fn
        return fn
    return deco


@register_coercer("to_int")
def _to_int(col, dtype):
    return col.try_cast(T.LongType()), T.LongType()


@register_coercer("to_float")
def _to_float(col, dtype):
    return col.try_cast(T.DoubleType()), T.DoubleType()


@register_coercer("to_string")
def _to_string(col, dtype):
    return stringify(col, dtype), T.StringType()


@register_coercer("to_bool")
def _to_bool(col, dtype):
    return col.try_cast(T.BooleanType()), T.BooleanType()


@register_coercer("to_datetime")
def _to_datetime(col, dtype):
    return col.try_cast(T.TimestampType()), T.TimestampType()


@register_coercer("strip")
def _strip(col, dtype):
    return F.trim(col), T.StringType()


@register_coercer("lower")
def _lower(col, dtype):
    return F.lower(col), T.StringType()


@register_coercer("upper")
def _upper(col, dtype):
    return F.upper(col), T.StringType()


from dataclasses import dataclass


@dataclass
class Slot:
    """A planned output column: the rename-resolved value expression
    and the input column anchoring its dtype.  ``expr is None`` marks a
    synthesized literal-default slot (engine materializes it)."""
    expr: "Column | None"
    anchor: str


def fold_renames(schema: Mapping, slots: dict[str, Column],
                 slot_dtypes: dict[str, T.DataType], order: list[str],
                 presence: dict[str, Column],
                 ) -> tuple[dict[str, Column], dict[str, str]]:
    """Reference rename semantics (validator.py:900-918): the reference
    iterates the ORIGINAL document keys — ``for field in tuple(mapping)``
    — in document layout order; each visited key whose rules carry
    ``rename`` moves its CURRENT value (which may be an earlier move's
    deposit) onto the target, clobbering it, and deletes itself.  So a
    chain ``a→b`` + ``b→c`` forwards ``a``'s value to ``c`` only when
    ``b`` was itself originally present (otherwise the value parks at
    ``b``), and layout order — not schema order — sequences the moves.

    Compiled here as a symbolic fold: per input slot a CASE expression
    conditioned on the ORIGINAL runtime presence (non-NULL) of each
    visited key.  Statically-dead slots (provably always NULL) are
    dropped from the result.

    Returns ``(slot exprs, anchor input name per slot)`` — the anchor
    carries the slot's dtype and must agree across joined chains."""
    state = dict(slots)
    anchor = {k: k for k in slots}
    maybe = {k: True for k in slots}    # slot can hold a value at all
    foreign = {k: False for k in slots}  # slot may hold a deposited value
    for f in order:
        rules = schema.get(f)
        if not (isinstance(rules, Mapping) and "rename" in rules):
            continue
        if not maybe.get(f):
            continue  # statically always-absent: the move never fires
        tgt = rules["rename"]
        p = presence[f]
        cur_f = state[f]
        f_dt = slot_dtypes[anchor[f]]
        if tgt in anchor and \
                slot_dtypes[anchor[tgt]].simpleString() != f_dt.simpleString():
            raise SchemaError(
                f"rename '{f}'→'{tgt}' joins fields of different types "
                f"({f_dt.simpleString()} vs "
                f"{slot_dtypes[anchor[tgt]].simpleString()})")
        old_t = state.get(tgt) if maybe.get(tgt) else None
        state[tgt] = (F.when(p, cur_f).otherwise(old_t)
                      if old_t is not None else F.when(p, cur_f))
        anchor.setdefault(tgt, anchor[f])
        maybe[tgt], foreign[tgt] = True, True
        # f emptied when present; an earlier deposit survives only when
        # f was originally absent
        if foreign[f]:
            state[f] = F.when(p, F.lit(None).cast(f_dt)).otherwise(cur_f)
            maybe[f] = True
        else:
            state[f] = F.lit(None).cast(f_dt)
            maybe[f] = False
    return ({k: v for k, v in state.items() if maybe.get(k)},
            {k: a for k, a in anchor.items() if maybe.get(k)})


class Normalizer:
    """Compiles the normalization rules of a schema into
    (normalized column map, violations array, output dtypes)."""

    def __init__(self, coercers: Mapping[str, CoercerFn] | None = None,
                 setters: Mapping[str, Callable] | None = None,
                 null_semantics: str = "absent",
                 on_key_collision: str = "error"):
        self.coercers = dict(_BUILTIN_COERCERS)
        if coercers:
            self.coercers.update(coercers)
        self.setters = dict(setters or {})
        self.null_semantics = null_semantics
        self.on_key_collision = on_key_collision

    # -- compile-time column-set operations ---------------------------------

    def plan_columns(self, schema: Mapping, input_cols: list[str],
                     input_dtypes: Mapping[str, T.DataType],
                     *, purge_unknown: bool = False, purge_readonly: bool = False,
                     key_cols: tuple = (),
                     rename_handler=None) -> "dict[str, Slot]":
        """Resolve rename/purge into an {output_name: Slot} map (a Slot
        carries the rename-resolved value expression and the input
        column anchoring its dtype).

        reference: rename validator.py:900-918 (sequential document-order
        dict moves — see ``fold_renames``), rename_handler 920-937
        (applied to unknown fields), purge_unknown 893-898,
        purge_readonly 887-891.
        """
        readonly_fields = {f for f, r in schema.items() if r.get("readonly")}
        # runtime presence for rename moves: under 'absent' semantics a
        # NULL column is a missing key (no move); under 'none' every
        # input column is a PRESENT key — the reference moves a
        # present-None key like any other (rename iterates tuple(mapping),
        # validator.py:900-918), so a None source moves, clobbers its
        # target, and chains compose through it
        if self.null_semantics == "none":
            presence = {c: F.lit(True) for c in input_cols}
        else:
            presence = {c: F.col(c).isNotNull() for c in input_cols}
        exprs, anchors = fold_renames(
            schema,
            {c: F.col(c) for c in input_cols},
            dict(input_dtypes),
            list(input_cols),
            presence,
        )
        known_targets = set(schema) | set(key_cols)
        out: dict[str, Slot] = {}
        for target in exprs:
            name = target
            if name not in known_targets and rename_handler is not None:
                name = rename_handler(name)
            if purge_unknown and name not in known_targets:
                continue
            if purge_readonly and name in readonly_fields:
                continue
            out[name] = Slot(exprs[target], anchors[target])
        return out

    # -- per-field value normalization ---------------------------------------

    def _coerce_chain(self, chain) -> list[CoercerFn]:
        chain = [chain] if isinstance(chain, str) or callable(chain) else list(chain)
        fns = []
        for c in chain:
            fn = self.coercers.get(c) if isinstance(c, str) else c
            if fn is None:
                raise SchemaError(f"coerce: no registered coercer named '{c}'")
            fns.append(fn)
        return fns

    @staticmethod
    def _apply_chain(fns, value: Column, dtype: T.DataType) -> tuple[Column, T.DataType]:
        for fn in fns:
            value, dtype = fn(value, dtype)
        return value, dtype

    def normalize_field(
        self, fname: str, rules: Mapping, value: Column, dtype: T.DataType,
        doc_path: list, spath: list,
        setter_scope: Mapping | None = None, setter_cycle: bool = False,
        purge_unknown: bool = False, allow_unknown: object = False,
    ) -> tuple[Column, T.DataType, Frag]:
        """Returns (normalized value, output dtype, violation fragment).

        ``setter_scope`` maps field name → already-normalized Column for
        2-arg default_setters; ``setter_cycle`` marks this field as part
        of a setter dependency cycle (reference: iterative resolution
        with circular detection → SETTING_DEFAULT_FAILED,
        validator.py:965-1005).

        ``purge_unknown``/``allow_unknown`` are the INHERITED flags for
        container recursion: the reference's child validators receive
        ``rules.get('purge_unknown', self.purge_unknown)`` etc.
        (validator.py:843-849), and purging fires only when the
        effective purge flag is set AND unknowns are not allowed
        (validator.py:698-699)."""
        violations = []          # this field's violation fragments
        nested_arrays = []       # fragments from recursion
        original, original_dtype = value, dtype

        # default fill (reference: validator.py:947-963 — fires on missing
        # key, or on None when the field is not nullable)
        if "default" in rules:
            default = rules["default"]
            nullable = bool(rules.get("nullable", False))
            if default is None:
                pass  # default None on a NULL column is the identity
            elif not nullable or self.null_semantics == "absent":
                value = F.coalesce(value, F.lit(default).cast(dtype))

        if "default_setter" in rules:
            setter = rules["default_setter"]
            name = setter if isinstance(setter, str) else getattr(setter, "__name__", "?")
            fn = self.setters.get(name) if isinstance(setter, str) else setter
            if fn is None:
                raise SchemaError(f"default_setter: no registered setter named '{setter}'")
            if setter_cycle:
                # circular setter dependencies: the reference's iterative
                # resolution gives up and files SETTING_DEFAULT_FAILED for
                # every unresolved field (validator.py:994-1005)
                violations.append(
                    make_violation(
                        value.isNull(), E.SETTING_DEFAULT_FAILED,
                        doc_path, spath + [fname, "default_setter"],
                        constraint=name, info="circular dependencies of default setters",
                    )
                )
            else:
                # fn builds a Column: fn(F) -> Column, or fn(F, scope) where
                # scope maps field name → NORMALIZED Column of the other
                # fields (compile-time analog of the reference passing the
                # partially-normalized document to each setter callable)
                try:
                    import inspect
                    n_params = len(inspect.signature(fn).parameters)
                    computed = fn(F, dict(setter_scope or {})) if n_params >= 2 else fn(F)
                except Exception as exc:  # setter construction failed at compile
                    violations.append(
                        make_violation(
                            value.isNull(), E.SETTING_DEFAULT_FAILED,
                            doc_path, spath + [fname, "default_setter"],
                            constraint=name, info=str(exc),
                        )
                    )
                    computed = None
                if computed is not None:
                    value = F.coalesce(value, computed.cast(dtype))

        # coerce chain — AFTER defaults, matching the reference's stage
        # order (__normalize_mapping: default fields, THEN coerce,
        # validator.py:690-710), so an inserted default value is itself
        # coerced (reference: validator.py:712-767)
        if "coerce" in rules:
            pre_coerce, pre_dtype = value, dtype
            chain = rules["coerce"]
            if isinstance(chain, str) or callable(chain):
                chain = [chain]
            # Per-step failure tracking, mirroring __normalize_coerce
            # (validator.py:745-767): the reference BREAKS the chain at
            # the first failing step and the value REVERTS to that
            # step's INPUT (the last successful intermediate).  Each
            # step's failure condition (output NULL though input wasn't)
            # is made exclusive of earlier failures, so the first
            # failing step's input is the one restored.
            steps = []  # (exclusive step-failure cond, step input, its dtype)
            prior_fail = F.lit(False)
            for c in chain:
                name = c if isinstance(c, str) else getattr(c, "__name__", None)
                fn = self.coercers.get(name) if isinstance(c, str) else c
                if fn is None:
                    raise SchemaError(f"coerce: no registered coercer named '{c}'")
                nxt, nxt_dt = fn(value, dtype)
                step_fail = nxt.isNull() & value.isNotNull()
                steps.append((~prior_fail & step_fail, value, dtype))
                prior_fail = prior_fail | step_fail
                value, dtype = nxt, nxt_dt
            # COERCION_FAILED: some step nulled a non-null input
            # (reference keeps the step's input + files 0x61;
            # validator.py:762-767)
            failed = prior_fail
            violations.append(
                make_violation(
                    failed, E.COERCION_FAILED, doc_path, spath + [fname, "coerce"],
                    constraint=str(rules["coerce"]),
                    value=original, value_dtype=original_dtype,
                )
            )
            # Restore the reference-kept value WHERE THE NORMALIZED
            # COLUMN TYPE CAN HOLD IT (the failing step's input dtype ==
            # the chain's output dtype — e.g. string→string cleanup
            # chains, dynamic map payloads).  Elsewhere a single-typed
            # Spark column cannot carry the original: the value stays
            # NULL — documented deviation, pinned per-type in
            # test_fuzz_differential/COVERAGE.md.
            restore = None
            for cond, pv, pdt in steps:
                kv = (pv if pdt.simpleString() == dtype.simpleString()
                      else F.lit(None).cast(dtype))
                restore = (F.when(cond, kv) if restore is None
                           else restore.when(cond, kv))
            if restore is not None:
                value = restore.otherwise(value)

        # container normalization (reference: validator.py:769-885 recurses
        # into dict/list values) — rebuild struct / transform array elements
        # with the sub-schema's defaults+coercions applied
        if "schema" in rules:
            sub = rules["schema"]
            if isinstance(dtype, T.StructType) and isinstance(sub, Mapping) \
                    and not _looks_like_rules(sub):
                # child-validator flag inheritance (validator.py:843-849):
                # rule-level overrides, else the validator-level values
                eff_allow = rules.get("allow_unknown", allow_unknown)
                eff_purge = bool(rules.get("purge_unknown", purge_unknown)) \
                    and eff_allow is False
                # nested rename: the reference's document-order dict
                # moves via the child validator (validator.py:900-918),
                # compiled by the shared fold (see fold_renames) over
                # the struct's field layout
                in_names = {f.name: f for f in dtype.fields}
                slot_exprs, slot_anchor = fold_renames(
                    sub,
                    {f.name: value.getField(f.name) for f in dtype.fields},
                    {f.name: f.dataType for f in dtype.fields},
                    [f.name for f in dtype.fields],
                    # same 'none'-mode presence convention as plan_columns:
                    # a present-None struct field still moves
                    {f.name: (F.lit(True) if self.null_semantics == "none"
                              else value.getField(f.name).isNotNull())
                     for f in dtype.fields},
                )

                def _needs_recurse(srules):
                    # recurse for normalization rules OR, when purging,
                    # for any sub-schema at all — child validators inherit
                    # purge_unknown at EVERY level (validator.py:843-849),
                    # so a field whose rules are only {'type','schema'}
                    # must still be descended into to purge its unknowns
                    return isinstance(srules, Mapping) and (
                        not NORM_KEYS.isdisjoint(srules)
                        or (eff_purge and "schema" in srules)
                    )

                new_fields, sub_types = [], []
                for tgt, sv in slot_exprs.items():
                    if eff_purge and tgt not in sub:
                        continue
                    sdt = in_names[slot_anchor[tgt]].dataType
                    srules = sub.get(tgt)
                    if _needs_recurse(srules):
                        sv, sdt, v2 = self.normalize_field(
                            tgt, srules, sv, sdt, doc_path + [tgt],
                            spath + [fname, "schema"],
                            purge_unknown=eff_purge, allow_unknown=eff_allow,
                        )
                        # nested violations only apply when the parent exists
                        nested_arrays.append(guard(original.isNotNull(), v2))
                    new_fields.append(sv.alias(tgt))
                    sub_types.append(T.StructField(tgt, sdt, True))
                # declared sub-fields entirely MISSING from the struct
                # that carry a default gain a synthesized slot — the
                # nested analog of the reference inserting defaults for
                # missing keys (validator.py:947-963; its coerce chain
                # then applies to the inserted value), which also lets a
                # nested `required` pass, like the reference.
                produced = {sf.name for sf in sub_types}
                for fld, srules in sub.items():
                    if fld in produced or not isinstance(srules, Mapping):
                        continue
                    if srules.get("default") is None:
                        continue
                    try:
                        fdt = T._infer_type(srules["default"])
                    except Exception:
                        continue
                    sv, sdt, v2 = self.normalize_field(
                        fld, srules, F.lit(None).cast(fdt), fdt,
                        doc_path + [fld], spath + [fname, "schema"],
                        purge_unknown=eff_purge, allow_unknown=eff_allow,
                    )
                    nested_arrays.append(guard(original.isNotNull(), v2))
                    new_fields.append(sv.alias(fld))
                    sub_types.append(T.StructField(fld, sdt, True))
                value = F.when(original.isNotNull(), F.struct(*new_fields))
                dtype = T.StructType(sub_types)
            elif isinstance(dtype, T.MapType) and isinstance(sub, Mapping) \
                    and not _looks_like_rules(sub):
                # fixed-key subschema over a dynamic map (reference:
                # __normalize_mapping recurses into dict values,
                # validator.py:769-885): rebuild the map with each declared
                # key's coerce/default applied.  Coercions must preserve the
                # map's uniform value type.  A declared key enters the map
                # when the input had it OR a default is declared (reference
                # defaults fire on missing keys, validator.py:947-956).
                vdt, kt = dtype.valueType, dtype.keyType
                eff_allow = rules.get("allow_unknown", allow_unknown)
                eff_purge = bool(rules.get("purge_unknown", purge_unknown)) \
                    and eff_allow is False
                # The whole map normalization (rename -> purge -> declared
                # defaults/coercions) runs as ONE entries-array pipeline
                # ending in a single map_from_entries: the entry list is
                # duplicate-free by construction, so no Catalyst
                # evaluation-order rewrite can trip DUPLICATED_MAP_KEY
                # (a map_concat fed into map_filter measurably can, under
                # the interpreted HOF path).
                renames = {k: r["rename"] for k, r in sub.items()
                           if isinstance(r, Mapping) and "rename" in r}
                declared = [k for k, r in sub.items()
                            if isinstance(r, Mapping)
                            and (not (NORM_KEYS - {"rename"}).isdisjoint(r)
                                 or (eff_purge and "schema" in r))]
                if renames or eff_purge or declared:
                    entry_t = (f"array<struct<key:{kt.simpleString()},"
                               f"value:{vdt.simpleString()}>>")
                    entries = F.map_entries(value)
                    if renames:
                        # the reference's dict moves (validator.py:
                        # 900-918: ``for field in tuple(mapping)``) run
                        # literally per Arrow batch — but over the
                        # SORTED key snapshot: a Spark map column has
                        # no reliable entry order (createDataFrame
                        # canonicalizes python dicts; the Arrow↔pandas
                        # hop reorders again), so "document insertion
                        # order" is unobservable here.  Canonical
                        # sorted-key order makes the move sequence
                        # deterministic for any storage layer; the
                        # reference matches whenever the producer's
                        # dict was key-sorted (documented semantic
                        # note — struct fields and top-level columns
                        # DO carry a layout order and use it).
                        _rn = dict(renames)

                        @F.pandas_udf(T.MapType(kt, vdt))
                        def _apply_renames(s: "pd.Series") -> "pd.Series":
                            def run(m):
                                if m is None:
                                    return None
                                m = dict(m)
                                for k in sorted(m):
                                    tgt = _rn.get(k)
                                    if tgt is not None:
                                        # reference: set THEN del — a
                                        # self-rename (tgt == k) deletes
                                        m[tgt] = m[k]
                                        del m[k]
                                return m
                            return s.map(run)

                        renamed = _apply_renames(F.map_from_entries(entries))
                        entries = F.map_entries(renamed)
                    if eff_purge:
                        known = [k for k in sub]
                        entries = (
                            F.filter(entries,
                                     lambda e: e.getField("key").isin(*known))
                            if known else F.slice(entries, 1, 0)
                        )
                    if declared:
                        post = entries  # post-rename/purge view

                        def _entry_value(k):
                            hit = F.filter(
                                post, lambda e: e.getField("key") == F.lit(k).cast(kt))
                            return F.get(hit, 0).getField("value")  # NULL when absent (no ANSI index error)

                        base_entries = F.filter(
                            post, lambda e: ~e.getField("key").isin(*declared))
                        decl_arrays = []
                        for k in declared:
                            srules = sub[k]
                            sv, sdt, v2 = self.normalize_field(
                                k, srules, _entry_value(k), vdt,
                                doc_path + [k], spath + [fname, "schema"],
                                purge_unknown=eff_purge, allow_unknown=eff_allow,
                            )
                            if not sdt.simpleString() == vdt.simpleString():
                                raise SchemaError(
                                    f"map-value normalization for key '{k}' changes the "
                                    f"value type {vdt.simpleString()} -> {sdt.simpleString()}; "
                                    "a map column's values share one type")
                            nested_arrays.append(guard(original.isNotNull(), v2))
                            present = F.exists(
                                post, lambda e: e.getField("key") == F.lit(k).cast(kt))
                            keep = present | F.lit("default" in srules)
                            decl_arrays.append(
                                F.when(
                                    keep & sv.isNotNull(),
                                    F.array(F.struct(F.lit(k).cast(kt).alias("key"),
                                                     sv.alias("value"))),
                                ).otherwise(F.array().cast(entry_t))
                            )
                        entries = F.concat(base_entries, *decl_arrays)
                    value = F.when(original.isNotNull(), F.map_from_entries(entries))
            elif isinstance(dtype, T.ArrayType) and isinstance(sub, Mapping) \
                    and _looks_like_rules(sub) and "coerce" in sub:
                elem_dt = dtype.elementType
                fns = self._coerce_chain(sub["coerce"])
                _, new_elem_dt = self._apply_chain(fns, F.lit(None).cast(elem_dt), elem_dt)

                _a_fns, _a_dt = list(fns), elem_dt
                _same = new_elem_dt.simpleString() == elem_dt.simpleString()

                def _eapply(x):
                    nv = self._apply_chain(_a_fns, x, _a_dt)[0]
                    if _same:  # keep-on-failure fits the element type
                        return F.when(nv.isNull() & x.isNotNull(), x).otherwise(nv)
                    return nv

                value = F.transform(value, _eapply)
                dtype = T.ArrayType(new_elem_dt)

        # items normalization: per-index coercions applied only when the
        # array length matches len(items); a mismatch skips normalization
        # entirely (reference: validator.py:871-874)
        if "items" in rules and isinstance(dtype, T.ArrayType) \
                and isinstance(rules["items"], (list, tuple)):
            items = rules["items"]
            elem_dt = dtype.elementType
            new_elems, any_norm = [], False
            for i, srules in enumerate(items):
                ev = value.getItem(i)
                if isinstance(srules, Mapping) and "coerce" in srules:
                    any_norm = True
                    fns = self._coerce_chain(srules["coerce"])
                    nv, ndt = self._apply_chain(fns, ev, elem_dt)
                    if ndt.simpleString() != elem_dt.simpleString():
                        raise SchemaError(
                            f"items[{i}] coercion changes the element type "
                            f"{elem_dt.simpleString()} → {ndt.simpleString()}; "
                            "an array column's elements share one type")
                    failed = nv.isNull() & ev.isNotNull()
                    violations.append(
                        make_violation(
                            (F.size(value) == len(items)) & failed,
                            E.COERCION_FAILED,
                            doc_path + [str(i)], spath + [fname, "items", str(i)],
                            constraint=str(srules["coerce"]),
                            value=ev, value_dtype=elem_dt,
                        )
                    )
                    # items coercion is same-typed by construction (checked
                    # above), so the reference's keep-on-failure semantics
                    # (validator.py:762-767) always restore cleanly
                    new_elems.append(F.when(failed, ev).otherwise(nv))
                else:
                    new_elems.append(ev)
            if any_norm:
                value = F.when(
                    F.size(value) == len(items), F.array(*new_elems)
                ).otherwise(value)

        # keysrules key coercion over dynamic maps (reference: keysrules
        # renames/coerces mapping keys during container normalization,
        # validator.py:769-885).  Colliding coerced keys raise Spark's
        # DUPLICATED_MAP_KEY, mirroring a dict-rebuild clobber surfacing.
        if "keysrules" in rules and isinstance(dtype, T.MapType) \
                and isinstance(rules["keysrules"], Mapping) \
                and "coerce" in rules["keysrules"]:
            fns = self._coerce_chain(rules["keysrules"]["coerce"])
            kdt = dtype.keyType
            _, new_kdt = self._apply_chain(fns, F.lit(None).cast(kdt), kdt)
            _k_fns, _k_dt = list(fns), kdt
            if self.on_key_collision == "last_wins":
                # EXACT reference collision semantics (validator.py:
                # 800-824, pinned differentially): iterate the original
                # keys; a key whose coercion maps to ITSELF stays; one
                # mapping to a CURRENTLY-PRESENT other key overwrites
                # that key's value and is KEPT; one mapping to an
                # absent key moves (add coerced, delete original).
                # "Currently present" reads the live, mutating mapping.
                # Split of labor: the JVM computes each entry's coerced
                # key (arbitrary Column coercers, per-entry — no
                # collision can fire), then an Arrow batch replays the
                # reference's mutating iteration literally in Python.
                # (A Column aggregate-fold over the entries mis-binds
                # nested HOF lambda variables — found by fuzz — and a
                # Spark map carries no reliable entry order anyway, so
                # the iteration uses canonical sorted original-key
                # order, like map renames.)
                type_change = new_kdt.simpleString() != kdt.simpleString()
                triples = F.transform(
                    F.map_entries(value),
                    lambda e: F.struct(
                        e.getField("key").alias("k"),
                        self._apply_chain(
                            _k_fns, e.getField("key"), _k_dt)[0].alias("ck"),
                        e.getField("value").alias("v")))
                _tc = type_change

                @F.pandas_udf(T.MapType(new_kdt, dtype.valueType))
                def _merge_keys(s: "pd.Series") -> "pd.Series":
                    def run(arr):
                        if arr is None:
                            return None
                        if _tc:
                            # type-changing chain: kept-source original
                            # keys cannot live in the new-typed map —
                            # coerce every key, last entry per coerced
                            # key wins (documented approximation; a
                            # collision here needs a non-injective
                            # cross-type chain)
                            out = {}
                            for r in sorted(arr, key=lambda r: r["k"]):
                                out[r["ck"]] = r["v"]
                            return out
                        m = {r["k"]: r["v"] for r in arr}
                        ck_of = {r["k"]: r["ck"] for r in arr}
                        for k in sorted(ck_of):
                            ck = ck_of[k]
                            if ck == k:
                                continue
                            if ck in m:
                                m[ck] = m[k]  # overwrite target, KEEP source
                            else:
                                m[ck] = m[k]
                                del m[k]
                        return m
                    return s.map(run)

                value = F.when(original.isNotNull(), _merge_keys(triples))
            else:
                value = F.transform_keys(
                    value, lambda k, _v: self._apply_chain(_k_fns, k, _k_dt)[0]
                )
            dtype = T.MapType(new_kdt, dtype.valueType)

        # valuesrules coercion over dynamic maps (reference: container
        # normalization validator.py:769-885) via transform_values
        if "valuesrules" in rules and isinstance(dtype, T.MapType) \
                and isinstance(rules["valuesrules"], Mapping) \
                and "coerce" in rules["valuesrules"]:
            chain = rules["valuesrules"]["coerce"]
            chain = [chain] if isinstance(chain, str) or callable(chain) else list(chain)
            fns = [self.coercers.get(c) if isinstance(c, str) else c for c in chain]
            if any(fn is None for fn in fns):
                raise SchemaError(f"coerce: unknown coercer in {chain}")
            vdt = dtype.valueType
            new_vdt = vdt
            for fn in fns:
                _, new_vdt = fn(F.lit(None).cast(new_vdt), new_vdt)

            _v_fns, _v_dt = list(fns), vdt
            _v_same = new_vdt.simpleString() == vdt.simpleString()

            def _vapply(k, x):
                d = _v_dt
                nv = x
                for fn in _v_fns:
                    nv, d = fn(nv, d)
                if _v_same:  # keep-on-failure fits the map value type
                    return F.when(nv.isNull() & x.isNotNull(), x).otherwise(nv)
                return nv

            value = F.transform_values(value, _vapply)
            dtype = T.MapType(dtype.keyType, new_vdt)

        return value, dtype, collect_violations(violations + nested_arrays)

"""SparkValidator: the user-facing validation engine.

One ``SparkValidator(schema)`` compiles the declarative rule language
(reference: /root/reference/cerberus/validator.py entry points
``validate``/``normalized``/``validated``, validator.py:1009-1063) into
a SINGLE Spark projection that computes, per row:

* normalized column values (coerce/default applied, reference order
  validator.py:690-710)
* one ``violations: array<struct>`` column — every failed rule as a
  violation row (error contract in ``cerberus_spark.errors``)
* ``passed: boolean`` — NOT the compiled fail predicate: every rule
  compiles to a violation fragment plus a null-free predicate that is
  true exactly when the fragment is non-empty (``operators.compile.
  Frag``), so ``passed`` never reads ``violations``.  Consumers that
  only need pass/fail — ``counts()``, ``validated()``, the corpus
  ``bool_and(passed)`` and the streaming ingest's ``_ok_valid`` gate —
  never build a violation struct (column pruning drops the unused
  ``violations`` projection).

Everything is Catalyst Column algebra — inside whole-stage codegen for
flat rule-sets; a per-element nested rule (a ``transform``/``exists``
lambda, CodegenFallback) drops the projection to per-expression
codegen.  The scan is read once, no shuffle is introduced by per-row
validation.
Dataset-level constraints (uniqueness/referential/drift — which the
reference cannot express) live in ``cerberus_spark.operators.dataset``.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, functions as F, types as T

from . import errors as E
from .dsl import RuleSetSchema
from .operators.compile import (
    CompileContext,
    Frag,
    RuleCompiler,
    Scope,
    collect_violations,
    make_violation,
)
from .operators.normalize import Normalizer, Slot, has_normalization


def explode_violations(annotated: DataFrame, cols: list) -> DataFrame:
    """``cols`` plus the fields of each violation, one row per violation.

    ``explode_outer`` and a not-NULL filter rather than ``explode``: for
    a plain ``explode`` Spark infers ``size(violations) > 0`` below the
    generator (InferFiltersFromGenerate), filter pushdown substitutes
    the whole violation expression into it, and every row builds its
    violation array twice."""
    return (annotated.select(*cols, F.explode_outer("violations").alias("v"))
            .filter(F.col("v").isNotNull())
            .select(*cols, "v.*"))


class ValidationResult:
    """Lazy handles on the three output shapes of one validation pass."""

    def __init__(self, annotated: DataFrame, key_cols: tuple[str, ...],
                 error_handler=None):
        self.annotated = annotated
        self.key_cols = key_cols
        self.error_handler = (error_handler if error_handler is not None
                              else E.BasicErrorHandler())

    @property
    def violations(self) -> DataFrame:
        """Exploded violations table, one row per (row key, violation),
        ordered deterministically like the reference's sorted error list
        (validator.py:274, errors.py:122-126)."""
        return explode_violations(self.annotated, list(self.key_cols))

    def violations_sorted(self) -> DataFrame:
        order = list(self.key_cols) + ["document_path", "schema_path", "code"]
        return self.violations.orderBy(*order)

    def summary(self, by: list[str] | Column | None = None) -> DataFrame:
        """Per-group pass/fail summary (partial aggregation map-side; one
        shuffle on the group key)."""
        df = self.annotated
        group = by if by is not None else [F.spark_partition_id().alias("part_id")]
        if isinstance(group, (str, Column)):
            group = [group]
        return df.groupBy(*group).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum((~F.col("passed")).cast("long")).alias("n_failed"),
            F.sum(F.size("violations").cast("long")).alias("n_violations"),
        )

    def errors(self, where=None, limit: int = 10_000):
        """Render collected violation rows through the validator's
        error handler — the analog of the reference's ``validator.
        errors`` property (validator.py:471-475: ``return
        self.error_handler(self._errors)``).  Driver-side by design:
        intended for per-document / debugging result sets, so pass
        ``where`` (a Column or SQL string) to restrict to the rows of
        interest; ``limit`` hard-caps the collect (raise it explicitly
        if you really mean to render more)."""
        df = self.violations_sorted()
        if where is not None:
            df = df.filter(where)
        rows = [r.asDict() for r in df.limit(limit).collect()]
        self.error_handler.start(self)
        try:
            return self.error_handler(rows)
        finally:
            self.error_handler.end(self)

    def counts(self) -> tuple[int, int]:
        row = self.annotated.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((~F.col("passed")).cast("long")).alias("f"),
        ).first()
        return int(row["n"]), int(row["f"] or 0)


class SparkValidator:
    """Compile a rule schema once; validate any number of DataFrames.

    Parameters mirror the reference's Validator config surface
    (validator.py:142-191): ``allow_unknown``, ``require_all``,
    ``update``, ``purge_unknown``, ``ignore_none_values`` — plus
    engine-specific knobs (``key_cols``, ``null_semantics``,
    ``dynamic_types``, ``logical_child_errors``, ``on_key_collision``).

    ``ignore_none_values`` mirrors the reference knob (validator.py:146,
    478-487): None values are skipped by every rule and count as MISSING
    for ``required`` (validator.py:1036, 1458-1462).  It only changes
    behavior under ``null_semantics='none'`` — the default 'absent'
    convention already treats NULL exactly that way.  Normalization is
    unaffected by the flag (the reference fills defaults for missing
    keys and non-nullable present-None fields, and moves present-None
    keys in renames, with or without it), and membership tests on other
    fields (dependencies targets, excludes co-presence) still count a
    present-None key.

    ``allow_unknown`` defaults to False exactly like the reference
    (validator.py:146) — schemas ported verbatim report unknown columns
    the same way; ``key_cols`` are exempt (engine plumbing, not data).
    Schema fields that are absent from the DataFrame but declare a
    ``default`` are materialized as literal columns before rules
    compile, matching the reference where normalization inserts the
    default and required then passes (validator.py:947-963).
    """

    def __init__(
        self,
        schema: Mapping,
        *,
        key_cols: tuple[str, ...] = (),
        allow_unknown: object = False,
        require_all: bool = False,
        update: bool = False,
        purge_unknown: bool = False,
        purge_readonly: bool = False,
        rename_handler=None,
        null_semantics: str = "absent",
        ignore_none_values: bool = False,
        dynamic_types: bool = False,
        logical_child_errors: bool = False,
        check_with: Mapping | None = None,
        coercers: Mapping | None = None,
        setters: Mapping | None = None,
        types: Mapping | None = None,
        rules: Mapping | None = None,
        on_key_collision: str = "error",
        error_handler=E.BasicErrorHandler,
    ):
        # ``rules`` registers custom NAMED rules usable in schemas — the
        # engine's version of subclassing the reference with
        # ``_validate_<rule>`` methods (docs/customize.rst:21-67); see
        # RuleCompiler._c_custom_rule for the accepted shapes.
        self._custom_rules = {
            str(k).replace(" ", "_"): v for k, v in dict(rules or {}).items()
        }
        self.schema = RuleSetSchema(schema, extra_type_names=set(types or ()),
                                    custom_rules=self._custom_rules)
        self.schema_hash = self.schema.hash
        self.key_cols = tuple(key_cols)
        self.allow_unknown = allow_unknown
        self.purge_unknown = purge_unknown
        self.purge_readonly = purge_readonly
        self.rename_handler = rename_handler
        self.ctx = CompileContext(
            null_semantics=null_semantics,
            ignore_none_values=ignore_none_values,
            require_all=require_all,
            allow_unknown=allow_unknown,
            update=update,
            dynamic_types=dynamic_types,
            logical_child_errors=logical_child_errors,
            check_with_registry=dict(check_with or {}),
            custom_types=dict(types or {}),
            custom_rules=self._custom_rules,
        )
        if on_key_collision not in ("error", "last_wins"):
            raise ValueError(
                "on_key_collision must be 'error' or 'last_wins'")
        # reference validator.py:96-102,177: error_handler accepts a
        # class, an instance, or a (class, config) tuple, and drives
        # how collected errors render (ValidationResult.errors())
        self.error_handler = E.init_error_handler(error_handler)
        self.normalizer = Normalizer(coercers, setters, null_semantics,
                                     on_key_collision=on_key_collision)
        self.compiler = RuleCompiler(self.ctx)
        # compile-once memo per input schema (reference analog: the
        # schema-validation cache, validator.py:136-140) — the Column
        # trees are immutable and reusable across same-shaped DataFrames
        self._compiled: dict[str, list[Column]] = {}

    # ------------------------------------------------------------------

    def annotate(self, df: DataFrame) -> DataFrame:
        """df → df + ``violations`` + ``passed`` (single projection)."""
        cache_key = df.schema.json()
        cached = self._compiled.get(cache_key)
        if cached is not None:
            return df.select(*cached)
        exprs = self._build_select(df)
        self._compiled[cache_key] = exprs
        return df.select(*exprs)

    def _build_select(self, df: DataFrame) -> list[Column]:
        dtypes = {f.name: f.dataType for f in df.schema.fields}
        colmap = self.normalizer.plan_columns(
            self.schema.expanded, df.columns, dtypes,
            purge_unknown=self.purge_unknown, purge_readonly=self.purge_readonly,
            key_cols=self.key_cols, rename_handler=self.rename_handler,
        )

        # 0. materialize literal defaults for schema fields missing from
        # the DataFrame (reference: normalization inserts the default into
        # the document, validator.py:947-963, so required passes)
        for fname, rules in self.schema.expanded.items():
            if fname in colmap or "default" not in rules or rules["default"] is None:
                continue
            try:
                lit_type = T._infer_type(rules["default"])
            except Exception:
                continue
            synth = f"__default__{fname}"
            colmap[fname] = Slot(None, synth)
            dtypes[synth] = lit_type

        # 1. normalization pass — build normalized value expressions.
        # default_setter fields resolve AFTER the fields they declare in
        # their `depends` attribute (so a 2-arg setter sees the NORMALIZED
        # values of its inputs); fields left unresolvable form a cycle and
        # get SETTING_DEFAULT_FAILED, mirroring the reference's iterative
        # resolution with circular detection (validator.py:965-1005).
        setter_deps: dict[str, list[str]] = {}
        for out_name in colmap:
            rules = self.schema.expanded.get(out_name)
            if rules and "default_setter" in rules:
                setter = rules["default_setter"]
                fn = (self.normalizer.setters.get(setter)
                      if isinstance(setter, str) else setter)
                deps = tuple(getattr(fn, "depends", ()) or ())
                setter_deps[out_name] = [d for d in deps if d in colmap]

        resolved: dict[str, tuple[Column, T.DataType]] = {}
        norm_violations: list[Frag] = []

        def _resolve_field(out_name: str, cycle: bool = False) -> None:
            slot = colmap[out_name]
            if slot.expr is None:
                col = F.lit(self.schema.expanded[out_name]["default"]).cast(
                    dtypes[slot.anchor])
                dtype = dtypes[slot.anchor]
            else:
                col, dtype = slot.expr, dtypes[slot.anchor]
            rules = self.schema.expanded.get(out_name)
            # validator-level purge_unknown recurses into subdocuments via
            # the child-validator flag inheritance (validator.py:843-849),
            # so a nested schema needs the normalization pass even when no
            # explicit normalization rule appears anywhere in it
            if rules and (has_normalization(rules)
                          or (self.purge_unknown and "schema" in rules)):
                scope_cols = {k: v[0] for k, v in resolved.items()}
                col, dtype, viol = self.normalizer.normalize_field(
                    out_name, rules, col, dtype, [out_name], [],
                    setter_scope=scope_cols, setter_cycle=cycle,
                    purge_unknown=self.purge_unknown,
                    allow_unknown=self.allow_unknown,
                )
                norm_violations.append(viol)
            resolved[out_name] = (col, dtype)

        pending = list(colmap)
        while pending:
            progressed = False
            for name in list(pending):
                if all(d in resolved for d in setter_deps.get(name, ())):
                    _resolve_field(name)
                    pending.remove(name)
                    progressed = True
            if not progressed:
                break
        for name in pending:  # circular setter dependencies
            _resolve_field(name, cycle=True)

        norm_exprs: dict[str, tuple[Column, T.DataType]] = {
            name: resolved[name] for name in colmap
        }

        # 2. validation pass over normalized values; originals let
        # `readonly` test pre-normalization presence (absent fields that
        # gained a default must not trip readonly)
        originals = {
            name: (F.lit(None) if colmap[name].expr is None
                   else colmap[name].expr)
            for name in colmap
        }
        scope = Scope(dict(norm_exprs), originals=originals)
        rule_violations = self.compiler.compile_schema(self.schema, scope)

        # 3. unknown-field handling (reference: validator.py:1065-1078)
        unknown_violations: list[Frag] = []
        if self.allow_unknown is False:
            for name, (col, dtype) in norm_exprs.items():
                if name in self.schema.expanded or name in self.key_cols:
                    continue
                # reference: UNKNOWN_FIELD carries an EMPTY schema_path
                # (validator.py:289-291 appends (field, rule) only for
                # other codes)
                unknown_violations.append(
                    make_violation(
                        col.isNotNull(), E.UNKNOWN_FIELD, [name], [],
                        rule=None, value=col, value_dtype=dtype,
                    )
                )
        elif isinstance(self.allow_unknown, Mapping):
            # requirement semantics never apply to unknown fields: the
            # reference validates unknowns through a child validator that
            # only sees fields PRESENT in the document
            # (validator.py:1065-1078), so neither require_all nor an
            # explicit 'required' in the bulk rules-set can fire for an
            # absent unknown (verified live) — compile the bulk set with
            # a requirement-free context
            import dataclasses

            bulk_rules = {k: v for k, v in self.allow_unknown.items()
                          if k != "required"}
            bulk = RuleSetSchema(
                {n: bulk_rules for n, _ in norm_exprs.items()
                 if n not in self.schema.expanded and n not in self.key_cols},
                custom_rules=self._custom_rules,
            )
            bulk_compiler = RuleCompiler(
                dataclasses.replace(self.ctx, require_all=False))
            # reference: bulk-validated unknowns get a '__allow_unknown__'
            # schema crumb at the top level (validator.py:1071-1074)
            unknown_violations.append(
                bulk_compiler.compile_schema(bulk, scope, ["__allow_unknown__"])
            )

        out = collect_violations(
            norm_violations + [rule_violations] + unknown_violations)

        out_cols = [
            norm_exprs[name][0].alias(name) for name in norm_exprs
        ]
        return [
            *out_cols,
            out.violations.alias("violations"),
            (~out.fails).alias("passed"),
        ]

    def validate(self, df: DataFrame) -> ValidationResult:
        return ValidationResult(self.annotate(df), self.key_cols,
                                error_handler=self.error_handler)

    def normalized(self, df: DataFrame) -> DataFrame:
        """Normalization only (reference: normalized(), validator.py:666-688)."""
        return self.annotate(df).drop("violations", "passed")

    def validated(self, df: DataFrame) -> DataFrame:
        """Normalized rows that passed validation — the per-row analog of
        the reference's ``validated()`` returning the normalized document
        or None (validator.py:1053-1063): failing rows are dropped."""
        return self.annotate(df).filter(F.col("passed")).drop("violations", "passed")

"""RuleSet → Catalyst Column compiler.

Compiles one validation schema (the reference engine's declarative rule
language, see ``cerberus_spark.dsl``) into a ``Frag`` pair of Spark
Columns per row: the ``array<violation_struct>`` it emits and a
null-free boolean ``fails`` predicate that is true exactly when that
array is non-empty — both evaluated in ONE projection, fully inside
whole-stage codegen.  No per-row Python anywhere; custom checkers go
through vectorized pandas UDFs.

The reference (/root/reference/cerberus/validator.py) interprets rules
row-at-a-time with an ordered queue and *suppression* semantics
(priority rules ``nullable, readonly, type, empty`` first —
validator.py:107,113 — and handlers that drop remaining rules:
``_drop_remaining_rules`` validator.py:649-662).  This compiler
reproduces those semantics statically as nested boolean *gates*
(``F.when`` guards), so the emitted violation SET matches the
reference's exactly:

* value is NULL        → value-shape rules suppressed
  (reference drop list at validator.py:1376-1394)
* ``type`` mismatch    → all later rules suppressed (validator.py:1110-1115
  break-on-truthy; _validate_type returns True on failure)
* ``empty`` observed   → allowed/forbidden/items/minlength/maxlength/
  regex/check_with suppressed (validator.py:1228-1236)
* ``dependencies`` unmet → all rules queued after it suppressed
  (validator.py:1194-1200 returns True)

Type checks on fixed-schema DataFrame columns are resolved at COMPILE
time against ``df.schema`` (a Spark-first win: the reference re-checks
isinstance per value, validator.py:1528-1560).  Type-quirk parity per
SURVEY.md §1.2 (bool⊂integer, int⊂float, datetime⊂date, str∉list).
"""

from __future__ import annotations

import json
import re
from collections.abc import Mapping, Sequence
from dataclasses import dataclass, field as dc_field
from typing import Callable, NamedTuple

import pandas as pd  # noqa: F401 — needed to resolve pandas_udf type hints
from pyspark.sql import Column, functions as F, types as T

from .. import errors as E
from ..dsl import LOGICAL_OPS, NORMALIZATION_RULES, RuleSetSchema, SchemaError

# ---------------------------------------------------------------------------
# violation construction helpers
# ---------------------------------------------------------------------------

#: Column-expression memo for session-stable constants.  Column objects
#: are immutable expression handles — reusing one across many parent
#: expressions is safe.  Compile is py4j-roundtrip-bound (~0.2 ms per
#: command on this box), so shaving the 5-ish commands these constants
#: each cost × hundreds of call sites is a real fraction of wide-schema
#: compiles.  Entries are keyed by id(context) BUT validated against a
#: weakref to the context object itself: CPython can reuse a
#: garbage-collected context's id for a NEW context, and a bare-id key
#: would then serve Column handles built under the dead session (r4
#: ADVICE).  The weakref check is pure Python — no py4j roundtrip — so
#: the memo's whole point survives.
_CONST_MEMO: dict = {}


def _memo_const(name: str, build):
    import weakref

    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    key = (id(sc), name)
    entry = _CONST_MEMO.get(key)
    if entry is not None and entry[0]() is sc:
        return entry[1]
    if len(_CONST_MEMO) > 64:  # new session: drop stale handles
        _CONST_MEMO.clear()
    col = build()
    _CONST_MEMO[key] = (weakref.ref(sc) if sc is not None else (lambda: None),
                        col)
    return col


def empty_violations() -> Column:
    """A typed empty array<violation>."""
    return _memo_const(
        "empty_violations",
        lambda: F.array().cast(T.ArrayType(E.VIOLATION_STRUCT)))


def null_string() -> Column:
    """A typed NULL string literal (memoized)."""
    return _memo_const("null_string", lambda: F.lit(None).cast("string"))


def stringify(col: Column, dtype: T.DataType | None) -> Column:
    """Serialize a value column to its string form for the violation row."""
    if dtype is None:
        return null_string()
    if isinstance(dtype, (T.ArrayType, T.MapType, T.StructType)):
        return F.to_json(col)
    if isinstance(dtype, T.BinaryType):
        return F.base64(col)
    return col.cast("string")


def _path_col(elems: Sequence) -> Column:
    """Build an array<string> path Column from static strings / Columns."""
    cols = [e.cast("string") if isinstance(e, Column) else F.lit(str(e)) for e in elems]
    if not cols:
        return F.array().cast(T.ArrayType(T.StringType()))
    return F.array(*cols)


def _false() -> Column:
    return _memo_const("false", lambda: F.lit(False))


class Frag(NamedTuple):
    """A compiled violation fragment: the ``array<violation>`` it emits
    and its fail predicate — never NULL, and true exactly when
    ``violations`` is non-empty.  Consumers that only need pass/fail
    select ``fails`` and never build a violation struct."""

    violations: Column
    fails: Column


def no_violations() -> Frag:
    """The fragment of a rule that can never fire."""
    return Frag(empty_violations(), _false())


def make_violation(
    cond: Column,
    error_def: E.ErrorDefinition,
    doc_path: Sequence,
    schema_path: Sequence,
    *,
    rule: str | None = None,
    constraint=None,
    value: Column | None = None,
    value_dtype: T.DataType | None = None,
    info: Column | str | None = None,
) -> Frag:
    """A violation FRAGMENT: ``CASE WHEN cond THEN array(struct) ELSE
    array() END`` paired with the fail predicate ``coalesce(cond,
    false)``.  Both wrap the SAME ``cond`` Column, so a Python-UDF rule
    inside it is one UDF evaluation even when both are selected.

    Fragments compose by pure ``concat`` (fails: OR) and ``F.when``
    gates (fails: AND) — deliberately NO higher-order function (no
    ``filter``/``exists`` lambda) around flat rules: HOFs are
    CodegenFallback expressions, and one in the projection interprets
    its entire child subtree per row — measured ~30× slower on the flat
    transcript rule-set.  This shape keeps the whole per-row validation
    inside whole-stage codegen.  Nested rules, which run per element
    inside a ``transform`` lambda anyway, sit behind an ``exists`` guard
    over their elements' fail predicates (``per_element``), so the
    struct-building ``transform`` only runs for rows where some element
    fails."""
    constraint_str = (
        constraint
        if isinstance(constraint, Column)
        else (null_string() if constraint is None
              else F.lit(json.dumps(constraint, default=str)))
    )
    info_col = (
        info if isinstance(info, Column)
        else (null_string() if info is None else F.lit(str(info)))
    )
    struct = F.struct(
        _path_col(doc_path).alias("document_path"),
        _path_col(schema_path).alias("schema_path"),
        F.lit(error_def.code).cast("int").alias("code"),
        F.lit(rule if rule is not None else error_def.rule).cast("string").alias("rule"),
        constraint_str.cast("string").alias("constraint"),
        (stringify(value, value_dtype) if value is not None else null_string()).alias("value"),
        info_col.cast("string").alias("info"),
    )
    return Frag(F.when(cond, F.array(struct)).otherwise(empty_violations()),
                F.coalesce(cond, _false()))


def _any(preds: list[Column]) -> Column:
    """OR of null-free predicates as a balanced tree (a left-deep chain
    over a wide schema's hundreds of rules nests as deep as it is
    long)."""
    while len(preds) > 1:
        preds = [preds[i] | preds[i + 1] if i + 1 < len(preds) else preds[i]
                 for i in range(0, len(preds), 2)]
    return preds[0]


def collect_violations(fragments: list[Frag | None]) -> Frag:
    """Concatenate violation fragments; the fail predicates OR."""
    fragments = [f for f in fragments if f is not None]
    if not fragments:
        return no_violations()
    if len(fragments) == 1:
        return fragments[0]
    return Frag(F.concat(*[f.violations for f in fragments]),
                _any([f.fails for f in fragments]))


def guard(gate: Column, frag: Frag) -> Frag:
    """``frag`` where ``gate`` holds, nothing elsewhere (a NULL gate
    counts as false)."""
    return Frag(F.when(gate, frag.violations).otherwise(empty_violations()),
                F.coalesce(gate & frag.fails, _false()))


def per_element(gate: Column, elems: Column,
                element: Callable[[Column, Column | str], Frag]) -> Frag:
    """Rules run on every element of the array ``elems`` where ``gate``
    holds; ``element(x, i)`` compiles one element's fragment, ``i``
    being its index for the document path.

    The fail predicate is ``gate AND exists(elems, x -> fails(x))``, and
    the same predicate guards the violation-building ``flatten(
    transform(...))``, which therefore runs only for rows where some
    element fails.  The guard compiles its own copy of the element
    rules with a constant index, so it cannot depend on the index (the
    ``exists`` lambda has none); the fail predicates being null-free
    keeps three-valued ``exists`` out of NULL.  The guard is exact: it
    is false only when every element's fragment is empty."""
    fails = F.coalesce(
        gate & F.exists(elems, lambda x: element(x, "*").fails), _false())
    arr = F.flatten(F.transform(elems, lambda x, i: element(x, i).violations))
    return Frag(F.when(fails, arr).otherwise(empty_violations()), fails)


# ---------------------------------------------------------------------------
# static type checking (SURVEY.md §1.2 quirk-preserving mapping)
# ---------------------------------------------------------------------------

_INT_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_FLOAT_TYPES = (T.FloatType, T.DoubleType, T.DecimalType)


def spark_type_matches(dtype: T.DataType, name: str) -> bool:
    """Does a Spark column type satisfy a reference type name?

    Quirks preserved (reference: validator.py:118-131):
    bool passes ``integer`` (bool ⊂ int), int passes ``float``,
    ``number`` excludes bool, datetime passes ``date`` (subclass),
    strings are NOT ``list``/``container``.
    """
    if name == "string":
        return isinstance(dtype, T.StringType)
    if name == "integer":
        return isinstance(dtype, _INT_TYPES + (T.BooleanType,))
    if name == "float":
        # bool ⊂ int ⊂ float: TypeDefinition('float', (float, _int_types), ())
        # with bool subclassing int (validator.py:118-131) — a boolean
        # column passes 'float' exactly like it passes 'integer'
        return isinstance(dtype, _FLOAT_TYPES + _INT_TYPES + (T.BooleanType,))
    if name == "number":
        return isinstance(dtype, _FLOAT_TYPES + _INT_TYPES)
    if name == "boolean":
        return isinstance(dtype, T.BooleanType)
    if name == "binary":
        return isinstance(dtype, T.BinaryType)
    if name == "date":
        return isinstance(dtype, (T.DateType, T.TimestampType, T.TimestampNTZType))
    if name == "datetime":
        return isinstance(dtype, (T.TimestampType, T.TimestampNTZType))
    if name == "dict":
        return isinstance(dtype, (T.StructType, T.MapType))
    if name in ("list", "set"):
        return isinstance(dtype, T.ArrayType)
    if name == "container":
        return isinstance(dtype, (T.ArrayType, T.MapType, T.StructType))
    raise SchemaError(f"unknown type name '{name}'")


def check_type(dtype: T.DataType, constraint, custom: Mapping | None = None) -> bool:
    """Static type check; ``custom`` maps registered custom type names to
    ``fn(dtype) -> bool`` predicates (the analog of extending the
    reference's types_mapping, docs/customize.rst:73-115)."""
    names = [constraint] if isinstance(constraint, str) else list(constraint)
    ok = False
    for n in names:
        if custom and n in custom:
            ok = ok or bool(custom[n](dtype))
        else:
            ok = ok or spark_type_matches(dtype, n)
    return ok


def _sized_len(col: Column, dtype: T.DataType) -> Column | None:
    """len(value) for Sized/Iterable values; None when not length-bearing."""
    if isinstance(dtype, (T.StringType, T.BinaryType)):
        return F.length(col)
    if isinstance(dtype, (T.ArrayType, T.MapType)):
        return F.size(col)
    if isinstance(dtype, T.StructType):
        return F.lit(len(dtype.fields))
    return None


def _comparable(dtype: T.DataType, constraint) -> bool:
    """Can `value < constraint` succeed?  The reference silently passes
    min/max on TypeError (validator.py:1343-1357); we mirror that by
    skipping the rule at compile time for incomparable pairs."""
    import datetime as _dt

    numeric = _INT_TYPES + _FLOAT_TYPES + (T.BooleanType,)
    if isinstance(dtype, numeric):
        return isinstance(constraint, (int, float))  # bool ⊂ int: comparable
    if isinstance(dtype, T.StringType):
        return isinstance(constraint, str)
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return isinstance(constraint, _dt.datetime)
    if isinstance(dtype, T.DateType):
        return isinstance(constraint, _dt.date)
    return False


# ---------------------------------------------------------------------------
# dynamic (runtime, per-value) type checking for string payloads
# ---------------------------------------------------------------------------

#: serialized-literal classifiers for dynamic payload values.  Convention:
#: a map<string,string> payload column carries typed values as string
#: literals; the parse-back rules below define which reference Python type
#: each literal denotes, and the differential oracle parses documents with
#: the same rules (tests/test_differential_oracle.py::_parse_back).
_DYN_INT_RE = "^[+-]?[0-9]+$"
_DYN_FLOAT_RE = r"^[+-]?([0-9]+[.][0-9]*|[.]?[0-9]+)([eE][+-]?[0-9]+)?$"
_DYN_DATE_ONLY_RE = "^[0-9]{4}-[0-9]{2}-[0-9]{2}$"


def dynamic_type_ok(value: Column, constraint) -> Column:
    """Per-value runtime type check for a string-typed dynamic payload —
    the engine analog of the reference's isinstance dispatch
    (validator.py:1528-1560), evaluated with try_cast/rlike so it stays
    inside codegen.  Type quirks preserved (SURVEY.md §1.2 /
    validator.py:118-131): bool ⊂ integer, int ⊂ float, ``number``
    excludes bool, datetime ⊂ date, scalars are never list/dict."""
    names = [constraint] if isinstance(constraint, str) else list(constraint)
    is_int = value.rlike(_DYN_INT_RE)
    is_float = value.rlike(_DYN_FLOAT_RE)  # integer literals match too
    is_bool = F.lower(value).isin("true", "false")
    is_numericish = is_int | is_float | is_bool
    is_date = value.try_cast("date").isNotNull() & ~is_numericish
    is_datetime = is_date & ~value.rlike(_DYN_DATE_ONLY_RE)
    per = []
    for n in names:
        if n == "string":
            # parse-back: a literal that denotes an int/float/bool/date is
            # no longer a Python str in the reference document
            per.append(~is_numericish & ~is_date)
        elif n == "integer":
            per.append(is_int | is_bool)  # bool ⊂ int (validator.py:126)
        elif n == "float":
            # int ⊂ float AND bool ⊂ int ⊂ float: TypeDefinition('float',
            # (float, _int_types), ()) with bool subclassing int
            # (validator.py:118-131) — so a bool literal passes 'float'
            per.append(is_float | is_bool)
        elif n == "number":
            per.append(is_float & ~is_bool)  # bool excluded (validator.py:128)
        elif n == "boolean":
            per.append(is_bool)
        elif n == "date":
            per.append(is_date)  # datetime ⊂ date (datetime subclasses date)
        elif n == "datetime":
            per.append(is_datetime)
        elif n in ("dict", "list", "set", "container", "binary"):
            per.append(F.lit(False))  # a scalar string is none of these
        else:
            raise SchemaError(f"unknown type name '{n}'")
    ok = per[0]
    for p in per[1:]:
        ok = ok | p
    return ok


def dynamic_is_string(value: Column) -> Column:
    """Does a dynamic payload literal denote a Python str after
    parse-back?  (Used to gate string-only rules — regex, length
    bounds, string comparisons — exactly like the reference's
    isinstance/TypeError silent passes.)"""
    return dynamic_type_ok(value, "string")


def dynamic_numeric(value: Column) -> Column:
    """Numeric view of a dynamic payload literal for min/max: float/int
    literals via try_cast, bools as 1/0 (bool ⊂ int ordering in the
    reference); anything else NULL → the comparison is NULL → the rule
    passes silently, mirroring the reference's TypeError pass
    (validator.py:1343-1357)."""
    return F.coalesce(
        value.try_cast("double"),
        F.when(F.lower(value) == "true", F.lit(1.0))
         .when(F.lower(value) == "false", F.lit(0.0)),
    )


def _scalar_checker_udf(fn: Callable, arity: int, field_name: str):
    """Wrap a plain Python checker in a vectorized (Arrow-batched)
    pandas UDF returning the per-value pass/fail boolean.

    * arity 1: ``fn(value) -> truthy``; an exception counts as failure
    * arity 3: reference signature ``fn(field, value, error)``
      (validator.py:1138-1151) — any ``error(...)`` call or exception
      counts as failure

    NULL values pass (the compiler's gates already suppress rules on
    NULL per the reference's drop list)."""

    @F.pandas_udf(T.BooleanType())
    def _check(s: pd.Series) -> pd.Series:
        def one(v):
            if v is None:
                return True
            try:
                if arity == 1:
                    return bool(fn(v))
                failures: list = []
                fn(field_name, v, lambda *a, **kw: failures.append(a))
                return not failures
            except Exception:
                return False

        return s.map(one)

    return _check


def _scalar_rule_udf(fn: Callable, constraint):
    """Wrap a scalar custom-rule predicate ``fn(constraint, value)`` in
    a vectorized (Arrow-batched) pandas UDF; the constraint is a
    driver-side literal closed over per compilation.  NULL values pass
    (the gate already suppresses the rule) and exceptions fail, like
    ``_scalar_checker_udf``."""

    @F.pandas_udf(T.BooleanType())
    def _check(s: pd.Series) -> pd.Series:
        def one(v):
            if v is None:
                return True
            try:
                return bool(fn(constraint, v))
            except Exception:
                return False

        return s.map(one)

    return _check


# Python-only regex constructs that the JVM dialect can't express → the
# compiler falls back to an exact-parity vectorized pandas UDF using `re`.
_PY_ONLY_REGEX = re.compile(r"\(\?P[<=]|\\Z|\(\?\(|\\A")


def _jvm_regex(pattern: str) -> str:
    """Reference semantics: re.match + auto-appended '$'
    (validator.py:1429-1437) → explicitly anchored JVM pattern."""
    if not pattern.endswith("$"):
        pattern = pattern + "$"
    return "^(?:" + pattern + ")"


# ---------------------------------------------------------------------------
# compile context & scopes
# ---------------------------------------------------------------------------


@dataclass
class CompileContext:
    """Driver-side state shared across one schema compilation."""

    # NULL convention (SURVEY.md §1.4): 'absent' — NULL means the key is
    # missing (required fires, no other rule runs on NULL); 'none' — NULL
    # means the key is present with value None (nullable fires, required
    # never does, null-surviving rules still run).  The differential
    # oracle builds reference documents accordingly.
    null_semantics: str = "absent"
    #: reference ``Validator(ignore_none_values=True)`` (validator.py:146,
    #: 478-487, gate at 1036 + required accounting at 1458-1462): a None
    #: VALUE is skipped by every rule and counts as MISSING for
    #: ``required``.  Only meaningful under 'none' semantics — 'absent'
    #: already treats NULL exactly that way.  Membership tests on OTHER
    #: fields (dependencies targets, excludes co-presence) are NOT
    #: affected: the reference checks raw document membership, where a
    #: present-None key still counts.  Normalization is also untouched
    #: by the flag: renames move present-None keys, and
    #: __normalize_default_fields (validator.py:944-953) fills defaults
    #: for missing keys AND for non-nullable present-None fields, with
    #: or without ignore_none_values.
    ignore_none_values: bool = False
    require_all: bool = False
    allow_unknown: object = False
    update: bool = False
    check_with_registry: dict[str, Callable] = dc_field(default_factory=dict)
    #: runtime per-value type checks for string values inside dynamic
    #: containers (map keysrules/valuesrules/fixed-key subschemas) — the
    #: try_cast path SURVEY §2.1 row 4 names; typed top-level columns
    #: keep the compile-time static check.  Opt-in: it changes what a
    #: map<string,string> payload MEANS (values become serialized typed
    #: literals under the parse-back convention of dynamic_type_ok)
    #: rather than plain strings.
    dynamic_types: bool = False
    #: also emit each *of sub-definition's child violations when the
    #: logical rule fails (schema_path crumb: [..., op, i, rule]),
    #: matching the reference's per-definition child errors
    #: (errors.py:594-650 path rewriting).  Off by default: the
    #: differential oracle pins the single-leaf shape.
    logical_child_errors: bool = False
    #: custom type registry: name -> fn(Spark DataType) -> bool, the
    #: analog of extending the reference's types_mapping
    #: (docs/customize.rst:73-115; the benchmark's 'path' type)
    custom_types: dict[str, Callable] = dc_field(default_factory=dict)
    #: custom NAMED rules: name -> fn, the analog of defining
    #: ``_validate_<rule>`` methods on a Validator subclass
    #: (validator.py:1584-1671, docs/customize.rst:21-67).  Two shapes,
    #: resolved by arity: ``fn(constraint, value_col, dtype) -> Column``
    #: (ok-column, stays in codegen) or ``fn(constraint, value) -> bool``
    #: (scalar, auto-wrapped in a vectorized pandas UDF).  Rule names in
    #: schemas may use spaces for underscores, like the reference.
    custom_rules: dict[str, Callable] = dc_field(default_factory=dict)

    @property
    def none_skips_rules(self) -> bool:
        """True when a NULL value runs NO rule and counts as missing for
        ``required``: 'absent' semantics by convention, or 'none'
        semantics with ``ignore_none_values`` (validator.py:1036)."""
        return self.null_semantics == "absent" or self.ignore_none_values


class Scope:
    """Field resolution at one nesting level (top-level row or a struct).

    Mirrors the reference's child-validator chain with document crumbs
    (validator.py:315-360) — but purely at compile time.
    """

    def __init__(
        self,
        fields: dict[str, tuple[Column, T.DataType]],
        doc_path: Sequence = (),
        parent: "Scope | None" = None,
        dynamic: bool = False,
        originals: dict[str, Column] | None = None,
    ):
        self.fields = fields
        self.doc_path = tuple(doc_path)
        self.parent = parent
        #: True when the scope's values come out of a dynamic container
        #: (MapType) — string values there carry serialized typed literals
        #: and get runtime type checks instead of static ones
        self.dynamic = dynamic
        #: pre-normalization value expressions — `readonly` tests presence
        #: in the INPUT document (the reference checks readonly before
        #: defaults fire, validator.py:939-945, so readonly+default fills
        #: absent keys without erroring)
        self.originals = originals or {}

    @property
    def root(self) -> "Scope":
        s = self
        while s.parent is not None:
            s = s.parent
        return s

    def lookup(self, path: str) -> tuple[Column | None, T.DataType | None]:
        """Resolve a dependencies dot-path; '^' prefix = from root
        (reference: _lookup_field validator.py:395-423)."""
        scope = self
        if path.startswith("^"):
            scope = self.root
            path = path[1:]
        parts = path.split(".")
        col, dtype = scope.fields.get(parts[0], (None, None))
        for p in parts[1:]:
            if col is None:
                return None, None
            if isinstance(dtype, T.StructType):
                names = {f.name: f.dataType for f in dtype.fields}
                if p not in names:
                    return None, None
                col, dtype = col.getField(p), names[p]
            elif isinstance(dtype, T.MapType):
                col, dtype = col.getItem(p), dtype.valueType
            else:
                return None, None
        return col, dtype


# ---------------------------------------------------------------------------
# the compiler
# ---------------------------------------------------------------------------


class RuleCompiler:
    """Compiles an expanded schema into per-field violation fragments
    (``Frag``: violation array + fail predicate)."""

    def __init__(self, ctx: CompileContext):
        self.ctx = ctx

    # -- top level ---------------------------------------------------------

    def compile_schema(
        self, schema: RuleSetSchema | Mapping, scope: Scope, schema_path: Sequence = ()
    ) -> Frag:
        """All violations for one mapping level: per-field rules +
        required-fields check + unknown-field handling."""
        expanded = schema.expanded if isinstance(schema, RuleSetSchema) else dict(schema)

        # excludes ↔ required interplay (reference: validator.py:1245-1254,
        # 1461-1477).  A required field f loses its required error exactly
        # when some *present* required field g declares `excludes: [... f]`
        # (g present ⇒ its excludes handler ran ⇒ f was added to
        # _unrequired_by_excludes).  Compile as a per-field OR-of-presence
        # guard; under 'none' semantics the group instead needs ≥1 non-null
        # member (the xor support block at validator.py:1473-1477).
        unrequire_guard: dict[str, list[Column]] = {}
        excl_group: set[str] = set()
        group_ran: list[Column] = []
        for fname, rules in expanded.items():
            if "excludes" not in rules:
                continue
            f_required = rules.get("required", self.ctx.require_all) is True
            if not f_required:
                continue
            f_col, f_dtype = scope.fields.get(fname, (None, None))
            # the waiver exists only if the declarer's excludes handler
            # actually RAN: a type failure on the declarer breaks its rule
            # queue before excludes (validator.py:1110-1115), so its
            # targets stay required (verified live: a present excluder
            # with a failing type does NOT waive the target's required;
            # an EMPTY-failing one still does — empty doesn't suppress)
            static_type_ok = not (
                "type" in rules and f_dtype is not None
                and not check_type(f_dtype, rules["type"], self.ctx.custom_types))
            excluded = rules["excludes"]
            excluded = [excluded] if isinstance(excluded, str) else list(excluded)
            if self.ctx.null_semantics == "none" and not self.ctx.ignore_none_values:
                # present-None declarers skip the type rule entirely, so
                # their excludes handler runs even when the static type
                # can never match a NON-null value — registration is
                # therefore per-row: always for a type-sound declarer,
                # only on None for a type-mismatched one.  (Under
                # ignore_none_values a None declarer skips its whole rule
                # queue, so registration needs declarer non-null AND
                # type-sound — exactly the 'absent' branch below.)
                if f_col is None:
                    continue
                group_ran.append(F.lit(True) if static_type_ok else f_col.isNull())
                excl_group.add(fname)
                for ex in excluded:
                    if ex in expanded:
                        excl_group.add(ex)
                continue
            if not static_type_ok:
                continue  # 'absent': non-null values always fail type → never runs
            excl_group.add(fname)
            if f_col is not None:
                unrequire_guard.setdefault(fname, []).append(f_col.isNotNull())
                for ex in excluded:
                    if ex in expanded:
                        unrequire_guard.setdefault(ex, []).append(f_col.isNotNull())
                        excl_group.add(ex)

        arrays: list[Frag] = []

        if self.ctx.null_semantics == "none" and group_ran and not self.ctx.update:
            # at least one member of the exclusion group must be non-null
            # — checked only when some declarer's excludes handler RAN on
            # this row (validator.py:1473-1477 guarded by a non-empty
            # _unrequired_by_excludes)
            members = [
                (u, scope.fields.get(u, (None, None))[0]) for u in sorted(excl_group)
            ]
            all_null = F.lit(True)
            for _u, c in members:
                all_null = all_null & (F.lit(True) if c is None else c.isNull())
            ran_any = group_ran[0]
            for g in group_ran[1:]:
                ran_any = ran_any | g
            arrays.append(
                collect_violations([
                    make_violation(
                        ran_any & all_null, E.REQUIRED_FIELD,
                        list(scope.doc_path) + [u],
                        # reference path quirk: required-by-require_all
                        # carries the literal '__require_all__' crumb
                        (list(schema_path) + [u, "required"]
                         if "required" in expanded.get(u, {})
                         else ["__require_all__"]),
                        constraint=True,
                    )
                    for u, _c in members
                ])
            )
        for fname, rules in expanded.items():
            col, dtype = scope.fields.get(fname, (None, None))
            if col is None:
                # column absent from the DataFrame entirely: required fields
                # fail on every row; other rules can never fire.  The
                # excludes waiver still applies — a present excluder
                # relieves even a field the frame doesn't carry.
                if self._is_required(schema_path, fname, rules):
                    req_cond = F.lit(True)
                    for waiver in unrequire_guard.get(fname, ()):
                        req_cond = req_cond & ~waiver
                    arrays.append(
                        make_violation(
                            req_cond, E.REQUIRED_FIELD,
                            list(scope.doc_path) + [fname],
                            list(schema_path) + [fname, "required"],
                            constraint=True,
                        )
                    )
                continue
            arrays.append(
                self.compile_field(
                    fname, rules, col, dtype, scope, schema_path,
                    unrequire=unrequire_guard.get(fname),
                )
            )

        # unknown columns (reference: __validate_unknown_fields
        # validator.py:1065-1078) — handled by the engine at top level where
        # the full column set is known; nested struct levels are closed-world
        # by construction (Spark structs are fixed-schema).
        return collect_violations(arrays)

    def _abs(self, schema_path, fname) -> tuple:
        return tuple(schema_path) + (fname,)

    def _is_required(self, schema_path, fname, rules) -> bool:
        if self.ctx.update:
            return False
        # strict `is True` check mirrors validator.py:1450-1455
        return rules.get("required", self.ctx.require_all) is True

    # -- one field -----------------------------------------------------------

    def compile_field(
        self,
        fname: str,
        rules: Mapping,
        value: Column,
        dtype: T.DataType,
        scope: Scope,
        schema_path: Sequence,
        unrequire: list[Column] | None = None,
    ) -> Frag:
        doc_path = list(scope.doc_path) + [fname]
        spath = list(schema_path) + [fname]
        return self.compile_rules(
            rules, value, dtype, doc_path, spath, scope, field_name=fname,
            unrequire=unrequire, dynamic=scope.dynamic,
            original=scope.originals.get(fname),
        )

    def compile_rules(
        self,
        rules: Mapping,
        value: Column,
        dtype: T.DataType,
        doc_path: Sequence,
        spath: Sequence,
        scope: Scope,
        field_name: str | None = None,
        unrequire: list[Column] | None = None,
        dynamic: bool = False,
        original: Column | None = None,
    ) -> Frag:
        """Compile one rules-set applied to one value expression.

        ``doc_path`` elements may be Columns (dynamic list indices).
        ``spath`` is the static schema path ending at the field name.
        ``dynamic`` marks values drawn from a dynamic container (map):
        string values there get runtime per-value type checks.
        """
        ctx = self.ctx
        out: list[Frag] = []
        nested_arrays: list[Frag] = []

        present = value.isNotNull()
        is_null = value.isNull()
        nullable = bool(rules.get("nullable", False))
        required = self._is_required(tuple(spath[:-1]), spath[-1], rules)

        # --- existence / nullability (missing := NULL convention, SURVEY §1.4;
        # 'none' + ignore_none_values behaves like 'absent' HERE: None is
        # missing for required, and no nullable error is emitted)
        if ctx.none_skips_rules:
            if required:
                req_cond = is_null
                for waiver in unrequire or ():
                    req_cond = req_cond & ~waiver
                # reference quirk: when required comes from require_all (no
                # explicit rule), schema_path is the literal string
                # '__require_all__' (validator.py:300-304)
                req_spath = (
                    list(spath) + ["required"] if "required" in rules
                    else ["__require_all__"]
                )
                out.append(
                    make_violation(
                        req_cond, E.REQUIRED_FIELD, doc_path, req_spath,
                        constraint=rules.get("required", True),
                    )
                )
        else:  # 'none': the key is always present; nullable is the mandatory
            # check run on every field (validator.py:107,1371-1394)
            if not nullable:
                out.append(
                    make_violation(
                        is_null, E.NOT_NULLABLE, doc_path, list(spath) + ["nullable"],
                        constraint=False,
                    )
                )

        # --- readonly (validation-phase part; purge is a normalization op).
        # Presence is tested on the PRE-NORMALIZATION value: the reference
        # checks readonly before defaults fire (validator.py:939-945), so
        # readonly+default fills an absent key without erroring while any
        # input-provided value errors.
        if rules.get("readonly"):
            input_present = (original if original is not None else value).isNotNull()
            out.append(
                make_violation(
                    input_present, E.READONLY_FIELD, doc_path, list(spath) + ["readonly"],
                    constraint=True,
                )
            )
            return collect_violations(out)  # suppresses everything else

        # --- type: static compile-time vs df.schema for typed columns;
        # runtime per-value (try_cast/rlike classifiers) for string values
        # inside dynamic containers (validator.py:1528-1560)
        type_ok_col = F.lit(True)
        if "type" in rules:
            _tnames = ([rules["type"]] if isinstance(rules["type"], str)
                       else list(rules["type"]))
            _has_custom = any(n in ctx.custom_types for n in _tnames)
            if (dynamic and ctx.dynamic_types and isinstance(dtype, T.StringType)
                    and not _has_custom):
                type_ok_col = dynamic_type_ok(value, rules["type"])
                out.append(
                    make_violation(
                        present & ~type_ok_col, E.BAD_TYPE, doc_path,
                        list(spath) + ["type"],
                        constraint=rules["type"], value=value, value_dtype=dtype,
                    )
                )
            elif not check_type(dtype, rules["type"], self.ctx.custom_types):
                type_ok_col = F.lit(False)
                out.append(
                    make_violation(
                        present, E.BAD_TYPE, doc_path, list(spath) + ["type"],
                        constraint=rules["type"], value=value, value_dtype=dtype,
                    )
                )

        # value-shape rules run only on non-null values of the right type
        # (a type failure suppresses all later rules — validator.py:1110-1115)
        value_gate = present & type_ok_col
        # rules NOT suppressed by a null value (validator.py:1376-1394 drop
        # list omits dependencies/excludes/check_with/contains) still die on
        # a type break for non-null values.  Under 'absent' semantics a NULL
        # field is missing entirely, so no rule runs on it at all
        # (validator.py:1035-1042 iterates document fields only).  With
        # ignore_none_values the 'none' convention ALSO skips every rule
        # on a None value (validator.py:1036 `continue`).
        if ctx.none_skips_rules:
            null_surviving_gate = value_gate
        else:
            null_surviving_gate = is_null | type_ok_col

        # --- empty gate (validator.py:1225-1238)
        gate7 = value_gate
        if "empty" in rules:
            ln = _sized_len(value, dtype)
            if ln is not None:
                is_empty = ln == 0
                gate7 = value_gate & ~is_empty
                if not rules["empty"]:
                    out.append(
                        make_violation(
                            value_gate & is_empty, E.EMPTY_NOT_ALLOWED,
                            doc_path, list(spath) + ["empty"], constraint=False,
                        )
                    )

        # --- iterate remaining rules in schema-dict order.
        # NOTE a failed `dependencies` does NOT suppress later rules in
        # reference 1.3.5: _validate_dependencies (validator.py:1194-1200)
        # only returns truthy when document_error_tree.fetch_node_from(
        # schema_path + (field, 'dependencies')) matches — but that tree is
        # keyed by DOCUMENT paths, so the lookup never matches (verified
        # live: {'x': {'dependencies': ['y'], 'allowed': ['a']}} over
        # {'x': 'b'} emits BOTH 0x04 and 0x44).  The break-on-truthy is the
        # "TODO remove on next breaking release" path (validator.py:1110).
        dyn_mode = dynamic and ctx.dynamic_types and isinstance(dtype, T.StringType)

        for rule, constraint in rules.items():
            if rule in (
                "nullable", "readonly", "type", "empty", "required", "meta",
                "allow_unknown", "require_all",
            ) or rule in NORMALIZATION_RULES:
                continue
            g_value = value_gate
            g7 = gate7
            g_null_ok = null_surviving_gate

            if rule == "allowed":
                out.append(self._c_allowed(constraint, value, dtype, g7, doc_path, spath))
            elif rule == "forbidden":
                out.append(self._c_forbidden(constraint, value, dtype, g7, doc_path, spath))
            elif rule == "contains":
                out.append(self._c_contains(constraint, value, dtype, g_null_ok & present, doc_path, spath))
            elif rule == "regex":
                # dynamic payloads: regex only applies to str-denoting
                # literals (reference tests regex on str only,
                # validator.py:1429-1437)
                g_rx = g7 & dynamic_is_string(value) if dyn_mode else g7
                v = self._c_regex(constraint, value, dtype, g_rx, doc_path, spath)
                if v is not None:
                    out.append(v)
            elif rule in ("min", "max"):
                v = self._c_minmax(rule, constraint, value, dtype, g_value,
                                   doc_path, spath, dynamic=dyn_mode)
                if v is not None:
                    out.append(v)
            elif rule in ("minlength", "maxlength"):
                g_len = g7 & dynamic_is_string(value) if dyn_mode else g7
                v = self._c_length(rule, constraint, value, dtype, g_len, doc_path, spath)
                if v is not None:
                    out.append(v)
            elif rule == "items":
                arr = self._c_items(constraint, value, dtype, g7, doc_path, spath, scope)
                out.extend(arr[0])
                nested_arrays.extend(arr[1])
            elif rule == "schema":
                nested_arrays.append(
                    self._c_schema(constraint, value, dtype, g_value, doc_path, spath, scope)
                )
            elif rule == "keysrules":
                nested_arrays.append(
                    self._c_keysrules(constraint, value, dtype, g_value, doc_path, spath, scope)
                )
            elif rule == "valuesrules":
                nested_arrays.append(
                    self._c_valuesrules(constraint, value, dtype, g_value, doc_path, spath, scope)
                )
            elif rule in LOGICAL_OPS:
                out.append(
                    self._c_logical(rule, constraint, rules, value, dtype, g_value,
                                    doc_path, spath, scope, dynamic=dynamic)
                )
            elif rule == "dependencies":
                dep_violation, _dep_ok = self._c_dependencies(
                    constraint, value, g_null_ok, doc_path, spath, scope
                )
                out.extend(dep_violation)
            elif rule == "excludes":
                # 'none' semantics: excludes is NOT in the None drop list
                # (validator.py:1376-1394) — it runs on a present-None
                # field too (unless ignore_none_values skips the whole
                # queue on None, validator.py:1036)
                ex_gate = (g_null_ok if not ctx.none_skips_rules
                           else g_null_ok & present)
                out.append(self._c_excludes(constraint, value, ex_gate, doc_path, spath, scope))
            elif rule == "check_with":
                out.extend(self._c_check_with(constraint, value, dtype, g7, doc_path, spath))
            elif rule.replace(" ", "_") in ctx.custom_rules:
                out.append(self._c_custom_rule(
                    rule.replace(" ", "_"), constraint, value, dtype, g_value,
                    doc_path, spath,
                ))
            else:  # pragma: no cover — dsl.validate_schema blocks unknown rules
                raise SchemaError(f"rule '{rule}' not supported by the compiler")

        return collect_violations(out + nested_arrays)

    # -- individual rules ---------------------------------------------------

    @staticmethod
    def _compat_consts(dtype: T.DataType, consts) -> tuple[list, list]:
        """Partition constraint constants into (comparable-with-this-
        column-type — converted where needed, never-equal).  Implements
        the reference's Python equality semantics: cross-type constants
        can never match (so they are not castable errors waiting to
        happen under ANSI mode), while bool↔int equivalence (True == 1)
        is preserved."""
        import decimal as _decimal
        numeric = _FLOAT_TYPES + _INT_TYPES
        keep, dropped = [], []
        for v in consts:
            if isinstance(dtype, T.StringType):
                (keep if isinstance(v, str) else dropped).append(v)
            elif isinstance(dtype, numeric):
                if isinstance(v, bool):
                    keep.append(int(v))  # True == 1 in the reference
                elif isinstance(v, (int, float)):
                    keep.append(v)
                elif isinstance(v, _decimal.Decimal) and v.is_finite():
                    # Decimal('1') == 1 == 1.0 under the reference's
                    # Python equality — comparable with numeric columns.
                    # Integral decimals become int (exact at any width);
                    # fractional ones become float (the column-side
                    # comparison is float anyway for non-Decimal columns)
                    keep.append(int(v) if v == v.to_integral_value()
                                else float(v))
                else:
                    dropped.append(v)
            elif isinstance(dtype, T.BooleanType):
                if isinstance(v, bool):
                    keep.append(v)
                elif isinstance(v, int) and v in (0, 1):
                    keep.append(bool(v))
                elif isinstance(v, _decimal.Decimal) and v in (0, 1):
                    keep.append(bool(v))  # Decimal(1) == True in Python
                else:
                    dropped.append(v)
            elif isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
                (keep if isinstance(v, _dt.datetime) else dropped).append(v)
            elif isinstance(dtype, T.DateType):
                (keep if isinstance(v, _dt.date)
                 and not isinstance(v, _dt.datetime) else dropped).append(v)
            else:
                keep.append(v)
        return keep, dropped

    @classmethod
    def _membership(cls, value: Column, dtype: T.DataType, consts) -> Column:
        """Type-safe ``value IN consts`` (see ``_compat_consts``);
        NULL-safe (NULL value → False)."""
        keep, _ = cls._compat_consts(dtype, consts)
        if not keep:
            return F.lit(False)
        return F.coalesce(value.isin(*keep), F.lit(False))

    def _c_allowed(self, allowed, value, dtype, gate, doc_path, spath):
        """reference: validator.py:1128-1136"""
        spath2 = list(spath) + ["allowed"]
        if isinstance(dtype, T.ArrayType):
            elem_dt = dtype.elementType
            offenders = F.filter(
                value, lambda x: x.isNull() | ~self._membership(x, elem_dt, allowed)
            )
            return make_violation(
                gate & (F.size(offenders) > 0), E.UNALLOWED_VALUES, doc_path, spath2,
                constraint=list(allowed), value=value, value_dtype=dtype,
                info=F.to_json(offenders),
            )
        return make_violation(
            gate & ~self._membership(value, dtype, allowed),
            E.UNALLOWED_VALUE, doc_path, spath2,
            constraint=list(allowed), value=value, value_dtype=dtype,
            info=stringify(value, dtype),
        )

    def _c_forbidden(self, forbidden, value, dtype, gate, doc_path, spath):
        """reference: validator.py:1262-1270"""
        spath2 = list(spath) + ["forbidden"]
        if isinstance(dtype, T.ArrayType):
            elem_dt = dtype.elementType
            offenders = F.array_distinct(
                F.filter(value, lambda x: self._membership(x, elem_dt, forbidden))
            )
            return make_violation(
                gate & (F.size(offenders) > 0), E.FORBIDDEN_VALUES, doc_path, spath2,
                constraint=list(forbidden), value=value, value_dtype=dtype,
                info=F.to_json(offenders),
            )
        return make_violation(
            gate & self._membership(value, dtype, forbidden),
            E.FORBIDDEN_VALUE, doc_path, spath2,
            constraint=list(forbidden), value=value, value_dtype=dtype,
            info=stringify(value, dtype),
        )

    def _c_contains(self, expected, value, dtype, gate, doc_path, spath):
        """reference: validator.py:1166-1180 (array/map columns)"""
        spath2 = list(spath) + ["contains"]
        if isinstance(expected, str) or not isinstance(expected, Sequence):
            expected = [expected]
        expected = list(dict.fromkeys(expected))  # set semantics, stable order
        if isinstance(dtype, T.MapType):
            value = F.map_keys(value)
            dtype = T.ArrayType(dtype.keyType)
        if not isinstance(dtype, T.ArrayType):
            return make_violation(F.lit(False), E.MISSING_MEMBERS, doc_path, spath2)
        # expected members of a type the elements can never equal are
        # ALWAYS missing (reference Python-equality semantics) — they
        # must not enter the literal array, where ANSI mode would raise
        # CAST_INVALID_INPUT coercing them to the element type
        compat, never = self._compat_consts(dtype.elementType, expected)
        if compat:
            missing = F.array_except(
                F.array(*[F.lit(e) for e in compat]).cast(dtype), value
            )
        else:
            missing = F.array().cast(dtype)
        cond = gate & ((F.size(missing) > 0) | F.lit(bool(never)))
        info = (F.to_json(missing) if not never else
                F.concat(F.to_json(missing), F.lit(" +never-equal " + repr(never))))
        return make_violation(
            cond, E.MISSING_MEMBERS, doc_path, spath2,
            constraint=expected, value=value, value_dtype=dtype,
            info=info,
        )

    def _c_regex(self, pattern, value, dtype, gate, doc_path, spath):
        """reference: validator.py:1429-1437 — strings only, auto-'$'."""
        if not isinstance(dtype, T.StringType):
            return None  # non-strings pass silently
        spath2 = list(spath) + ["regex"]
        if _PY_ONLY_REGEX.search(pattern):
            pat = pattern if pattern.endswith("$") else pattern + "$"

            @F.pandas_udf(T.BooleanType())
            def _re_match(s: pd.Series) -> pd.Series:
                rx = re.compile(pat)
                return s.map(lambda v: v is not None and rx.match(v) is not None)

            mismatch = ~_re_match(value)
        else:
            mismatch = ~value.rlike(_jvm_regex(pattern))
        return make_violation(
            gate & mismatch, E.REGEX_MISMATCH, doc_path, spath2,
            constraint=pattern, value=value, value_dtype=dtype,
        )

    def _c_minmax(self, rule, constraint, value, dtype, gate, doc_path, spath,
                  dynamic=False):
        """reference: validator.py:1343-1357 — TypeError passes silently,
        mirrored as a compile-time comparability check (typed columns) or
        a NULL comparison (dynamic payload literals)."""
        if dynamic and isinstance(dtype, T.StringType):
            if isinstance(constraint, bool) or not isinstance(constraint, (int, float, str)):
                return None
            if isinstance(constraint, str):
                # str-vs-str compares; numeric-denoting literals TypeError-pass
                cmp = F.when(dynamic_is_string(value), value)
            else:
                cmp = dynamic_numeric(value)
        elif not _comparable(dtype, constraint):
            return None
        elif isinstance(dtype, T.BooleanType):
            # bool ⊂ int in the reference (True compares as 1); Spark
            # refuses BOOLEAN < INT, so compare the 0/1 cast instead
            cmp = value.cast("int")
        else:
            cmp = value
        cond = (cmp < F.lit(constraint)) if rule == "min" else (cmp > F.lit(constraint))
        edef = E.MIN_VALUE if rule == "min" else E.MAX_VALUE
        return make_violation(
            gate & cond, edef, doc_path, list(spath) + [rule],
            constraint=constraint, value=value, value_dtype=dtype,
        )

    def _c_length(self, rule, constraint, value, dtype, gate, doc_path, spath):
        """reference: validator.py:1359-1369 — Iterables only."""
        ln = _sized_len(value, dtype)
        if ln is None or isinstance(dtype, T.StructType):
            return None
        cond = (ln < constraint) if rule == "minlength" else (ln > constraint)
        edef = E.MIN_LENGTH if rule == "minlength" else E.MAX_LENGTH
        return make_violation(
            gate & cond, edef, doc_path, list(spath) + [rule],
            constraint=constraint, value=value, value_dtype=dtype,
            info=ln.cast("string"),
        )

    def _c_items(self, items, value, dtype, gate, doc_path, spath, scope):
        """reference: validator.py:1272-1290 — positional element rules."""
        spath2 = list(spath) + ["items"]
        direct = [
            make_violation(
                gate & (F.size(value) != len(items)), E.ITEMS_LENGTH, doc_path, spath2,
                constraint=len(items),
                info=F.size(value).cast("string"),
            )
        ]
        nested = []
        if isinstance(dtype, T.ArrayType):
            elem_dt = dtype.elementType
            size_ok = gate & (F.size(value) == len(items))
            for i, sub in enumerate(items):
                arr = self.compile_rules(
                    sub, value.getItem(i), elem_dt,
                    list(doc_path) + [str(i)], spath2 + [str(i)], scope,
                )
                nested.append(guard(size_ok, arr))
        return direct, nested

    def _c_schema(self, sub, value, dtype, gate, doc_path, spath, scope):
        """reference: validator.py:1479-1526 — nested mapping or per-element
        rules-set; child leaves carry full paths."""
        spath2 = list(spath) + ["schema"]
        if isinstance(dtype, T.StructType):
            child_fields = {
                f.name: (value.getField(f.name), f.dataType) for f in dtype.fields
            }
            child = Scope(child_fields, doc_path, parent=scope)
            return guard(gate, self.compile_schema(sub, child, spath2))
        if isinstance(dtype, T.MapType):
            # fixed-key subschema over a dynamic map: access declared keys
            child_fields = {
                k: (value.getItem(k), dtype.valueType) for k in sub
            }
            child = Scope(child_fields, doc_path, parent=scope, dynamic=True)
            return guard(gate, self.compile_schema(sub, child, spath2))
        if isinstance(dtype, T.ArrayType):
            elem_dt = dtype.elementType
            return per_element(gate, value, lambda x, i: self.compile_rules(
                sub, x, elem_dt, list(doc_path) + [i], spath2, scope))
        # wrong shape for a schema rule
        return make_violation(gate, E.BAD_TYPE_FOR_SCHEMA, doc_path, spath2)

    def _c_keysrules(self, sub, value, dtype, gate, doc_path, spath, scope):
        """reference: validator.py:1396-1410 — per-key leaf errors."""
        spath2 = list(spath) + ["keysrules"]
        if not isinstance(dtype, T.MapType):
            return no_violations()
        return per_element(gate, F.map_keys(value), lambda k, _i: self.compile_rules(
            sub, k, dtype.keyType, list(doc_path) + [k], spath2, scope,
            dynamic=True,
        ))

    def _c_valuesrules(self, sub, value, dtype, gate, doc_path, spath, scope):
        """reference: validator.py:1562-1578 — per-entry leaf errors."""
        spath2 = list(spath) + ["valuesrules"]
        if not isinstance(dtype, T.MapType):
            return no_violations()
        return per_element(gate, F.map_entries(value), lambda e, _i: self.compile_rules(
            sub, e.getField("value"), dtype.valueType,
            list(doc_path) + [e.getField("key")], spath2, scope,
            dynamic=True,
        ))

    def _c_logical(self, op, definitions, outer_rules, value, dtype, gate,
                   doc_path, spath, scope, dynamic=False):
        """reference: __validate_logical validator.py:1292-1341 — boolean
        algebra over sub-rules-set predicates; oneof = exactly-one count
        of the definitions whose fail predicate is false."""
        spath2 = list(spath) + [op]
        subs = []
        for i, definition in enumerate(definitions):
            d = dict(definition)
            # children inherit 'type' from the outer rules (validator.py:1302-1304)
            if "type" not in d and "type" in outer_rules:
                d["type"] = outer_rules["type"]
            subs.append(self.compile_rules(
                d, value, dtype, doc_path, spath2 + [str(i)], scope, dynamic=dynamic
            ))
        flags = [(~sub.fails).cast("int") for sub in subs]
        valids = sum(flags[1:], flags[0]) if flags else F.lit(0)
        n = len(definitions)
        if op == "anyof":
            cond, edef = valids < 1, E.ANYOF
        elif op == "allof":
            cond, edef = valids < n, E.ALLOF
        elif op == "noneof":
            cond, edef = valids > 0, E.NONEOF
        else:  # oneof
            cond, edef = valids != 1, E.ONEOF
        parent = make_violation(
            gate & cond, edef, doc_path, spath2,
            constraint=[dict(d) for d in definitions],
            value=value, value_dtype=dtype,
            info=valids.cast("string"),
        )
        if not self.ctx.logical_child_errors:
            return parent
        # per-definition child errors, emitted only when the logical rule
        # itself failed (reference keeps them as the *of error's children)
        return collect_violations([parent] + [guard(gate & cond, sub) for sub in subs])

    def _c_dependencies(self, deps, value, gate, doc_path, spath, scope):
        """reference: validator.py:1182-1223.  Returns (violations, ok_gate);
        rules AFTER dependencies in the rules-set are suppressed when the
        dependency check fails (validator.py:1194-1200)."""
        spath2 = list(spath) + ["dependencies"]
        out = []
        ok = F.lit(True)
        if isinstance(deps, Mapping):
            # mapping form: each dep field's value ∈ allowed values
            unmet_parts = []
            info_parts = []
            for dep_name, dep_values in deps.items():
                if isinstance(dep_values, str) or not isinstance(dep_values, Sequence):
                    dep_values = [dep_values]
                col, _dt = scope.lookup(dep_name)
                if col is None:
                    unmet_parts.append(F.lit(True))
                    info_parts.append(F.lit(f"{dep_name}=<missing>"))
                else:
                    bad = ~self._membership(col, _dt, dep_values)
                    unmet_parts.append(bad)
                    info_parts.append(
                        F.when(bad, F.concat(F.lit(dep_name + "="), F.coalesce(col.cast("string"), F.lit("None"))))
                    )
            any_unmet = unmet_parts[0]
            for p in unmet_parts[1:]:
                any_unmet = any_unmet | p
            info = F.concat_ws(",", *[F.coalesce(p, F.lit("")) for p in info_parts])
            out.append(
                make_violation(
                    gate & any_unmet, E.DEPENDENCIES_FIELD_VALUE, doc_path, spath2,
                    constraint={k: v for k, v in deps.items()}, info=info,
                )
            )
            ok = ~F.coalesce(gate & any_unmet, F.lit(False))
        else:
            if isinstance(deps, str):
                deps = [deps]
            for dep in deps:
                col, _dt = scope.lookup(dep)
                # 'none' semantics: every resolvable column is a PRESENT
                # key (even with a None value), so a dependency on it is
                # always met — key-presence is what the reference tests
                # (validator.py:1182-1200 membership in the document)
                if col is None:
                    missing = F.lit(True)
                elif self.ctx.null_semantics == "none":
                    missing = F.lit(False)
                else:
                    missing = col.isNull()
                out.append(
                    make_violation(
                        gate & missing, E.DEPENDENCIES_FIELD, doc_path, spath2,
                        constraint=list(deps), info=str(dep),
                    )
                )
                ok = ok & ~F.coalesce(gate & missing, F.lit(False))
        return out, ok

    def _c_excludes(self, excluded, value, gate, doc_path, spath, scope):
        """reference: validator.py:1240-1260 — error when this field and any
        excluded field are both present (present := not NULL)."""
        if isinstance(excluded, str):
            excluded = [excluded]
        any_present = F.lit(False)
        for ex in excluded:
            col, _dt = scope.lookup(ex)
            if col is not None:
                # 'none' semantics: the excluded key is present whenever
                # the column exists, regardless of a None value
                any_present = any_present | (
                    F.lit(True) if self.ctx.null_semantics == "none"
                    else col.isNotNull())
        exclusion_str = ", ".join(f"'{x}'" for x in excluded)
        return make_violation(
            gate & any_present, E.EXCLUDES_FIELD, doc_path, list(spath) + ["excludes"],
            constraint=list(excluded), info=exclusion_str,
        )

    def _c_custom_rule(self, name, constraint, value, dtype, gate, doc_path, spath):
        """Custom NAMED rule registered via ``SparkValidator(rules=...)``
        — the engine's version of subclassing the reference with a
        ``_validate_<name>`` method (validator.py:1584-1671,
        docs/customize.rst:21-67).

        The error crumb matches the reference's ``self._error(field,
        message)`` path exactly (observed live): code CUSTOM (0x00),
        EMPTY schema_path, rule None.  Like the reference, the rule runs
        only on present values (a missing field never reaches a custom
        rule), and like the rest of the compiler it is suppressed by a
        type failure on the same field.

        Shapes (resolved by arity):

        * ``fn(constraint, value_col, dtype) -> Column`` — ok-column
          builder, stays fully inside whole-stage codegen (fast path)
        * ``fn(constraint, value) -> truthy`` — plain Python predicate
          over one value, auto-wrapped in a vectorized pandas UDF
          (Arrow-batched); an exception counts as failure

        ``fn.message`` (optional) customizes the info text;
        ``fn.check_constraint`` (optional) gates the constraint's shape
        at schema-validation time (dsl.validate_rules_set) — the
        engine's version of the docstring constraint schema."""
        import inspect

        fn = self.ctx.custom_rules[name]
        try:
            arity = len(inspect.signature(fn).parameters)
        except (TypeError, ValueError):
            arity = 3
        if arity >= 3:
            ok_col = fn(constraint, value, dtype)
        else:
            ok_col = _scalar_rule_udf(fn, constraint)(value)
        message = getattr(fn, "message", None) or f"rule '{name}' failed"
        return make_violation(
            gate & ~F.coalesce(ok_col, F.lit(True)), E.CUSTOM,
            doc_path, [],
            rule=None, constraint=None,
            value=value, value_dtype=dtype,
            info=message,
        )

    def _c_check_with(self, checks, value, dtype, gate, doc_path, spath):
        """reference: validator.py:1138-1164 — chained checkers.  Three
        checker shapes are accepted (resolved by arity):

        * ``fn(value_col, dtype) -> Column`` — Column-builder: stays fully
          inside codegen (the fast path; use for anything hot)
        * ``fn(value) -> bool`` — plain predicate, auto-wrapped in a
          vectorized pandas UDF (Arrow-batched; per-element Python like
          the reference itself, but batched transfer)
        * ``fn(field, value, error)`` — the reference's own check_with
          callable signature (validator.py:1138-1151): ``error(field,
          msg)`` marks failure; also pandas-UDF-wrapped

        Named checkers resolve through the registry and may be any shape.
        """
        import inspect

        if isinstance(checks, str) or callable(checks):
            checks = [checks]
        out = []
        for chk in checks:
            name = chk if isinstance(chk, str) else getattr(chk, "__name__", "checker")
            fn = self.ctx.check_with_registry.get(name) if isinstance(chk, str) else chk
            if fn is None:
                raise SchemaError(f"check_with: no registered checker named '{name}'")
            try:
                arity = len(inspect.signature(fn).parameters)
            except (TypeError, ValueError):
                arity = 2
            if arity == 2:
                ok_col = fn(value, dtype)  # boolean Column, vectorized
                # engine-extension checkers keep the engine's crumb shape
                out.append(
                    make_violation(
                        gate & ~F.coalesce(ok_col, F.lit(True)), E.CUSTOM,
                        doc_path, list(spath) + ["check_with"],
                        rule="check_with", constraint=name,
                        value=value, value_dtype=dtype,
                        info=f"check '{name}' failed",
                    )
                )
            else:
                ok_col = _scalar_checker_udf(fn, arity, str(doc_path[-1]))(value)
                # reference shape for error()-style checkers: CUSTOM (0x00)
                # with EMPTY schema_path and rule None (observed live:
                # Validator._error(field, msg) → code 0x0, schema_path ())
                out.append(
                    make_violation(
                        gate & ~F.coalesce(ok_col, F.lit(True)), E.CUSTOM,
                        doc_path, [],
                        rule=None, constraint=None,
                        value=value, value_dtype=dtype,
                        info=f"check '{name}' failed",
                    )
                )
        return out

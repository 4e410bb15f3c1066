"""Every compiled rule is a twin: the violation array it builds and the
fail predicate ``passed`` is computed from.  These tests pin the two
against each other without the reference engine: per row, ``passed``
must equal ``size(violations) == 0`` over the fuzz generator's random
schemas and the nested FIXTURES.md §4 rule-set, and the guarded nested
sites (list ``schema``, ``keysrules``, ``valuesrules``, ``*of``) must
emit exactly the expected violation tuples on their edge cases.
"""

import random

from pyspark.sql import functions as F

from cerberus_spark import SparkValidator, errors as E
from test_fuzz_differential import (
    _DYN_KEYS,
    _DYN_LITERALS,
    _INT_POOL,
    _STR_POOL,
    _gen_case,
    _rand_rules,
    _rand_value,
    _rand_valuesrules,
)

#: FIXTURES.md §4: a dict schema, a list schema, keysrules, valuesrules
#: and an anyof
NESTED_SCHEMA = {
    "meta": {"type": "dict", "schema": {
        "lang": {"type": "string", "allowed": ["en", "de", "fr"],
                 "default": "en"},
        "scores": {"type": "list", "maxlength": 8,
                   "schema": {"type": "float", "min": 0.0, "max": 1.0}},
        "tags": {"type": "dict",
                 "keysrules": {"type": "string", "regex": "[a-z_]+"},
                 "valuesrules": {"type": "string", "empty": False}},
    }},
    "turn_idx": {"type": "integer",
                 "anyof": [{"min": 0, "max": 9}, {"min": 100}]},
}
NESTED_DDL = ("row_id long, turn_idx int, meta struct<lang:string, "
              "scores:array<double>, tags:map<string,string>>")


def nested_rows(n: int, seed: int) -> list[tuple]:
    """Rows for ``NESTED_SCHEMA`` that break each nested rule now and
    then, with NULL structs, lists, maps and elements mixed in."""
    rng = random.Random(seed)

    def scores():
        if rng.random() < 0.1:
            return None
        xs = [rng.choice([rng.random(), rng.random(), None, 1.5, -0.25])
              if rng.random() < 0.2 else rng.random()
              for _ in range(rng.randint(0, 10))]
        return xs

    def tags():
        if rng.random() < 0.1:
            return None
        keys = rng.sample(["topic", "source", "Bad-Key", "x1", "license"],
                          k=rng.randint(0, 3))
        return {k: rng.choice(["web", "code", "", None, "high"]) for k in keys}

    rows = []
    for i in range(n):
        meta = None if rng.random() < 0.1 else (
            rng.choice(["en", "de", "xx", None]), scores(), tags())
        rows.append((i, rng.choice([None, -1, 0, 5, 9, 50, 100, 150]), meta))
    return rows


def _twin_mismatches(validator, df) -> list[tuple]:
    """Rows whose ``passed`` is not exactly ``size(violations) == 0``
    (a NULL ``passed`` counts as a mismatch)."""
    got = validator.annotate(df).select(
        "passed", F.size("violations").alias("n")).collect()
    return [(i, r["passed"], r["n"]) for i, r in enumerate(got)
            if r["passed"] is not (r["n"] == 0)]


def test_passed_twins_violations_on_fuzzed_flat_schemas(spark):
    rng = random.Random(42)
    failures = []
    for case_i in range(15):
        schema, ddl, _fields, rows, require_all = _gen_case(rng)
        df = spark.createDataFrame(rows, ddl)
        for semantics in ("absent", "none"):
            v = SparkValidator(schema, allow_unknown=True, require_all=require_all,
                               null_semantics=semantics)
            bad = _twin_mismatches(v, df)
            if bad:
                failures.append((case_i, semantics, schema, bad[:3]))
    assert failures == [], failures[:2]


def test_passed_twins_violations_on_fuzzed_nested_schemas(spark):
    """Dynamic map payloads (valuesrules), struct subschemas, list
    element schemas and *of operators from the same generators."""
    rng = random.Random(7)
    failures = []
    for case_i in range(10):
        vr = _rand_valuesrules(rng)
        kr = {"type": "string", "regex": rng.choice([r"[a-c]+", r"[a-z]"])}
        schema = {"payload": {"type": "dict", "valuesrules": vr, "keysrules": kr}}
        rows = [(None,) if rng.random() < 0.1 else
                ({k: rng.choice(_DYN_LITERALS + [None])
                  for k in rng.sample(_DYN_KEYS, k=rng.randint(0, 4))},)
                for _ in range(30)]
        df = spark.createDataFrame(rows, "payload map<string,string>")
        v = SparkValidator(schema, dynamic_types=True, allow_unknown=True)
        if bad := _twin_mismatches(v, df):
            failures.append(("payload", case_i, schema, bad[:3]))

    for case_i in range(8):
        sub_fields = ["s0", "s1", "s2"]
        sub_dtypes = {f: rng.choice(["int", "string", "double"]) for f in sub_fields}
        sub = {f: _rand_rules(rng, f, sub_dtypes[f], sub_fields) or {"type": "string"}
               for f in sub_fields}
        ddl_t = {"int": "int", "string": "string", "double": "double"}
        elem = "struct<" + ", ".join(f"{f}:{ddl_t[sub_dtypes[f]]}"
                                     for f in sub_fields) + ">"
        schema = {"d": {"type": "dict", "schema": sub},
                  "xs": {"type": "list", "schema": {"type": "dict", "schema": sub}}}

        def one():
            return None if rng.random() < 0.15 else tuple(
                _rand_value(rng, sub_dtypes[f]) for f in sub_fields)

        rows = [(one(), None if rng.random() < 0.1 else
                 [one() for _ in range(rng.randint(0, 4))]) for _ in range(30)]
        df = spark.createDataFrame(rows, f"d {elem}, xs array<{elem}>")
        for semantics in ("absent", "none"):
            v = SparkValidator(schema, allow_unknown=True, null_semantics=semantics)
            if bad := _twin_mismatches(v, df):
                failures.append(("struct", case_i, semantics, schema, bad[:3]))

    for case_i in range(10):
        op = rng.choice(["anyof", "allof", "noneof", "oneof"])
        defs = [{"min": rng.choice(_INT_POOL)} if rng.random() < 0.5 else
                {"max": rng.choice(_INT_POOL),
                 "allowed": rng.sample(_INT_POOL, k=3)}
                for _ in range(rng.randint(2, 3))]
        elem_rules = {"type": "string", "minlength": rng.randint(1, 3),
                      "allowed": rng.sample(_STR_POOL[1:], k=4)}
        schema = {"n": {"type": "integer", op: defs},
                  "xs": {"type": "list", "schema": elem_rules,
                         "anyof": [{"minlength": 2}, {"maxlength": 0}]}}
        rows = [(rng.choice(_INT_POOL + [None]),
                 None if rng.random() < 0.15 else
                 [rng.choice(_STR_POOL + [None]) for _ in range(rng.randint(0, 4))])
                for _ in range(30)]
        df = spark.createDataFrame(rows, "n int, xs array<string>")
        v = SparkValidator(schema, allow_unknown=True,
                           logical_child_errors=bool(case_i % 2))
        if bad := _twin_mismatches(v, df):
            failures.append(("logical", case_i, schema, bad[:3]))
    assert failures == [], failures[:2]


def test_passed_twins_violations_on_the_nested_fixture(spark):
    df = spark.createDataFrame(nested_rows(400, seed=3), NESTED_DDL)
    for kw in ({}, {"null_semantics": "none"}, {"logical_child_errors": True}):
        v = SparkValidator(NESTED_SCHEMA, key_cols=("row_id",), **kw)
        assert _twin_mismatches(v, df) == [], kw
        n, n_failed = v.validate(df).counts()
        assert n == 400 and 0 < n_failed < 400, (kw, n_failed)


# ---------------------------------------------------------------------------
# guard edge cases: explicit violation tuples
# ---------------------------------------------------------------------------

EDGE_SCHEMA = {
    "scores": {"type": "list", "schema": {"type": "float", "min": 0.0, "max": 1.0}},
    "tags": {"type": "dict",
             "keysrules": {"type": "string", "regex": "[a-z_]+"},
             "valuesrules": {"type": "string", "empty": False}},
    "n": {"type": "integer", "anyof": [{"min": 0, "max": 9}, {"min": 100}]},
    "items": {"type": "list", "schema": {"type": "dict", "schema": {
        "a": {"type": "integer", "min": 0},
        "b": {"type": "string", "required": True}}}},
}
EDGE_DDL = ("id int, scores array<double>, tags map<string,string>, n int, "
            "items array<struct<a:int,b:string>>")
_OK = ([0.1], {"topic": "web"}, 5, [(1, "x")])


def _edge(i, scores=_OK[0], tags=_OK[1], n=_OK[2], items=_OK[3]):
    return (i, scores, tags, n, items)


EDGE_ROWS = [
    _edge(0),                                          # all valid
    _edge(1, scores=[0.5, None, 0.25]),                # NULL element, valid rest
    _edge(2, scores=[0.5, None, 1.5]),                 # NULL element + failing last
    _edge(3, scores=[], items=[]),                     # empty lists
    _edge(4, scores=None, tags=None, items=None),      # NULL list and NULL map
    _edge(5, tags={"Bad-Key": "web", "ok": ""}),       # bad key AND empty value
    _edge(6, scores=[-0.5, 0.5, 0.75]),                # failing element first
    _edge(7, scores=[0.5, 0.75, 2.0]),                 # failing element last
    _edge(8, n=None),                                  # anyof on NULL
    _edge(9, n=50),                                    # anyof failing
    _edge(10, items=[(1, "x"), (-1, None)]),           # list of dicts
    _edge(11, items=[None, (2, "y")]),                 # NULL dict element
    _edge(12, tags={}),                                # empty map
]
S_MIN = ("scores", "schema", "min")
S_MAX = ("scores", "schema", "max")
EDGE_EXPECTED = {
    (2, ("scores", "2"), S_MAX, E.MAX_VALUE.code),
    (5, ("tags", "Bad-Key"), ("tags", "keysrules", "regex"), E.REGEX_MISMATCH.code),
    (5, ("tags", "ok"), ("tags", "valuesrules", "empty"), E.EMPTY_NOT_ALLOWED.code),
    (6, ("scores", "0"), S_MIN, E.MIN_VALUE.code),
    (7, ("scores", "2"), S_MAX, E.MAX_VALUE.code),
    (9, ("n",), ("n", "anyof"), E.ANYOF.code),
    (10, ("items", "1", "a"), ("items", "schema", "schema", "a", "min"), E.MIN_VALUE.code),
    (10, ("items", "1", "b"), ("items", "schema", "schema", "b", "required"), E.REQUIRED_FIELD.code),
}


def _tuples(result) -> set:
    return {(r["id"], tuple(r["document_path"]), tuple(r["schema_path"]), r["code"])
            for r in result.violations.collect()}


def test_guard_edge_cases_emit_exact_violations(spark):
    df = spark.createDataFrame(EDGE_ROWS, EDGE_DDL)
    res = SparkValidator(EDGE_SCHEMA, key_cols=("id",)).validate(df)
    assert _tuples(res) == EDGE_EXPECTED
    failing = {t[0] for t in EDGE_EXPECTED}
    passed = dict(res.annotated.select("id", "passed").collect())
    assert passed == {i: i not in failing for i in range(len(EDGE_ROWS))}
    assert res.counts() == (len(EDGE_ROWS), len(failing))


def test_guard_fires_on_a_null_element_under_none_semantics(spark):
    """Under ``null_semantics='none'`` a NULL list element is a present
    None: the per-element guard must see its nullable failure."""
    df = spark.createDataFrame(EDGE_ROWS, EDGE_DDL)
    schema = {"scores": EDGE_SCHEMA["scores"], "n": EDGE_SCHEMA["n"]}
    res = SparkValidator(schema, key_cols=("id",), null_semantics="none",
                         allow_unknown=True).validate(df)
    nullable = ("scores", "schema", "nullable")
    assert _tuples(res) == {
        (1, ("scores", "1"), nullable, E.NOT_NULLABLE.code),
        (2, ("scores", "1"), nullable, E.NOT_NULLABLE.code),
        (2, ("scores", "2"), S_MAX, E.MAX_VALUE.code),
        (4, ("scores",), ("scores", "nullable"), E.NOT_NULLABLE.code),
        (6, ("scores", "0"), S_MIN, E.MIN_VALUE.code),
        (7, ("scores", "2"), S_MAX, E.MAX_VALUE.code),
        (8, ("n",), ("n", "nullable"), E.NOT_NULLABLE.code),
        (9, ("n",), ("n", "anyof"), E.ANYOF.code),
    }
    assert _twin_mismatches(
        SparkValidator(schema, key_cols=("id",), null_semantics="none",
                       allow_unknown=True), df) == []

"""Round-8 optimization pins: the rewrites must preserve exact
semantics on the edges they reasoned about.

* bm25's anchored-regex pre-filter == the old Σtf>0 row set, including
  regex-metachar terms, whitespace-containing terms (never a token),
  uppercase terms (tokens are lowercased, so never matched), and
  all-unmatchable term lists.
* rows_df (one row) writes the identical parquet schema the createDataFrame
  path wrote (the store-meta readers depend on it).
* repetition's tuple-keyed top-gram counting still tie-breaks by the
  JOINED-STRING byte order — which differs from tuple order when a
  word contains a control char below 0x20.
"""

import re

import pytest
from pyspark.sql import functions as F

from cerberus_spark.functions import ranking as RK
from cerberus_spark.functions import repetition as REP
from cerberus_spark.plans.checkpoint import rows_df

_WS = re.compile(r"\s+", re.ASCII)


def _brute_bm25_rows(rows, terms):
    """Row ids the spec keeps: docs where some term equals a token of
    the lowercased, edge-stripped, ASCII-ws-split text."""
    out = set()
    for i, t in rows:
        toks = [w for w in _WS.split((t or "").lower().strip(" \t\n\r\f\v"))
                if w]
        if any(term in toks for term in terms):
            out.add(i)
    return out


@pytest.mark.parametrize("terms", [
    ["c++", "a.b", "x(y)"],          # regex metachars must be literal
    ["two words", "spark"],           # ws-containing term never matches
    ["SPARK", "spark"],               # uppercase term never matches
    ["vector", "hash"],
    ["", "hash"],                     # empty term never matches
])
def test_bm25_prefilter_row_set_matches_spec(spark, terms):
    rows = [
        (0, "spark hash vector"),
        (1, "c++ is not c"),
        (2, "a.b axb a b"),
        (3, "x(y) x y"),
        (4, "two words here"),
        (5, "SPARK shouting"),        # token is lowercased 'spark'
        (6, None),
        (7, "   "),
        (8, "nothing relevant"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id for r in
           RK.bm25_scores(df, "doc_id", "text", terms).collect()}
    assert got == _brute_bm25_rows(rows, terms)


def test_bm25_all_unmatchable_terms_empty(spark):
    df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    assert RK.bm25_scores(df, "doc_id", "text", ["x y", ""]).count() == 0


def test_one_row_df_matches_createdataframe_schema(spark, tmp_path):
    schema = "k int, num_perm int, name string, frac double, flag boolean"
    vals = (3, 32, "abc", 0.5, True)
    a = rows_df(spark, schema, [vals])
    b = spark.createDataFrame([vals], schema)
    # names + datatypes must match exactly; nullability intentionally
    # differs (literal columns are non-nullable — strictly tighter,
    # and parquet optional/required is invisible to the meta readers)
    assert [(f.name, f.dataType) for f in a.schema.fields] \
        == [(f.name, f.dataType) for f in b.schema.fields]
    assert a.collect() == b.collect()
    # survives the parquet round-trip the meta stores rely on
    p = str(tmp_path / "meta")
    a.coalesce(1).write.parquet(p)
    back = spark.read.parquet(p)
    assert [(f.name, f.dataType) for f in back.schema.fields] \
        == [(f.name, f.dataType) for f in b.schema.fields]
    assert back.collect() == b.collect()


def test_repetition_topgram_tiebreak_control_char(spark):
    # words 'a\x01' and 'a' both head 2-grams with count 1.  Tuple
    # order puts ('a', ...) first either way, but joined-string order
    # compares 'a\x01 b' < 'a b' (0x01 < 0x20): the control-char gram
    # must win the tie.  _signals must agree with the brute-force min.
    t = "a\x01 b a c"
    ws = [w for w in _WS.split(t.strip()) if w]
    grams = [" ".join(ws[i:i + 2]) for i in range(len(ws) - 1)]
    want_g = min(grams)  # all counts are 1
    joined_len = len(" ".join(ws))
    want = 1 * len(want_g) / joined_len
    got = REP._signals(t, (2,), ())
    assert got[3] == pytest.approx(want, abs=0.0)
    assert want_g == "a\x01 b"  # the edge actually exercises the order

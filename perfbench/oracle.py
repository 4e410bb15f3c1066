"""Independent recomputations the benchmark checks the program against.

* ``transcripts_report``: the full-pass report counts, from the pandas
  frames the generator returned (numpy for the per-row flat rules of
  ``TURN_SCHEMA``; DuckDB for the uniqueness, referential and ordering
  checks).  Seed 42 at 600k turns gives the pinned 41,750 / 11,150 /
  3,048 / 8,450 (perfbench/tests/test_oracle.py).
* ``nested_passed``: per-row pass/fail of ``gen.NESTED_SCHEMA``.
* ``docs_valid``: per-document pass/fail of ``gen.DOC_SCHEMA``.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

_TAG_KEY = re.compile(r"[a-z_]+")
REPORT_FIELDS = ("n_turns", "n_failed", "n_rule_violations",
                 "n_unique_violations", "n_orphan_violations",
                 "n_ordering_violations")


def flat_violations(t: pd.DataFrame) -> np.ndarray:
    """Per-row violation count of ``TURN_SCHEMA`` (one per failed rule)."""
    conv = t["conv_id"]
    role = t["role"]
    tool = t["tool"]
    idx = t["turn_idx"].to_numpy()
    viol = np.zeros(len(t), dtype=np.int64)
    viol += (conv.isna() | (conv == "")
             | ~conv.fillna("").str.fullmatch(r"c-[0-9a-f]{12}")).to_numpy()
    viol += ((idx < 0) | (idx > 100_000))
    viol += (~role.isin(["system", "user", "assistant", "tool"])).to_numpy()
    viol += (t["text"].isna() | (t["text"].fillna("").str.len() > 100_000)).to_numpy()
    viol += (tool.notna() & ~role.isin(["assistant", "tool"])).to_numpy()
    viol += t["ts"].isna().to_numpy()
    return viol


def transcripts_report(t: pd.DataFrame, c: pd.DataFrame) -> dict:
    import duckdb

    viol = flat_violations(t)
    con = duckdb.connect()
    try:
        # rows tied on (conv_id, turn_idx) keep input order: Spark's
        # stable sort after the conv_id exchange sees map outputs in
        # file order, and the ordering count depends on the tie order
        con.register("t", t[["conv_id", "turn_idx", "ts"]].assign(
            _row=np.arange(len(t))))
        con.register("c", c[["conv_id"]])
        unique = con.execute(
            "SELECT coalesce(sum(n), 0) FROM (SELECT count(*) AS n FROM t "
            "GROUP BY conv_id, turn_idx HAVING count(*) > 1)").fetchone()[0]
        orphan = con.execute(
            "SELECT count(*) FROM t WHERE conv_id NOT IN "
            "(SELECT conv_id FROM c)").fetchone()[0]
        ordering = con.execute(
            "SELECT count(*) FROM (SELECT ts, lag(ts) OVER (PARTITION BY "
            "conv_id ORDER BY turn_idx, _row) AS prev FROM t) "
            "WHERE prev IS NOT NULL AND ts < prev").fetchone()[0]
    finally:
        con.close()
    return {"n_turns": len(t), "n_failed": int((viol > 0).sum()),
            "n_rule_violations": int(viol.sum()),
            "n_unique_violations": int(unique),
            "n_orphan_violations": int(orphan),
            "n_ordering_violations": int(ordering)}


def report_counts(report) -> dict:
    return {k: int(getattr(report, k)) for k in REPORT_FIELDS}


def nested_passed(t: pd.DataFrame) -> np.ndarray:
    """Per-row pass/fail of ``gen.NESTED_SCHEMA``: the flat rules, the
    ``turn_idx`` anyof, and the ``meta`` struct (no NULLs are generated
    inside ``meta``, so no null-semantics case arises)."""
    idx = t["turn_idx"].to_numpy()
    ok = (flat_violations(t) == 0) & (((idx >= 0) & (idx <= 9)) | (idx >= 100))
    meta_ok = np.fromiter((
        m["lang"] in ("en", "de", "fr")
        and len(m["scores"]) <= 8
        and all(0.0 <= s <= 1.0 for s in m["scores"])
        and all(_TAG_KEY.fullmatch(k) for k, _v in m["tags"])
        and all(v != "" for _k, v in m["tags"])
        and len({k for k, _v in m["tags"]}) == len(m["tags"])
        for m in t["meta"]), dtype=bool, count=len(t))
    return ok & meta_ok


def docs_valid(frame: pd.DataFrame) -> np.ndarray:
    """Per-row pass/fail of ``gen.DOC_SCHEMA``."""
    return (frame["doc_id"].notna() & (frame["doc_id"] != "")
            & frame["lang"].isin(["en", "de", "fr"])
            & frame["text"].notna()).to_numpy()

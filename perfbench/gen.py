"""Seeded input generators.  Same seed, same inputs.

* transcripts: ``cerberus_spark.sources.transcripts.synthesize`` (the
  program's own fixture generator: one hot conversation with ~5% of the
  rows, planted rule, uniqueness, referential and ordering violations).
* nested: the transcripts plus a generated ``meta`` struct column.
* documents: epochs of generated documents for the streaming corpus
  ingest, with planted rule violations, short documents, benchmark
  contamination, within-batch and cross-epoch near-duplicates.  Every
  planted document's fate is known, so the expected kept set is exact.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

#: FIXTURES.md §4: the flat turn rules plus a nested ``meta`` struct
#: (dict schema, list schema, keysrules, valuesrules) and an ``anyof``
NESTED_META = {"type": "dict", "schema": {
    "lang": {"type": "string", "allowed": ["en", "de", "fr"], "default": "en"},
    "scores": {"type": "list", "maxlength": 8,
               "schema": {"type": "float", "min": 0.0, "max": 1.0}},
    "tags": {"type": "dict",
             "keysrules": {"type": "string", "regex": "[a-z_]+"},
             "valuesrules": {"type": "string", "empty": False}},
}}
TURN_IDX_ANYOF = [{"min": 0, "max": 9}, {"min": 100}]
_TAG_KEYS = ["topic", "source", "license", "quality_tier"]
_TAG_VALS = ["web", "books", "code", "cc_by", "high", "low"]


def nested_schema() -> dict:
    from cerberus_spark.sources.transcripts import TURN_SCHEMA

    schema = dict(TURN_SCHEMA, meta=NESTED_META)
    schema["turn_idx"] = dict(TURN_SCHEMA["turn_idx"], anyof=TURN_IDX_ANYOF)
    return schema


def write_nested(out_dir: str, n_rows: int, seed: int):
    """Transcripts plus ``row_id`` and a generated ``meta`` column, ~1%
    of rows breaking each nested rule; written as ``nested.parquet`` and
    returned as a pyarrow Table."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from cerberus_spark.sources.transcripts import synthesize

    t, _ = synthesize(n_rows, seed=seed)
    rng = np.random.default_rng(seed + 7)
    u = rng.random(n_rows)
    lang = rng.choice(np.array(["en", "de", "fr"], dtype=object), n_rows)
    lang[u < 0.01] = "xx"
    # scores: 0-8 values in [0, 1); 1% get a 1.5 appended, 1% are 9 long
    n_sc = rng.integers(0, 9, n_rows)
    n_sc[(u >= 0.01) & (u < 0.02)] += 1
    n_sc[(u >= 0.02) & (u < 0.03)] = 9
    sc_off = np.concatenate([[0], np.cumsum(n_sc)])
    sc_val = rng.random(int(sc_off[-1]))
    bump = np.flatnonzero((u >= 0.01) & (u < 0.02))
    sc_val[sc_off[bump + 1] - 1] = 1.5
    # tags: 0-2 valid pairs; 1% add an invalid key, 1% an empty value
    n_tg = rng.integers(0, 3, n_rows)
    extra = ((u >= 0.03) & (u < 0.05)).astype(np.int64)
    tg_off = np.concatenate([[0], np.cumsum(n_tg + extra)])
    keys = np.array(_TAG_KEYS, dtype=object)[rng.integers(0, 4, int(tg_off[-1]))]
    vals = np.array(_TAG_VALS, dtype=object)[rng.integers(0, 6, int(tg_off[-1]))]
    last = tg_off[1:] - 1
    bad_key = (u >= 0.03) & (u < 0.04)
    bad_val = (u >= 0.04) & (u < 0.05)
    keys[last[bad_key]] = "Bad-Key"
    keys[last[bad_val]] = "empty_value"
    vals[last[bad_val]] = ""
    # a map keeps one value per key: draw keys without repeats per row
    # by offsetting each row's keys (row-local rank) into the key pool
    rank = np.arange(int(tg_off[-1])) - np.repeat(tg_off[:-1], n_tg + extra)
    base = np.repeat(rng.integers(0, 4, n_rows), n_tg + extra)
    plain = keys != "Bad-Key"
    plain &= keys != "empty_value"
    keys[plain] = np.array(_TAG_KEYS, dtype=object)[(base + rank)[plain] % 4]
    meta = pa.StructArray.from_arrays([
        pa.array(lang, pa.string()),
        pa.ListArray.from_arrays(pa.array(sc_off, pa.int32()),
                                 pa.array(sc_val, pa.float64())),
        pa.MapArray.from_arrays(pa.array(tg_off, pa.int32()),
                                pa.array(keys, pa.string()),
                                pa.array(vals, pa.string())),
    ], names=["lang", "scores", "tags"])
    t = t.assign(row_id=np.arange(n_rows, dtype=np.int64))
    tbl = pa.Table.from_pandas(t, preserve_index=False).append_column("meta", meta)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(tbl, os.path.join(out_dir, "nested.parquet"),
                   row_group_size=ROW_GROUP)
    return tbl


#: the document rule set of the ingest probe (flat: the nested rules are
#: measured by ``nested_rules``)
DOC_SCHEMA = {
    "doc_id": {"type": "string", "required": True, "empty": False},
    "lang": {"type": "string", "required": True, "allowed": ["en", "de", "fr"]},
    "text": {"type": "string", "required": True, "nullable": False},
}

ROW_GROUP = 25_000
QUALITY_MIN_TOKENS = 8
CONTAMINATION_N = 8
DEDUP_THRESHOLD = 0.8

#: planted shares of each epoch (cross-epoch duplicates from epoch 1 on)
SHARE = {"invalid": 0.03, "short": 0.03, "contaminated": 0.02,
         "within_dup": 0.02, "cross_dup": 0.04}


def write_transcripts(out_dir: str, n_rows: int, seed: int):
    """(transcripts, conversations) pandas frames, also written as
    ``transcripts.parquet`` and ``conversations.parquet`` under
    ``out_dir`` (the layout ``sources.transcripts.load`` reads), in
    25k-row row groups so the scan splits across cores."""
    from cerberus_spark.sources.transcripts import synthesize

    os.makedirs(out_dir, exist_ok=True)
    t, c = synthesize(n_rows, seed=seed)
    t.to_parquet(os.path.join(out_dir, "transcripts.parquet"), index=False,
                 row_group_size=ROW_GROUP)
    c.to_parquet(os.path.join(out_dir, "conversations.parquet"), index=False)
    return t, c


def _words(rng, n: int, prefix: str) -> np.ndarray:
    """``n`` distinct lowercase words; the prefix keeps vocabularies
    disjoint, so random documents never share a benchmark n-gram."""
    codes = rng.integers(0, 26, (2 * n, 8))
    lens = rng.integers(3, 9, 2 * n)
    words = ["".join(chr(97 + c) for c in row[:k]) for row, k in zip(codes, lens)]
    uniq = list(dict.fromkeys(prefix + w for w in words))
    if len(uniq) < n:
        raise ValueError("vocabulary draw too small")
    return np.array(uniq[:n], dtype=object)


class DocumentStream:
    """Epochs of ``batch`` documents.  ``plan(e)`` returns the epoch's
    frame and the planted role of each document; the expected kept ids
    follow from the roles (see ``expected_kept``)."""

    def __init__(self, seed: int, batch: int):
        self.rng = np.random.default_rng(seed)
        self.batch = batch
        self.vocab = _words(self.rng, 20_000, "")
        bench_vocab = _words(self.rng, 2_000, "zq")
        self.bench = [" ".join(self.rng.choice(bench_vocab, 16))
                      for _ in range(40)]
        #: texts of clean documents kept by earlier epochs (dup sources)
        self.kept_pool: list[str] = []

    def _text(self, lo: int = 20, hi: int = 60) -> str:
        return " ".join(self.rng.choice(self.vocab, int(self.rng.integers(lo, hi))))

    def plan(self, epoch: int) -> tuple[pd.DataFrame, list[str]]:
        rng, b = self.rng, self.batch
        counts = {k: int(round(v * b)) for k, v in SHARE.items()}
        if epoch == 0 or not self.kept_pool:
            counts["cross_dup"] = 0
        n_planted = sum(counts.values())
        # clean documents first, planted ones after: a within-batch copy
        # then always has the larger id, so its clean source is the one
        # the component keeps
        roles = ["clean"] * (b - n_planted)
        for k, n in counts.items():
            roles += [k] * n
        n_clean = b - n_planted
        texts, langs = [], []
        for i, role in enumerate(roles):
            if role == "clean":
                t = self._text()
            elif role == "short":
                t = self._text(3, QUALITY_MIN_TOKENS - 2)
            elif role == "contaminated":
                passage = self.bench[int(rng.integers(0, len(self.bench)))]
                words = self._text().split(" ")
                cut = int(rng.integers(0, len(words)))
                t = " ".join(words[:cut] + passage.split(" ")[:12] + words[cut:])
            elif role == "within_dup":
                t = texts[int(rng.integers(0, n_clean))] + " " + str(
                    rng.choice(self.vocab))
            elif role == "cross_dup":
                src = self.kept_pool[int(rng.integers(0, len(self.kept_pool)))]
                t = src + " " + str(rng.choice(self.vocab))
            else:  # invalid: clean text, a language outside the allowed set
                t = self._text()
            texts.append(t)
            langs.append("xx" if role == "invalid"
                         else str(rng.choice(["en", "de", "fr"])))
        ids = [f"d{epoch:04d}-{i:07d}" for i in range(b)]
        within_src = {texts[i].rsplit(" ", 1)[0] for i, r in enumerate(roles)
                      if r == "within_dup"}
        # cross-epoch sources: clean documents that are nobody's
        # within-batch source (each is kept, and kept exactly once)
        self.kept_pool += [t for t, r in zip(texts, roles)
                           if r == "clean" and t not in within_src]
        return pd.DataFrame({"doc_id": ids, "lang": langs, "text": texts}), roles

    @staticmethod
    def expected_kept(frame: pd.DataFrame, roles: list[str]) -> set[str]:
        return {i for i, r in zip(frame["doc_id"], roles) if r == "clean"}

    def bench_frame(self) -> pd.DataFrame:
        return pd.DataFrame({"text": self.bench})


def write_docs(frame: pd.DataFrame, path: str) -> None:
    """One epoch's documents as parquet (pyarrow; no Spark job)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    tbl = pa.Table.from_pandas(frame, preserve_index=False)
    pq.write_table(tbl, os.path.join(path, "part-0.parquet"))

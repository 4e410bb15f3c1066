"""DSIR-style importance resampling: select raw-corpus documents whose
hashed n-gram profile looks like a TARGET domain.

The recipe (Xie et al. 2023, "Data Selection for Language Models via
Importance Resampling"): featurize every document as a bag of hashed
n-grams (unigrams + bigrams folded into ``n_buckets`` buckets), fit
two smoothed bag-of-buckets unigram models — one on the target sample,
one on the raw corpus — and weight each raw document by its
log-likelihood ratio ``log w(x) = Σ_b c_b(x)·(ln p_b − ln q_b)``.
Sampling k documents without replacement ∝ ``w`` is then the Gumbel
top-k trick: keep the k largest ``log w(x) + Gumbel(x)``.

The reference engine (pyeve/cerberus) has no data-selection affordance
(SURVEY §2 — its surface is per-document validation); this module is
additive scope for the training-data pipeline, built Spark-first.

Cross-engine spec (shared verbatim with the DuckDB twin):

* Tokens: engine-wide ``functions/text.words`` (lowercase, edge-strip,
  ``\\s+`` split).  Features: all unigrams plus adjacent-pair bigrams
  (``tok_i + ' ' + tok_{i+1}``).
* Bucket: ``int(md5(feat ‖ 0x1f ‖ seed)[:8 hex], 16) % n_buckets`` —
  the same content-addressing as ``operators/pipeline.hash_bucket``,
  reproducible in any engine with md5.
* QUANTIZED log-probs (the ``surprisal`` trick): each smoothed bucket
  log-prob becomes ``floor(ln(p)·1e6)`` integer micro-nats, so the
  per-document weight is a BIGINT dot product — exactly associative,
  invariant to partitioning, row order, and engine float-summation
  order.
* Gumbel noise is DERANDOMIZED content-addressing, not an RNG:
  ``u = (hash_bucket(id, 1e6, seed) + 0.5) / 1e6`` and
  ``g = −ln(−ln u)`` — the Gumbel-max trick needs only that the noise
  be i.i.d.-uniform-ish and independent of the weights, and a
  cryptographic hash of the id gives that while staying deterministic
  across reruns, cluster sizes, and engines.

Scale shape (the 100-TB plan):

* Featurization is ONE Arrow pass emitting per-document
  ``(bucket, count)`` pairs already collapsed inside the UDF — the
  exploded frame is ≤ distinct-buckets-per-doc rows of three ints, and
  the corpus TEXT never shuffles.  The md5-per-feature Python loop is
  the operator's CPU ceiling at 100 TB; ``hash='xxhash64'`` swaps in a
  pure-Column path (tokens → aligned-slice bigrams → xxhash64 → pmod,
  collapsed by a map-side-combined groupBy) with no Python worker —
  md5 stays the default because it is the DuckDB-reproducible oracle
  contract, and the two modes' bucket spaces are disjoint.
* Both models reduce to ≤ ``n_buckets`` rows (map-side combined); the
  log-ratio table is ≤ ``n_buckets`` rows and BROADCASTS onto the
  exploded frame — scoring is one broadcast join plus one exchange on
  the id (ints only).
* Self-raw scoring (``raw=None``) persists the exploded frame: it
  feeds the raw model AND the scoring join, and an unpersisted subtree
  would re-run the Arrow featurizer once per consumer (the measured
  surprisal failure mode, surprisal.py:99-106).
* Top-k is ``orderBy().limit(k)`` → TakeOrderedAndProject —
  per-partition heaps and a k-row driver merge, never a full sort.
"""

from __future__ import annotations

import hashlib
from collections import Counter

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T

from ..operators.pipeline import hash_bucket
from .decontam import _words
from .text import words as _words_col

__all__ = ["dsir_feature_counts", "dsir_logratio", "dsir_report",
           "dsir_resample", "write_dsir_model", "dsir_report_stored"]

DSIR_BUCKETS = 10_000
_Q = 1_000_000.0
_SEP = "\x1f"


def _bucket_of(feat: str, n_buckets: int, seed: str) -> int:
    h = hashlib.md5((feat + _SEP + seed).encode("utf-8")).hexdigest()
    return int(h[:8], 16) % n_buckets


def _feature_counts_udf(n_buckets: int, seed: str):
    """array<struct<b int, n int>> — per-document hashed-feature
    counts, collapsed INSIDE the UDF (map-side pre-aggregation: the
    exploded output is one row per distinct bucket, not per token)."""

    @F.pandas_udf(T.ArrayType(T.StructType([
        T.StructField("b", T.IntegerType()),
        T.StructField("n", T.IntegerType())])))
    def _fc(s: pd.Series) -> pd.Series:
        out = []
        for t in s:
            if t is None:
                out.append([])
                continue
            # engine tokenization (functions/text.words): ASCII \s+
            # split — Python str.split() splits Unicode whitespace
            # (U+00A0 etc.) and would diverge from the Column path,
            # the sibling UDFs, and the DuckDB oracle
            ws = _words(t.lower())
            if not ws:
                out.append([])
                continue
            feats = ws + [f"{a} {b}" for a, b in zip(ws, ws[1:])]
            c = Counter(_bucket_of(f, n_buckets, seed) for f in feats)
            out.append([(b, n) for b, n in sorted(c.items())])
        return pd.Series(out)

    return _fc


def _feature_counts_xxh(df: DataFrame, id_col: str, text_col: str,
                        n_buckets: int, seed: str) -> DataFrame:
    """Pure-Column featurization: tokens via functions/text.words,
    bigrams via aligned array slices, bucket =
    ``pmod(xxhash64(feat ‖ 0x1f ‖ seed), n_buckets)``.  The bucket is
    computed in the SAME projection as the explode, so feature strings
    never leave the map side; the (id, b) groupBy partial-combines
    before its ints-only exchange — no Python worker anywhere."""
    ws = _words_col(F.col(text_col))
    big = F.when(
        F.size(ws) >= 2,
        F.zip_with(F.slice(ws, 1, F.size(ws) - 1),
                   F.slice(ws, 2, F.size(ws) - 1),
                   lambda a, b: F.concat(a, F.lit(" "), b)),
    ).otherwise(F.array().cast("array<string>"))
    return (df.select(F.col(id_col),
                      F.explode(F.concat(ws, big)).alias("_f"))
            .select(id_col,
                    F.pmod(F.xxhash64(F.concat(F.col("_f"),
                                               F.lit(_SEP + seed))),
                           F.lit(n_buckets)).cast("int").alias("b"))
            .groupBy(id_col, "b")
            .agg(F.count(F.lit(1)).cast("int").alias("n")))


def dsir_feature_counts(df: DataFrame, id_col: str, text_col: str,
                        n_buckets: int = DSIR_BUCKETS,
                        seed: str = "dsir",
                        hash: str = "md5") -> DataFrame:
    """Exploded per-document feature counts ``(id_col, b, n)``.

    Documents with no tokens emit no rows (callers re-attach them with
    a left join — :func:`dsir_report` does).

    ``hash`` picks the bucket function: ``'md5'`` (default) is the
    cross-engine oracle contract (reproducible in DuckDB), computed in
    an Arrow UDF — the md5-per-feature Python loop is the operator's
    CPU ceiling at scale.  ``'xxhash64'`` is the production path: the
    same features bucketed with JVM Column algebra, no Python worker
    in the hot loop.  The two modes assign DIFFERENT buckets, so every
    frame in one DSIR computation (target model, raw model, scoring)
    must use the same mode — :func:`dsir_report` threads it."""
    if hash == "xxhash64":
        return _feature_counts_xxh(df, id_col, text_col, n_buckets, seed)
    if hash != "md5":
        raise ValueError(f"hash must be 'md5' or 'xxhash64', got {hash!r}")
    udf = _feature_counts_udf(n_buckets, seed)
    return (df.select(F.col(id_col),
                      F.explode(udf(F.col(text_col))).alias("_f"))
            .select(id_col, F.col("_f.b").alias("b"),
                    F.col("_f.n").alias("n")))


def _bucket_totals(feats: DataFrame) -> DataFrame:
    """(b, _c) bucket totals — ≤ n_buckets rows, map-side combined."""
    return feats.groupBy("b").agg(F.sum("n").alias("_c"))


def _lp_q6(count: Column, total: Column, alpha: float,
           n_buckets: int) -> Column:
    """floor(ln((c+α)/(T+αB))·1e6) — integer micro-nats."""
    return F.floor(
        F.log((count + F.lit(alpha))
              / (total + F.lit(alpha) * F.lit(float(n_buckets)))) * _Q
    ).cast("long")


def _logratio_from_counts(tc: DataFrame, rc: DataFrame, alpha: float,
                          n_buckets: int) -> DataFrame:
    """(b, lr_q6) from (b, _tc) / (b, _rc) bucket-count tables —
    shared by the in-memory and stored-model paths."""
    both = tc.join(rc, "b", "full_outer")
    tt = tc.agg(F.sum("_tc").alias("_tt"))
    rt = rc.agg(F.sum("_rc").alias("_rt"))
    return (both.crossJoin(F.broadcast(tt)).crossJoin(F.broadcast(rt))
            .select(
                "b",
                (_lp_q6(F.coalesce("_tc", F.lit(0)), F.col("_tt"),
                        alpha, n_buckets)
                 - _lp_q6(F.coalesce("_rc", F.lit(0)), F.col("_rt"),
                          alpha, n_buckets)).alias("lr_q6")))


def dsir_logratio(target_feats: DataFrame, raw_feats: DataFrame,
                  alpha: float = 1.0,
                  n_buckets: int = DSIR_BUCKETS) -> DataFrame:
    """Per-bucket quantized log-likelihood ratio table
    ``(b, lr_q6 bigint)`` — one row per bucket observed in EITHER
    corpus (≤ n_buckets rows; broadcast it onto the scoring join).

    Buckets observed in neither corpus score
    ``lp(0|target) − lp(0|raw)``; with ``raw`` ⊇ the scored corpus that
    default is unreachable, but :func:`dsir_report` still coalesces to
    it so a foreign corpus scores correctly."""
    tc = _bucket_totals(target_feats).withColumnRenamed("_c", "_tc")
    rc = _bucket_totals(raw_feats).withColumnRenamed("_c", "_rc")
    return _logratio_from_counts(tc, rc, alpha, n_buckets)


def dsir_report(df: DataFrame, target: DataFrame,
                id_col: str = "doc_id", text_col: str = "text",
                raw: DataFrame | None = None, alpha: float = 1.0,
                n_buckets: int = DSIR_BUCKETS,
                seed: str = "dsir", hash: str = "md5",
                persist_feats: bool = True) -> DataFrame:
    """Per-document importance weights: ``(id_col, n_feat, logw_q6,
    logw)`` for EVERY input row (no-token documents score 0 with
    n_feat 0).

    ``raw`` defaults to ``df`` itself — the standard DSIR setup where
    the scored corpus is the raw distribution.  ``logw_q6`` is the
    exact BIGINT micro-nat weight (the cross-engine invariant);
    ``logw`` is its double form for human consumption.  ``hash`` picks
    the featurization path (see :func:`dsir_feature_counts`) and
    applies to ALL THREE frames so the bucket space is shared.

    CACHE LIFETIME: with ``persist_feats=True`` (default, self-raw
    only) the exploded feature frame stays pinned until the
    ContextCleaner GCs the report's plan — correct for one-shot
    reports, but a BATCH LOOP (per-epoch scoring) accumulates one
    cached relation per call.  Loop callers should pass
    ``persist_feats=False`` (pays the featurizer twice per call —
    raw model + scoring join — but nothing pins)."""
    feats = dsir_feature_counts(df, id_col, text_col, n_buckets, seed,
                                hash)
    if raw is None:
        # self-raw: the raw model is a further aggregation of the SAME
        # exploded frame — persist or Catalyst re-runs the Arrow
        # featurizer once per consumer (see module docstring)
        if persist_feats:
            feats = feats.persist()
        raw_feats = feats
    else:
        raw_feats = dsir_feature_counts(raw, id_col, text_col,
                                        n_buckets, seed, hash)
        if persist_feats:
            # two consumers (the ratio table and the raw-total row) —
            # unpinned, each re-runs the featurizer over the raw corpus
            raw_feats = raw_feats.persist()
    tfeats = dsir_feature_counts(target, id_col, text_col,
                                 n_buckets, seed, hash)
    if persist_feats:
        # same two-consumer shape (ratio + target-total row)
        tfeats = tfeats.persist()
    ratio = dsir_logratio(tfeats, raw_feats, alpha, n_buckets)
    # default ratio for buckets outside the table (one-row frame)
    tt = tfeats.agg(F.sum("n").alias("_tt"))
    rt = raw_feats.agg(F.sum("n").alias("_rt"))
    lr0 = (tt.crossJoin(rt).select(
        (_lp_q6(F.lit(0), F.col("_tt"), alpha, n_buckets)
         - _lp_q6(F.lit(0), F.col("_rt"), alpha, n_buckets))
        .alias("_lr0")))
    scored = (feats.join(F.broadcast(ratio), "b", "left")
              .crossJoin(F.broadcast(lr0))
              .groupBy(id_col)
              .agg(F.sum(F.coalesce("lr_q6", F.col("_lr0"))
                         * F.col("n")).alias("logw_q6"),
                   F.sum("n").alias("n_feat")))
    return (df.select(id_col).join(scored, id_col, "left")
            .select(id_col,
                    F.coalesce("n_feat", F.lit(0)).alias("n_feat"),
                    F.coalesce("logw_q6", F.lit(0)).alias("logw_q6"),
                    (F.coalesce("logw_q6", F.lit(0)) / F.lit(_Q))
                    .alias("logw")))


def write_dsir_model(target: DataFrame, raw: DataFrame, path: str,
                     id_col: str = "doc_id", text_col: str = "text",
                     n_buckets: int = DSIR_BUCKETS, seed: str = "dsir",
                     hash: str = "md5") -> None:
    """Persist the DSIR bucket-count tables as a reusable model:
    ``{path}/tc`` (target) and ``{path}/rc`` (raw) as (b, _c) parquet
    plus a one-row meta pinning (n_buckets, seed, hash) — featurize
    the target sample and raw corpus ONCE, then score any number of
    batches from the artifact (:func:`dsir_report_stored`).  ``alpha``
    stays a score-time parameter (counts are stored raw, the ratio
    table is a ≤ n_buckets-row recompute at read)."""
    tf_ = dsir_feature_counts(target, id_col, text_col, n_buckets,
                              seed, hash)
    rf = dsir_feature_counts(raw, id_col, text_col, n_buckets, seed,
                             hash)
    spark = target.sparkSession
    _bucket_totals(tf_).write.mode("overwrite").parquet(f"{path}/tc")
    _bucket_totals(rf).write.mode("overwrite").parquet(f"{path}/rc")
    from ..plans.checkpoint import write_rows
    write_rows(spark, f"{path}/meta",
               "n_buckets int, seed string, hash string",
               [(n_buckets, seed, hash)])
    spark.catalog.refreshByPath(path)


def dsir_report_stored(df: DataFrame, path: str,
                       id_col: str = "doc_id", text_col: str = "text",
                       alpha: float = 1.0) -> DataFrame:
    """Importance weights against a :func:`write_dsir_model` artifact —
    identical output to ``dsir_report(df, target, raw=raw)`` over the
    model's corpora (pinned by test), at per-batch cost of ONE
    featurize pass over the batch plus the broadcast ratio join.  All
    featurization parameters come from the model meta — no drift
    possible.  Nothing persists (the batch feature frame has exactly
    one plan consumer), so loop callers accumulate no cache."""
    spark = df.sparkSession
    from ..plans.checkpoint import fs_exists

    if not fs_exists(spark, f"{path}/meta"):
        raise ValueError(f"no dsir model at {path} (missing meta)")
    from ..plans.checkpoint import read_one_row
    m = read_one_row(spark, f"{path}/meta")
    n_buckets, seed, hash_ = m["n_buckets"], m["seed"], m["hash"]
    tc = spark.read.parquet(f"{path}/tc").withColumnRenamed("_c", "_tc")
    rc = spark.read.parquet(f"{path}/rc").withColumnRenamed("_c", "_rc")
    ratio = _logratio_from_counts(tc, rc, alpha, n_buckets)
    tt = tc.agg(F.sum("_tc").alias("_tt"))
    rt = rc.agg(F.sum("_rc").alias("_rt"))
    lr0 = (tt.crossJoin(rt).select(
        (_lp_q6(F.lit(0), F.col("_tt"), alpha, n_buckets)
         - _lp_q6(F.lit(0), F.col("_rt"), alpha, n_buckets))
        .alias("_lr0")))
    feats = dsir_feature_counts(df, id_col, text_col, n_buckets, seed,
                                hash_)
    scored = (feats.join(F.broadcast(ratio), "b", "left")
              .crossJoin(F.broadcast(lr0))
              .groupBy(id_col)
              .agg(F.sum(F.coalesce("lr_q6", F.col("_lr0"))
                         * F.col("n")).alias("logw_q6"),
                   F.sum("n").alias("n_feat")))
    return (df.select(id_col).join(scored, id_col, "left")
            .select(id_col,
                    F.coalesce("n_feat", F.lit(0)).alias("n_feat"),
                    F.coalesce("logw_q6", F.lit(0)).alias("logw_q6"),
                    (F.coalesce("logw_q6", F.lit(0)) / F.lit(_Q))
                    .alias("logw")))


def gumbel_key(id_col: Column, logw_q6: Column,
               seed: str = "") -> Column:
    """``logw + Gumbel(id)`` — the Gumbel-max sampling key, with the
    noise content-addressed from the id (module docstring)."""
    u = ((hash_bucket(id_col, 1_000_000, seed).cast("double")
          + F.lit(0.5)) / F.lit(1_000_000.0))
    g = -F.log(-F.log(u))
    return logw_q6 / F.lit(_Q) + g


def dsir_resample(df: DataFrame, target: DataFrame, k: int,
                  id_col: str = "doc_id", text_col: str = "text",
                  raw: DataFrame | None = None, alpha: float = 1.0,
                  n_buckets: int = DSIR_BUCKETS, seed: str = "dsir",
                  gumbel_seed: str = "g", hash: str = "md5",
                  persist_feats: bool = True) -> DataFrame:
    """Sample ``k`` documents without replacement ∝ importance weight:
    the Gumbel top-k over :func:`dsir_report` weights.  Returns the
    input rows (all columns) plus ``logw``, deterministically — the
    same k rows on any partitioning, cluster size, or rerun."""
    rep = dsir_report(df, target, id_col, text_col, raw=raw,
                      alpha=alpha, n_buckets=n_buckets, seed=seed,
                      hash=hash, persist_feats=persist_feats)
    key = gumbel_key(F.col(id_col), F.col("logw_q6"), gumbel_seed)
    top = (rep.select(id_col, "logw", key.alias("_key"))
           .orderBy(F.col("_key").desc(), F.col(id_col).asc())
           .limit(k))
    return df.join(top, id_col).drop("_key")

"""Unigram-surprisal quality scoring: rank documents by how unlikely
their tokens are under a unigram language model — the cheap tier of
the CCNet/Wikipedia-LM filtering recipe (Wenzek et al. 2020 use a
5-gram KenLM; the unigram cut catches gibberish, encoding noise, and
vocabulary outliers at a fraction of the cost, with no model artifact
to ship: the corpus can score itself).

Spec (shared verbatim with the DuckDB oracle):

* Tokens: engine-wide (functions/text.words — lowercase, ASCII
  edge-strip, ``\\s+`` split).
* Model: add-alpha smoothed unigram over the training corpus,
  ``p(tok) = (c_tok + alpha) / (total + alpha * V)``; out-of-vocab
  tokens score ``alpha / (total + alpha * V)``.
* QUANTIZED log-probs: ``lp_q6 = floor(ln(p) * 1e6)`` (integer
  micro-nats).  Per-document sums are then BIGINT sums — exactly
  associative, so the result is independent of partitioning, row
  order, and engine float-summation order.  A raw double sum would
  differ in the last bits between any two plans, let alone two
  engines; the quantization IS the spec, not an approximation note
  (1e-6 nats ≪ any filtering threshold anyone sets).
* ``surprisal`` (mean negative log-prob, nats/token) =
  ``(-sum_q / n_tok) / 1e6`` — two double divisions in fixed order.
  Documents with no tokens score 0.0 with n_tok = 0.

Scale shape:

* Training: explode → per-token count with map-side partial combine
  (ONE shuffle whose width is the vocabulary, not the corpus);
  total/V reduce to one row and re-attach via broadcast cross-join.
* Scoring: per-doc token counts aggregate FIRST (shuffle on
  (id, tok) — this collapses hot-token multiplicity inside each doc,
  the skew that would otherwise dominate the model join), then join
  the model on tok.  The model of a 100 TB corpus (10^8-10^9 types)
  is too big to broadcast — the join shuffles on tok and AQE's
  skew-join splits the stopword keys; pass ``broadcast_model=True``
  when the vocabulary is known-small (fixtures, capped vocabs).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T

from .text import words

__all__ = ["unigram_model", "surprisal_report", "ngram_surprisal_report",
           "write_ngram_model", "ngram_surprisal_report_stored",
           "write_unigram_model", "surprisal_report_stored"]

_Q = 1_000_000.0


def _model_from_counts(counts: DataFrame,
                       alpha: float) -> tuple[DataFrame, DataFrame]:
    """(model, stats) from a (tok, _c) token-count table."""
    stats = counts.agg(
        F.sum("_c").alias("total"), F.count(F.lit(1)).alias("v"))
    denom = F.col("total") + F.lit(alpha) * F.col("v")
    stats = stats.select(
        "total", "v",
        F.floor(F.log(F.lit(alpha) / denom) * _Q)
        .cast("long").alias("oov_q6"))
    model = (counts.crossJoin(F.broadcast(stats))
             .select("tok",
                     F.floor(F.log((F.col("_c") + F.lit(alpha))
                                   / (F.col("total")
                                      + F.lit(alpha) * F.col("v"))) * _Q)
                     .cast("long").alias("lp_q6")))
    return model, stats


def unigram_model(train: DataFrame, text_col: str = "text",
                  alpha: float = 1.0) -> tuple[DataFrame, DataFrame]:
    """Train the smoothed unigram model.

    Returns ``(model, stats)``: model = (tok, lp_q6 bigint), stats =
    one row (total bigint, v bigint, oov_q6 bigint) carrying the
    out-of-vocab score for foreign corpora."""
    toks = train.select(F.explode(words(F.col(text_col))).alias("tok"))
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("_c"))
    return _model_from_counts(counts, alpha)


def surprisal_report(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     train: DataFrame | None = None,
                     alpha: float = 1.0,
                     broadcast_model: bool = False) -> DataFrame:
    """Per-document mean unigram surprisal (nats/token, spec above):
    ``(id_col, n_tok, surprisal)`` for every input row.  ``train``
    defaults to ``df`` itself (self-scoring — no OOV by
    construction)."""
    dt = (df.select(id_col, F.explode(words(F.col(text_col))).alias("tok"))
            .groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("_n")))
    if train is None:
        # self-scoring: the model's token counts are a further
        # aggregation of dt — NOT a second corpus scan.  dt MUST be
        # persisted here: it feeds four plan consumers (scoring join,
        # model counts, and the stats row twice via the cross-joins),
        # and Catalyst re-expands an unpersisted subtree per consumer —
        # measured 4 full explode+tokenize passes over the corpus.
        # The cached table is (id, tok)-distinct counts, far smaller
        # than the text it replaces, spillable (MEMORY_AND_DISK).
        dt = dt.persist()
        # counts feeds the stats row AND the model projection — pinned,
        # each consumer reads the vocab-sized cache instead of
        # re-aggregating dt (same lifecycle story as dt itself)
        counts = dt.groupBy("tok").agg(F.sum("_n").alias("_c")).persist()
        model, stats = _model_from_counts(counts, alpha)
    else:
        model, stats = unigram_model(train, text_col, alpha)
    return _unigram_score(df, id_col, dt, model, stats, broadcast_model)


def _unigram_score(df: DataFrame, id_col: str, dt: DataFrame,
                   model: DataFrame, stats: DataFrame,
                   broadcast_model: bool) -> DataFrame:
    if broadcast_model:
        model = F.broadcast(model)
    scored = (dt.join(model, "tok", "left")
              .crossJoin(F.broadcast(stats.select("oov_q6")))
              .groupBy(id_col)
              .agg(F.sum(F.coalesce("lp_q6", "oov_q6") * F.col("_n"))
                   .alias("_sum_q"),
                   F.sum("_n").alias("n_tok")))
    base = df.select(id_col)
    return (base.join(scored, id_col, "left")
            .select(id_col,
                    F.coalesce("n_tok", F.lit(0)).alias("n_tok"),
                    F.coalesce(
                        (-F.col("_sum_q")) / F.col("n_tok") / F.lit(_Q),
                        F.lit(0.0)).alias("surprisal")))


def write_unigram_model(train: DataFrame, path: str,
                        text_col: str = "text") -> None:
    """Persist the unigram token-count table ``{path}/counts`` as
    (tok, _c) parquet — the model-artifact form of the unigram tier
    (``alpha`` stays score-time; smoothing and the stats row are a
    cheap recompute at read, same contract as the n-gram and DSIR
    artifacts)."""
    toks = train.select(F.explode(words(F.col(text_col))).alias("tok"))
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("_c"))
    counts.write.mode("overwrite").parquet(f"{path}/counts")
    train.sparkSession.catalog.refreshByPath(path)


def surprisal_report_stored(df: DataFrame, path: str,
                            id_col: str = "doc_id",
                            text_col: str = "text", alpha: float = 1.0,
                            broadcast_model: bool = False) -> DataFrame:
    """Score a batch against a :func:`write_unigram_model` artifact —
    bit-identical to ``surprisal_report(df, train=the model's
    corpus)``, never re-reading the training corpus.  Nothing persists
    (the batch (id, tok) frame has one plan consumer) — loop-safe."""
    spark = df.sparkSession
    from ..plans.checkpoint import fs_exists

    if not fs_exists(spark, f"{path}/counts"):
        raise ValueError(f"no unigram model at {path} (missing counts)")
    counts = spark.read.parquet(f"{path}/counts")
    model, stats = _model_from_counts(counts, alpha)
    dt = (df.select(id_col, F.explode(words(F.col(text_col))).alias("tok"))
            .groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("_n")))
    return _unigram_score(df, id_col, dt, model, stats, broadcast_model)


# ---------------------------------------------------------------------------
# n-gram surprisal with stupid backoff (the CCNet-adjacent upgrade)
# ---------------------------------------------------------------------------
#
# Spec (shared verbatim with the DuckDB oracle; Brants et al. 2007
# "stupid backoff" — the standard web-scale choice because it needs no
# discount fitting and composes from raw counts):
#
# * Position i of a document scores with the HIGHEST order its left
#   context allows (no BOS padding): i=0 → unigram, i=1 → bigram path,
#   i≥2 → trigram path (for order=3).
# * trigram path: c3(w-2,w-1,w) > 0 ? ln(c3 / c2(w-2,w-1))
#                 : ln(λ) + bigram path
#   bigram path:  c2(w-1,w)   > 0 ? ln(c2 / c1(w-1))
#                 : ln(λ) + unigram
#   unigram:      ln((c1(w)+α) / (total + α·V))   (add-alpha; OOV = α/…)
# * λ = 0.4 (the paper's constant), α = 1.0 by default.
# * Same micro-nat quantization as the unigram tier: lp_q6 =
#   floor(lp · 1e6) per position; per-document BIGINT sums — exactly
#   associative, partitioning/row-order/engine invariant.
#   surprisal = (-sum_q / n_tok) / 1e6 nats/token.
#
# Scale shape: ONE Arrow pass emits (w, prev, prev2) position tuples
# (the Column HOF formulation is CodegenFallback — the shingle lesson);
# the gram STRINGS die immediately after that pass: every tuple is
# projected to five xxhash64 keys (k1=h(w), k1p=h(p1), k2=h(p1,w),
# k2c=h(p2,p1), k3=h(p2,p1,w); keys for absent context are NULL, so
# head-of-document rows never join) and all downstream shuffles — the
# per-doc DISTINCT pre-agg (collapsing hot-token skew exactly like the
# unigram tier's (id, tok) pre-agg), the three count-table groupBys,
# and the five scoring joins — ride fixed-width BIGINT rows, never
# text.  AQE skew-splits stopword keys; broadcast_model opt-in for
# known-small vocabularies.  The DuckDB oracle keeps raw string keys
# (hash-free) — identical quantized results pin that the hash rewrite
# changed the plan, not the semantics at any tested scale.
#
# 64-BIT KEY COLLISION CONTRACT: two distinct grams that collide under
# xxhash64 merge their counts in c1/c2/c3 AND on the scoring keys (the
# collided gram scores as the pooled pair, biasing its surprisal
# slightly LOW).  Expected collisions among G distinct grams are
# ≈ G²/2^65: negligible through ~10^8 types (<3·10^-4 expected pairs),
# ~3% probability of a single colliding pair at 10^9, and certain —
# though still a vanishing fraction of mass — at the 10^11-10^12 types
# a 100 TB corpus holds.  No filtering threshold moves at any of these
# rates, but for collision-free bookkeeping at 10^11+ types widen the
# keys: hash each gram with TWO independent seeds
# (xxhash64(cols), xxhash64(lit(seed2), cols)) and use the pair as the
# join/count key — effective 128 bits; every expression below extends
# mechanically.  The DuckDB twin is string-keyed (collision-free), so
# a widened-key path can be oracle-pinned the same way this one is.


def ngram_tuples_udf() -> Column:
    """Arrow-batched position tuples: array<struct<w, p1, p2>> where
    p1/p2 are the previous / previous-previous tokens (NULL at the
    document head).  Tokenization mirrors functions/text.words exactly
    (lowercase, ASCII edge-strip, ASCII ``\\s+`` split)."""
    import re

    ws_re = re.compile(r"\s+", re.ASCII)
    out_t = T.ArrayType(T.StructType([
        T.StructField("w", T.StringType()),
        T.StructField("p1", T.StringType()),
        T.StructField("p2", T.StringType()),
    ]))

    @F.pandas_udf(out_t)
    def _ng(s: pd.Series) -> pd.Series:
        def f(t):
            if t is None:
                t = ""
            t = t.lower().strip(" \t\n\r\f\v")
            ws = ws_re.split(t) if t else []
            return [(w,
                     ws[i - 1] if i >= 1 else None,
                     ws[i - 2] if i >= 2 else None)
                    for i, w in enumerate(ws)]
        return s.map(f)

    return _ng


def _position_tuples(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return (df.select(F.col(id_col).alias("_id"),
                      F.explode(ngram_tuples_udf()(F.col(text_col)))
                      .alias("g"))
            .select("_id", "g.w", "g.p1", "g.p2"))


def _hashed_keys(pos: DataFrame, order: int, keep: list[str]) -> DataFrame:
    """Project (w, p1, p2) position tuples to fixed-width xxhash64 join
    keys and DROP the strings — everything downstream (pre-agg, count
    tables, scoring joins) shuffles 8-byte longs, never text.  Keys
    whose context token is absent (document head) are NULL, preserving
    the string path's join/branch semantics exactly: a NULL key never
    equi-joins, and ``_k1p IS NULL`` ⟺ ``p1 IS NULL``."""
    h1 = F.col("p1").isNotNull()
    cols = keep + [
        F.xxhash64("w").alias("_k1"),
        F.when(h1, F.xxhash64("p1")).alias("_k1p"),
        F.when(h1, F.xxhash64("p1", "w")).alias("_k2"),
    ]
    if order == 3:
        h2 = F.col("p2").isNotNull()
        cols += [
            F.when(h2, F.xxhash64("p2", "p1")).alias("_k2c"),
            F.when(h2, F.xxhash64("p2", "p1", "w")).alias("_k3"),
        ]
    return pos.select(*cols)


def ngram_surprisal_report(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text",
                           train: DataFrame | None = None,
                           order: int = 3, alpha: float = 1.0,
                           lam: float = 0.4,
                           broadcast_model: bool = False,
                           persist_pos: bool = True) -> DataFrame:
    """Per-document mean n-gram surprisal with stupid backoff (spec in
    the section comment): ``(id_col, n_tok, surprisal)`` for every
    input row.  ``order`` ∈ {2, 3}; ``train`` defaults to ``df``
    (self-scoring — backoff then never fires for grams the document
    itself contributes, matching the recipe's corpus-self-model tier).

    CACHE LIFETIME: with ``persist_pos=True`` (default) the per-doc
    keyed-gram frame stays pinned until the ContextCleaner GCs the
    report's plan — correct for one-shot reports, but a BATCH LOOP
    (per-epoch scoring calling this every micro-batch) accumulates one
    cached relation per call.  Loop callers should pass
    ``persist_pos=False`` (pays the Arrow explode once per consumer —
    up to 4× when self-scoring — but nothing pins)."""
    if order not in (2, 3):
        raise ValueError("order must be 2 or 3 (1 = surprisal_report)")
    pos = _hashed_keys(_position_tuples(df, id_col, text_col),
                       order, [F.col("_id")])
    key_cols = ["_k1", "_k1p", "_k2"] + (["_k2c", "_k3"]
                                         if order == 3 else [])
    # per-doc DISTINCT gram multiplicities: every downstream join and
    # the final sum ride on (_id, keys..., _n) — hot-token repeats
    # inside a doc collapse here, the same skew defuse as the unigram
    # tier, and the shuffled rows are all-BIGINT.  Persist: feeds the
    # scoring joins AND (when self-scoring) all three count tables —
    # unpinned, Catalyst re-runs the Arrow explode once per consumer.
    dpos = pos.groupBy("_id", *key_cols).agg(F.count(F.lit(1)).alias("_n"))
    if persist_pos:
        dpos = dpos.persist()
    tbase = (_hashed_keys(_position_tuples(train, id_col, text_col),
                          order, [])
             if train is not None else None)
    if tbase is not None and persist_pos:
        # three count tables + the stats row all aggregate this gram
        # relation — unpinned, each one re-runs the train Arrow explode
        tbase = tbase.persist()

    def _counts(key):
        src = tbase if tbase is not None else dpos
        weight = F.lit(1) if tbase is not None else F.col("_n")
        return (src.filter(F.col(key).isNotNull()) if key != "_k1" else src) \
            .groupBy(F.col(key).alias("_k")) \
            .agg(F.sum(weight).alias("_c"))

    c1 = _counts("_k1")
    c2 = _counts("_k2")
    c3 = _counts("_k3") if order == 3 else None
    if persist_pos:
        # c1 feeds TWO scoring joins (_k1, _k1p) plus the vocabulary
        # stats row, c2 two joins (_k2, _k2c) — without a pin Catalyst
        # re-runs the full count aggregation per consumer (5-6
        # aggregations over the gram relation instead of 3, measured
        # in the sf0.1 plan).  c3 has one consumer; no pin.  Same
        # lifecycle/gating story as dpos above.
        c1, c2 = c1.persist(), c2.persist()
    return _join_and_score(df, id_col, dpos, c1, c2, c3, order,
                           alpha, lam, broadcast_model)


def _join_and_score(df: DataFrame, id_col: str, dpos: DataFrame,
                    c1: DataFrame, c2: DataFrame,
                    c3: DataFrame | None, order: int, alpha: float,
                    lam: float, broadcast_model: bool) -> DataFrame:
    """The shared scoring tail: join the per-doc keyed-gram frame
    against (_k, _c) count tables, apply the quantized backoff
    expression, re-attach every input row."""
    stats = c1.agg(F.sum("_c").alias("total"),
                   F.count(F.lit(1)).alias("v"))
    if broadcast_model:
        c1, c2 = F.broadcast(c1), F.broadcast(c2)

    s = (dpos
         .join(c1.select(F.col("_k").alias("_k1"),
                         F.col("_c").alias("_c1w")), "_k1", "left")
         .join(c1.select(F.col("_k").alias("_k1p"),
                         F.col("_c").alias("_c1p1")), "_k1p", "left")
         .join(c2.select(F.col("_k").alias("_k2"),
                         F.col("_c").alias("_c2")), "_k2", "left"))
    if order == 3:
        if broadcast_model:
            c3 = F.broadcast(c3)
        s = (s.join(c2.select(F.col("_k").alias("_k2c"),
                              F.col("_c").alias("_c2ctx")), "_k2c", "left")
             .join(c3.select(F.col("_k").alias("_k3"),
                             F.col("_c").alias("_c3")), "_k3", "left"))
    s = s.crossJoin(F.broadcast(stats))

    denom = F.col("total") + F.lit(alpha) * F.col("v")
    uni = F.log((F.coalesce("_c1w", F.lit(0)) + F.lit(alpha)) / denom)
    big = F.when(F.col("_c2").isNotNull(),
                 F.log(F.col("_c2") / F.col("_c1p1"))) \
        .otherwise(F.lit(math.log(lam)) + uni)
    if order == 3:
        tri = F.when(F.col("_c3").isNotNull(),
                     F.log(F.col("_c3") / F.col("_c2ctx"))) \
            .otherwise(F.lit(math.log(lam)) + big)
        lp = (F.when(F.col("_k1p").isNull(), uni)
              .when(F.col("_k2c").isNull(), big)
              .otherwise(tri))
    else:
        lp = F.when(F.col("_k1p").isNull(), uni).otherwise(big)
    lp_q6 = F.floor(lp * F.lit(_Q)).cast("long")

    scored = (s.groupBy("_id")
              .agg(F.sum(lp_q6 * F.col("_n")).alias("_sum_q"),
                   F.sum("_n").alias("n_tok")))
    base = df.select(F.col(id_col))
    return (base.join(scored.withColumnRenamed("_id", id_col),
                      id_col, "left")
            .select(id_col,
                    F.coalesce("n_tok", F.lit(0)).alias("n_tok"),
                    F.coalesce(
                        (-F.col("_sum_q")) / F.col("n_tok") / F.lit(_Q),
                        F.lit(0.0)).alias("surprisal")))


def _keyed_dpos(df: DataFrame, id_col: str, text_col: str,
                order: int) -> DataFrame:
    pos = _hashed_keys(_position_tuples(df, id_col, text_col),
                       order, [F.col("_id")])
    key_cols = ["_k1", "_k1p", "_k2"] + (["_k2c", "_k3"]
                                         if order == 3 else [])
    return pos.groupBy("_id", *key_cols).agg(F.count(F.lit(1)).alias("_n"))


def write_ngram_model(train: DataFrame, path: str,
                      id_col: str = "doc_id", text_col: str = "text",
                      order: int = 3) -> None:
    """Persist the n-gram COUNT TABLES as a reusable model artifact:
    ``{path}/c1``, ``{path}/c2`` (and ``c3`` for order 3) as
    (_k bigint, _c bigint) parquet plus a one-row ``meta`` pinning the
    order — the band-store pattern applied to the language model.  A
    per-epoch scoring loop then reads counts instead of re-tokenizing
    and re-aggregating the training corpus every batch
    (:func:`ngram_surprisal_report_stored`).  ``alpha``/``lam`` are
    score-time parameters, deliberately NOT baked into the counts;
    the (total, v) stats row is a two-value aggregate of c1, cheaper
    to recompute at read than to keep consistent on disk."""
    if order not in (2, 3):
        raise ValueError("order must be 2 or 3")
    kt = _hashed_keys(_position_tuples(train, id_col, text_col),
                      order, [])

    def _counts(key):
        return (kt.filter(F.col(key).isNotNull()) if key != "_k1" else kt) \
            .groupBy(F.col(key).alias("_k")) \
            .agg(F.count(F.lit(1)).alias("_c"))

    spark = train.sparkSession
    # the two/three count tables aggregate the SAME keyed-gram relation:
    # pin it for the duration of the writes (otherwise each write
    # re-runs the train Arrow explode — 3 full passes), and submit the
    # independent writes from driver threads so their jobs overlap
    # (guide §2.6); meta stays strictly LAST — the reader refuses a
    # store without meta, so a crash mid-write fails loudly.
    kt = kt.persist()
    try:
        from concurrent.futures import ThreadPoolExecutor

        keys = ["_k1", "_k2"] + (["_k3"] if order == 3 else [])
        with ThreadPoolExecutor(max_workers=len(keys)) as pool:
            futs = [
                pool.submit(
                    lambda k=k: _counts(k).write.mode("overwrite")
                    .parquet(f"{path}/c{k[-1]}"))
                for k in keys
            ]
            for f in futs:
                f.result()
    finally:
        kt.unpersist()
    from ..plans.checkpoint import write_rows
    write_rows(spark, f"{path}/meta", "order int", [(order,)])
    spark.catalog.refreshByPath(path)


def ngram_surprisal_report_stored(df: DataFrame, path: str,
                                  id_col: str = "doc_id",
                                  text_col: str = "text",
                                  alpha: float = 1.0, lam: float = 0.4,
                                  broadcast_model: bool = False,
                                  persist_pos: bool = True,
                                  pinned: list | None = None) -> DataFrame:
    """Score a batch against a :func:`write_ngram_model` artifact —
    bit-identical to ``ngram_surprisal_report(df, train=the model's
    corpus)`` (pinned by test), at per-batch cost ∝ batch +
    count-table joins: the training corpus is never re-read.  The
    model's order comes from its meta (no drift possible).  Loop
    callers pass ``pinned`` (or ``persist_pos=False``) exactly as in
    the in-memory form."""
    spark = df.sparkSession
    from ..plans.checkpoint import fs_exists

    if not fs_exists(spark, f"{path}/meta"):
        raise ValueError(f"no ngram model at {path} (missing meta)")
    from ..plans.checkpoint import read_one_row
    order = int(read_one_row(spark, f"{path}/meta")["order"])
    dpos = _keyed_dpos(df, id_col, text_col, order)
    if persist_pos:
        dpos = dpos.persist()
        if pinned is not None:
            pinned.append(dpos)
    c1 = spark.read.parquet(f"{path}/c1")
    c2 = spark.read.parquet(f"{path}/c2")
    c3 = spark.read.parquet(f"{path}/c3") if order == 3 else None
    return _join_and_score(df, id_col, dpos, c1, c2, c3, order,
                           alpha, lam, broadcast_model)

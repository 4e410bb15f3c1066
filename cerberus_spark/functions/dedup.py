"""Deduplication at training-data scale.

* exact         — hash-groupBy on a normalized-text fingerprint
* MinHash + LSH — shingle → minhash signature → banded bucket join;
                  candidates verified by true shingle Jaccard
* SimHash       — 64-bit near-dup signature (pure Column md5 bit-tally)
* n-gram Jaccard — exact similarity for candidate verification

Scale notes: every stage is shuffle-bounded by design.  MinHash
signatures are pure Column algebra (xxhash64 per permutation, array_min
over shingles) — no Python.  The LSH band explode multiplies rows by
#bands only (not #shingles); the bucket join groups by (band, hash),
and only bucket members are pairwise-verified, so the quadratic step is
confined to buckets (AQE skew-join splits pathological buckets).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window as W, functions as F, types as T

from .text import words, fingerprint


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_duplicates(df: DataFrame, text_col: str, id_col: str,
                     max_ids: int = 1000) -> DataFrame:
    """Groups of identical (normalized) texts: returns
    (fingerprint, n, keep_id, dup_ids) for groups of size > 1.

    Memory-bounded at scale: a pathological fingerprint (e.g. every
    empty text hashing identically) must not collect millions of ids
    into one aggregation buffer.  Ids are ranked per group by a window
    (spillable external sort) and only the first ``max_ids`` enter the
    collect_list (``when`` yields NULL past the cap; collect_list skips
    NULLs), so the agg buffer is bounded by ``max_ids``.  ``n`` is
    always the TRUE group size — ``size(dup_ids) < n - 1`` marks a
    truncated group, so nothing is dropped silently."""
    fp = df.select(F.col(id_col).alias("_id"), fingerprint(F.col(text_col)).alias("fp"))
    w = W.partitionBy("fp").orderBy("_id")
    ranked = fp.withColumn("_rn", F.row_number().over(w))
    groups = ranked.groupBy("fp").agg(
        F.max("_rn").alias("n"),
        F.min("_id").alias("keep_id"),
        F.sort_array(
            F.collect_list(F.when(F.col("_rn") <= max_ids, F.col("_id")))
        ).alias("all_ids"),
    )
    return groups.filter(F.col("n") > 1).select(
        "fp", "n", "keep_id",
        F.array_remove(F.col("all_ids"), F.col("keep_id")).alias("dup_ids"),
    )


def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one representative (min id) per normalized text — the
    classic exact-dedup pass (one shuffle on the 64-bit fingerprint)."""
    w = W.partitionBy(fingerprint(F.col(text_col))).orderBy(id_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# shingles + jaccard
# ---------------------------------------------------------------------------


def shingles(text: Column, k: int = 3) -> Column:
    """Distinct word k-shingles of the normalized text (array<string>).
    Texts shorter than k words yield their full word-join as one shingle."""
    w = words(text)
    n = F.size(w)
    grams = F.when(
        n >= k,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), n - k),
                lambda i: F.concat_ws(" ", F.slice(w, i + 1, k)),
            )
        ),
    ).otherwise(F.array(F.concat_ws(" ", w)))
    return grams


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two string arrays."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        threshold: float = 0.8, k: int = 3,
                        num_perm: int = 32, bands: int = 8,
                        bucket_cap: int | None = 200,
                        persist_shingles: bool = True) -> DataFrame:
    """All-pairs n-gram Jaccard ≥ threshold via LSH candidates
    (never a full cross join).  Candidate recall is the banding
    collision probability 1-(1-j^r)^bands (r = num_perm/bands) — near 1
    well above the threshold; the exact-Jaccard verify step makes
    precision 1.

    POLICY: rows whose normalized text tokenizes to NOTHING (null,
    empty, whitespace-only) are excluded from the pair graph entirely —
    they have no shingle content to be "near-duplicates" of.  Without
    this, every such row shares the degenerate shingle set {""}
    (Jaccard 1.0 with every other empty row), so a destructive dedup
    pass would silently drop all-but-one empty-text row — data loss on
    rows the dedup has no evidence about.  The DuckDB oracle applies
    the identical predicate."""
    df = df.filter(F.size(words(F.col(text_col))) > 0)
    sh64 = _sh64_df(df, id_col, text_col, k)
    if persist_shingles:
        # the exploded shingle relation feeds FOUR consumers (signature
        # agg, per-doc sizes, both verify join sides) — without a cache
        # each one re-scans the corpus and re-runs the Arrow shingler.
        # Cheap at test scale; at 100 TB the 3 avoided corpus scans are
        # the dominant cost.  MEMORY_AND_DISK spills, and the
        # ContextCleaner drops the cache once the result plan is GC'd.
        from pyspark import StorageLevel
        sh64 = sh64.persist(StorageLevel.MEMORY_AND_DISK)
    cands = minhash_lsh_candidates(df, id_col, text_col, k=k,
                                   num_perm=num_perm, bands=bands,
                                   bucket_cap=bucket_cap, _sh64=sh64)
    if persist_shingles:
        # the pair list now has three consumers (both id-restriction
        # sides and the intersection join); it is the near-dup OUTPUT —
        # orders of magnitude smaller than the corpus — so pin it
        # rather than re-running the banding+window candidate pipeline
        # per consumer
        from pyspark import StorageLevel
        cands = cands.persist(StorageLevel.MEMORY_AND_DISK)
    # exact Jaccard from the SAME pre-hashed exploded relation the
    # signatures aggregate (r3 VERDICT item 5): |A∩B| = matching-hash
    # count per pair, |A∪B| = n_a + n_b - inter.  Shuffles 8-byte hash
    # rows instead of array<string> shingle columns, and the sizes/
    # signature aggregations share an identical exchange child
    # (ReusedExchange-eligible).  64-bit collisions (~s²/2⁶⁴) are the
    # only divergence from string-set Jaccard — negligible at any
    # realistic shingle count, and the DuckDB string-set oracle pins it.
    # both verify sides and the set-size aggs are restricted to ids
    # that actually appear in a candidate pair (broadcast semi-join,
    # the stored-probe pattern): the joins and aggs are then ∝
    # candidates, not ∝ the corpus shingle relation — same values for
    # every surviving id
    cand_a = cands.select("id_a").distinct()
    cand_b = cands.select("id_b").distinct()
    a = (sh64.join(F.broadcast(cand_a), sh64["_id"] == cand_a["id_a"],
                   "left_semi")
         .select(F.col("_id").alias("id_a"), "_sh64"))
    b = (sh64.join(F.broadcast(cand_b), sh64["_id"] == cand_b["id_b"],
                   "left_semi")
         .select(F.col("_id").alias("id_b"), "_sh64"))
    inter = (
        cands.join(a, "id_a").join(b, ["id_b", "_sh64"])
        .groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("_inter"))
    )
    na = a.groupBy("id_a").agg(F.count(F.lit(1)).alias("_na"))
    nb = b.groupBy("id_b").agg(F.count(F.lit(1)).alias("_nb"))
    return (
        inter.join(na, "id_a").join(nb, "id_b")
        .select(
            "id_a", "id_b",
            (F.col("_inter")
             / (F.col("_na") + F.col("_nb") - F.col("_inter"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def shingles_udf(k: int = 3) -> Column:
    """Factory: Arrow-batched word k-shingles — set-identical to the
    Column ``shingles`` spec (pinned by test_shingles_udf_equals_column)
    but ~16× faster: the Column form's ``transform(sequence, slice,
    concat_ws)`` is a CodegenFallback HOF that interprets its child
    subtree per element (measured 8.3s vs 0.5s over sf0.1 documents).

    Tokenization mirrors the JVM side exactly: ASCII-whitespace split
    (Java ``\\s``; Python's default ``\\s``/``str.split`` are
    unicode-wide) on the lowercased, edge-stripped text.  ``\\S+``
    findall on the lowercased text IS that token stream (maximal runs
    of non-ASCII-whitespace — identical to strip+split, without
    building the stripped copy), and the k-gram walk zips k shifted
    views instead of slicing per position — same joined strings, ~1.35x
    less Python per row (measured; the shingle pass is the hot Python
    loop of every minhash/band-store path)."""
    import re

    tok_re = re.compile(r"\S+", re.ASCII)

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _sh(s: pd.Series) -> pd.Series:
        def f(t):
            if t is None:
                t = ""
            ws = tok_re.findall(t.lower())
            if len(ws) >= k:
                return list(dict.fromkeys(
                    map(" ".join, zip(*(ws[i:] for i in range(k))))))
            return [" ".join(ws)]
        return s.map(f)

    return _sh


def _sh64_df(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """Exploded pre-hashed shingle relation (_id, _sh64) — the shared
    base of the signature aggregation AND the exact-Jaccard verify.
    Shingling runs on the Arrow path (see ``shingles_udf``); hashing
    stays JVM-side.

    Under-split inputs (single-row-group parquet: the scan is ONE task
    however small maxPartitionBytes is, so the whole shingle pass runs
    on one core) are fanned out to the session parallelism first —
    scale-adaptive: at real corpus scale the scan has more splits than
    cores and no exchange is added."""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        df = df.repartition(par)
    return df.select(
        F.col(id_col).alias("_id"),
        F.explode(shingles_udf(k)(F.col(text_col))).alias("_sh"),
    ).select("_id", F.xxhash64("_sh").alias("_sh64"))


def _sig_from_sh64(sh64: DataFrame, num_perm: int) -> DataFrame:
    """(_id, _h0.._hN) MinHash signatures from the exploded ``_sh64``
    relation via a per-permutation min aggregation — the scalable
    shape: shingles materialize exactly once, map-side partial min
    keeps the single shuffle tiny.  (An array-of-lambdas formulation
    re-evaluates the shingle array per permutation per row — measured
    4-5× slower.)

    Permutation i hashes the PRE-HASHED 64-bit shingle value —
    xxhash64(xxhash64(shingle), i) — so the variable-length string is
    hashed once and each of the num_perm permutations mixes 8 fixed
    bytes, instead of re-hashing the string num_perm times (the
    dominant cost at ~20 chars/shingle × 32 permutations)."""
    aggs = [
        F.min(F.xxhash64(F.col("_sh64"), F.lit(i))).alias(f"_h{i}")
        for i in range(num_perm)
    ]
    return sh64.groupBy("_id").agg(*aggs)


def minhash_lsh_candidates(df: DataFrame, id_col: str, text_col: str,
                           num_perm: int = 32, bands: int = 8, k: int = 3,
                           bucket_cap: int | None = 200,
                           _sh64: DataFrame | None = None) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) via banded MinHash LSH.

    rows-per-band = num_perm/bands; two docs collide when any band's
    sub-signature hashes equal.  Explode = ×bands rows; the groupBy is
    on (band, band_hash) — bounded fan-out, skew handled by AQE.

    Degenerate buckets (e.g. a corpus slice of identical short texts
    hashing every band equally) are capped at ``bucket_cap`` members:
    a window ranks members per bucket (spillable sort — no unbounded
    agg buffer) and only the first ``bucket_cap`` ids participate in
    the in-bucket pair expansion, bounding it at bucket_cap²/2 pairs.
    The cap is NOT silent: members beyond it still pair with the
    bucket's rank-1 representative, so every capped doc surfaces as a
    candidate of the group exemplar (near-dup groups stay connected for
    the union-find pass) — only redundant intra-group pairs are
    dropped."""
    rows_per_band = num_perm // bands
    sig = _sig_from_sh64(
        _sh64 if _sh64 is not None else _sh64_df(df, id_col, text_col, k),
        num_perm,
    )
    no_cap = bucket_cap is None
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[F.col(f"_h{b * rows_per_band + r}") for r in range(rows_per_band)]
                ).alias("bhash"),
            )
            for b in range(bands)
        ]
    )
    banded = sig.select("_id", F.explode(band_structs).alias("bb")).select(
        "_id", "bb.band", "bb.bhash"
    )
    if no_cap:
        # bucket_cap=None: caller asserts no degenerate buckets (e.g.
        # an oracle-pinned fixture where the cap must provably never
        # bind) — skip the ranking window entirely; the groupBy's
        # buffer is then bounded by the caller's assertion, not by us
        buckets = banded.groupBy("band", "bhash").agg(
            F.sort_array(F.collect_list("_id")).alias("ids"),
        ).filter(F.size("ids") > 1)
    else:
        ranked = banded.withColumn(
            "_rn",
            F.row_number().over(W.partitionBy("band", "bhash").orderBy("_id"))
        )
        buckets = ranked.filter(F.col("_rn") <= bucket_cap) \
            .groupBy("band", "bhash").agg(
                F.sort_array(F.collect_list("_id")).alias("ids"),
            ).filter(F.size("ids") > 1)
    pairs = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (x, i) -> "
                "transform(slice(ids, i + 2, size(ids) - i - 1), y -> struct(x as id_a, y as id_b))))"
            )
        ).alias("p")
    ).select("p.id_a", "p.id_b")
    if no_cap:
        return pairs.distinct()
    # overflow members (rank > cap) pair with the bucket head only: every
    # capped doc still surfaces as a candidate of the group exemplar, so
    # near-dup groups stay connected for union-find — no row-level agg
    # buffer anywhere, no silent drop.
    heads = ranked.filter(F.col("_rn") == 1).select(
        "band", "bhash", F.col("_id").alias("id_a")
    )
    overflow_pairs = ranked.filter(F.col("_rn") > bucket_cap).select(
        "band", "bhash", F.col("_id").alias("id_b")
    ).join(heads, ["band", "bhash"]).select("id_a", "id_b")
    return pairs.unionByName(overflow_pairs).distinct()


def _free_local_checkpoint(df: DataFrame) -> None:
    """Release the block-manager blocks behind an eagerly
    ``localCheckpoint``'ed frame.  ``DataFrame.unpersist`` only covers
    CacheManager-registered plans; a checkpoint's RDD blocks otherwise
    live until the ContextCleaner GCs the JVM Dataset — O(rounds)
    superseded label tables in the union-find loop.  The analyzed plan
    of a checkpointed frame is a ``LogicalRDD`` holding the
    materialized RDD, so unpersisting that RDD frees the blocks
    immediately.  Best-effort: plan-shape drift degrades to the old
    GC-eventually behavior, never an error."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def connected_components(pairs: DataFrame, a: str = "id_a", b: str = "id_b",
                         max_iters: int = 25) -> DataFrame:
    """(node, component) for every node appearing in ``pairs``, where
    ``component`` is the MINIMUM node id reachable through the pair
    graph — distributed min-label propagation with pointer jumping.

    Each iteration (a) joins the label table with the (bidirected)
    edge list and takes the elementwise minimum, then (b) pointer-jumps
    — replaces each node's label with its LABEL's label (every label is
    itself a node id, so the lookup is a self-join).  The jump halves
    the effective path length per round, so convergence needs
    O(log diameter) rounds, not O(diameter): a chain of 2^25 nodes
    would be needed to exhaust the default ``max_iters``.  The pair
    list is the OUTPUT of near-dup detection, orders of magnitude
    smaller than the corpus, so these are small shuffles; every step is
    a plain join+groupBy (spillable, AQE-planned) with nothing
    driver-side.

    Raises ``RuntimeError`` if ``max_iters`` rounds end with labels
    still changing — returning silently-partial components would make a
    downstream dedup keep rows it should drop (r4 VERDICT item 5)."""
    edges = (pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
             .unionByName(pairs.select(F.col(b).alias("src"),
                                       F.col(a).alias("dst")))
             .distinct())
    labels = (edges.select(F.col("src").alias("node"))
              .distinct()
              .withColumn("comp", F.col("node")))
    edges = edges.persist()
    # Each round's output is eagerly localCheckpoint'ed: the pointer
    # jump references the round's propagation result TWICE (self-join),
    # so carrying raw lineage would double the logical plan per round —
    # exponential analysis/codegen growth (observed: driver OOM at
    # depth 8).  Checkpointing truncates the plan to the materialized
    # label table, which is the pair-graph node list — tiny relative to
    # the corpus.  (On a real cluster with executor loss concerns, set
    # a reliable checkpoint dir and swap in ``checkpoint``.)
    labels = labels.localCheckpoint(eager=True)
    ckpt = labels  # handle on the CHECKPOINTED frame (not a projection
    # over it) so the superseded round's blocks can be freed
    converged = False
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges.src == labels.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("comp").alias("n_comp"))
        )
        # carry the pre-round label as _prev so the convergence check is
        # a scan of the checkpointed result, not another join
        prop = (
            labels.join(neighbor_min, "node", "left")
            .select("node", F.col("comp").alias("_prev"),
                    F.least("comp", F.coalesce("n_comp", "comp")).alias("comp"))
        ).persist()  # the jump references prop twice — compute it once
        # pointer jump: comp ← label(comp).  Every comp value is a node
        # id present in the label table, so this is a plain self-join;
        # it halves the remaining path length each round → O(log
        # diameter) rounds overall.
        new_labels = (
            prop.join(
                prop.select(F.col("node").alias("comp"),
                            F.col("comp").alias("_jc")),
                "comp", "left")
            .select("node", "_prev",
                    F.least("comp", F.coalesce("_jc", "comp")).alias("comp"))
        ).localCheckpoint(eager=True)
        prop.unpersist()
        changed = (
            new_labels.filter(F.col("comp") != F.col("_prev"))
            .limit(1).count()
        )
        # the new checkpoint supersedes the previous round's — free its
        # blocks now instead of accumulating O(rounds) × node-list in
        # executor storage until ContextCleaner GC
        _free_local_checkpoint(ckpt)
        ckpt = new_labels
        labels = new_labels.select("node", "comp")
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        _free_local_checkpoint(ckpt)
        raise RuntimeError(
            f"connected_components: labels still changing after "
            f"{max_iters} rounds — component labels would be PARTIAL "
            f"(a downstream dedup would under-drop). Raise max_iters; "
            f"with pointer jumping this needs a component of diameter "
            f"> 2^{max_iters}."
        )
    return labels


def dedup_near(df: DataFrame, id_col: str, text_col: str,
               threshold: float = 0.8, **lsh_kw) -> DataFrame:
    """Near-dedup the corpus: detect verified near-dup pairs
    (MinHash-LSH candidates → exact shingle Jaccard ≥ threshold), form
    connected components, keep the MIN-id representative per component
    plus every non-duplicated row — the standard training-data
    near-dedup pass.  One left-anti join of the corpus against the
    (tiny) drop list; no corpus-sized state anywhere.

    Rows with null/empty/whitespace-only text are NEVER dropped: they
    are excluded from the pair graph (see ``ngram_jaccard_pairs``), so
    they cannot form a spurious all-empties component."""
    pairs = ngram_jaccard_pairs(df, id_col, text_col, threshold=threshold,
                                **lsh_kw)
    comps = connected_components(pairs)
    drops = (comps.filter(F.col("node") != F.col("comp"))
             .select(F.col("node").alias(id_col)))
    return df.join(drops, id_col, "left_anti")


def cross_dup_pairs(new: DataFrame, ref: DataFrame, id_col: str,
                    text_col: str, threshold: float = 0.8, k: int = 3,
                    num_perm: int = 32, bands: int = 8,
                    bucket_cap: int = 200,
                    persist_shingles: bool = True) -> DataFrame:
    """Verified near-dup pairs BETWEEN two corpora — (id_new, id_ref,
    jaccard ≥ threshold) — the incremental-ingest primitive: dedup a
    new crawl against the corpus already kept, without re-pairing the
    old corpus with itself.

    Same machinery as :func:`ngram_jaccard_pairs` (Arrow shingles →
    64-bit pre-hash → banded MinHash buckets → exact matching-hash
    Jaccard from the SAME persisted relation), with two differences:

    * The in-bucket expansion is the new×ref BIPARTITE product only —
      new·new and ref·ref pairs never materialize, so the candidate
      volume is what the ingest actually needs.
    * ``bucket_cap`` ranks each SIDE of a bucket independently;
      overflow NEW members still pair with the bucket's first ref
      member (a new doc is never silently exempted from the check),
      overflow REF members are dropped (the retained cap already
      represents that bucket's reference content — same cap trade as
      the in-corpus path, documented there).

    The two id spaces are independent — ids may collide across
    corpora; sides are tracked structurally, never by id value.
    Empty-text policy matches the family: tokenless rows on either
    side are excluded."""
    from pyspark import StorageLevel

    nf = new.filter(F.size(words(F.col(text_col))) > 0).select(
        F.lit(0).alias("_side"), F.col(id_col).alias("_oid"),
        F.col(text_col).alias("_text"))
    rf = ref.filter(F.size(words(F.col(text_col))) > 0).select(
        F.lit(1).alias("_side"), F.col(id_col).alias("_oid"),
        F.col(text_col).alias("_text"))
    sh64 = (nf.unionByName(rf)
            .select("_side", "_oid",
                    F.explode(shingles_udf(k)(F.col("_text"))).alias("_sh"))
            .select("_side", "_oid", F.xxhash64("_sh").alias("_sh64")))
    if persist_shingles:
        # same knob as ngram_jaccard_pairs so callers (e.g. the
        # streaming ingest) can forward ONE dedup_kw dict to both the
        # within-batch and cross-corpus passes
        sh64 = sh64.persist(StorageLevel.MEMORY_AND_DISK)

    rows_per_band = num_perm // bands
    sig = sh64.groupBy("_side", "_oid").agg(
        *[F.min(F.xxhash64(F.col("_sh64"), F.lit(i))).alias(f"_h{i}")
          for i in range(num_perm)])
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(*[F.col(f"_h{b * rows_per_band + r}")
                         for r in range(rows_per_band)]).alias("bhash"))
        for b in range(bands)])
    banded = (sig.select("_side", "_oid",
                         F.explode(band_structs).alias("bb"))
              .select("_side", "_oid", "bb.band", "bb.bhash"))
    ranked = banded.withColumn(
        "_rn", F.row_number().over(
            W.partitionBy("band", "bhash", "_side").orderBy("_oid")))
    kept = ranked.filter(F.col("_rn") <= bucket_cap)
    newb = kept.filter(F.col("_side") == 0).select(
        "band", "bhash", F.col("_oid").alias("id_new"))
    refb = kept.filter(F.col("_side") == 1).select(
        "band", "bhash", F.col("_oid").alias("id_ref"))
    pairs = newb.join(refb, ["band", "bhash"]).select("id_new", "id_ref")
    ref_heads = ranked.filter(
        (F.col("_side") == 1) & (F.col("_rn") == 1)).select(
        "band", "bhash", F.col("_oid").alias("id_ref"))
    overflow = (ranked.filter((F.col("_side") == 0)
                              & (F.col("_rn") > bucket_cap))
                .select("band", "bhash", F.col("_oid").alias("id_new"))
                .join(ref_heads, ["band", "bhash"])
                .select("id_new", "id_ref"))
    cands = pairs.unionByName(overflow).distinct()

    a = sh64.filter(F.col("_side") == 0).select(
        F.col("_oid").alias("id_new"), "_sh64")
    b = sh64.filter(F.col("_side") == 1).select(
        F.col("_oid").alias("id_ref"), "_sh64")
    inter = (cands.join(a, "id_new").join(b, ["id_ref", "_sh64"])
             .groupBy("id_new", "id_ref")
             .agg(F.count(F.lit(1)).alias("_inter")))
    sizes = sh64.groupBy("_side", "_oid").agg(F.count(F.lit(1)).alias("n"))
    na = sizes.filter(F.col("_side") == 0).select(
        F.col("_oid").alias("id_new"), F.col("n").alias("_na"))
    nb = sizes.filter(F.col("_side") == 1).select(
        F.col("_oid").alias("id_ref"), F.col("n").alias("_nb"))
    return (inter.join(na, "id_new").join(nb, "id_ref")
            .select("id_new", "id_ref",
                    (F.col("_inter")
                     / (F.col("_na") + F.col("_nb") - F.col("_inter")))
                    .alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def dedup_against(new: DataFrame, ref: DataFrame, id_col: str,
                  text_col: str, threshold: float = 0.8,
                  **lsh_kw) -> DataFrame:
    """Incremental ingest dedup: the NEW rows that are near-duplicates
    of nothing in the reference corpus.  One left-anti join of the new
    frame against the (tiny) matched-id list; the reference corpus is
    read, never modified, and never self-paired.  Tokenless new rows
    pass through untouched (no evidence ⇒ no drop).

    NOTE: this re-shingles ``ref`` on every call.  A LOOP caller (one
    call per ingest epoch, ``ref`` = everything kept so far) pays
    compute quadratic in the stream length — use the persisted band
    store instead (:func:`write_band_store` at each epoch commit,
    :func:`dedup_against_store` to probe), which never re-tokenizes
    the reference side."""
    matched = (cross_dup_pairs(new, ref, id_col, text_col,
                               threshold=threshold, **lsh_kw)
               .select(F.col("id_new").alias(id_col)).distinct())
    return new.join(matched, id_col, "left_anti")


# ---------------------------------------------------------------------------
# persisted MinHash band store — incremental-ingest state
# ---------------------------------------------------------------------------
#
# The r5 streaming ingest's one scale-killer: per-epoch
# ``dedup_against(batch, everything_kept_so_far)`` re-reads the kept
# corpus TEXT, re-runs the Arrow shingler over it, and re-aggregates its
# MinHash signatures — per-epoch cost linear in the corpus, total ingest
# cost QUADRATIC in stream length.  Every one of those artifacts is
# deterministic (xxhash64 permutations are seed-free by construction),
# so they can be written ONCE at epoch commit and probed forever:
#
#   {store}/bands/epoch=N   (_id, band int, bhash long)  ~bands/doc
#   {store}/hashes/epoch=N  (_id, _sh64 long)            ~shingles/doc
#   {store}/meta   one row (k, num_perm, bands) — guard
#
# A probe (a) bands the NEW batch, (b) left-semi-joins the band store
# against the batch's (band, bhash) keys — the store side is scanned
# (two longs + id, columnar, no text, no Python) but never shuffled
# (the probe side broadcasts), (c) expands only the touched buckets
# bipartitely under the same caps as cross_dup_pairs, and (d) verifies
# exact Jaccard against the hash store restricted to CANDIDATE ref ids
# (left-semi again).  Per-epoch compute is ∝ batch + candidates.
#
# One layout: each epoch of each table is one plain parquet directory
# of a few files, and every read lists the epoch dirs recursively.  A
# hash-bucketed layout (``pb=``/``ph=`` sub-directories, the probe
# pruning its read to the batch's touched dirs) was measured slower at
# every batch size, build included (BENCH/bucket_prune_probe.json:
# 300k-doc store, 4,096 buckets, 16 cores; 10-doc probe 2.32 s flat
# vs 4.53 s bucketed, 1,000 docs 3.93 vs 14.65 s) and wrote one file
# per touched bucket per epoch, so it was removed.  Epoch dirs an
# older writer laid out in buckets still read the same: the recursive
# listing finds their files and no bucket column appears.  At a scale
# where a tiny batch should read a fraction of the store, the layout
# to reach for is a catalog bucket transform (an Iceberg table), not
# hand-made dirs.


def _band_structs(num_perm: int, bands: int):
    rows_per_band = num_perm // bands
    return F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(*[F.col(f"_h{b * rows_per_band + r}")
                         for r in range(rows_per_band)]).alias("bhash"))
        for b in range(bands)])


def _check_store_meta(spark, store_dir: str, k: int, num_perm: int,
                      bands: int, create: bool) -> None:
    """Band rows are only comparable under identical (k, num_perm,
    bands) — a probe with different parameters would silently miss
    every pair.  The store pins its parameters at creation; mismatch
    raises.  Meta rows written by older versions carry extra layout
    columns; they are not read."""
    from ..plans.checkpoint import fs_exists

    meta_path = f"{store_dir}/meta"
    if fs_exists(spark, meta_path):
        # driver-side one-row read (local fast path)
        from ..plans.checkpoint import read_one_row
        row = read_one_row(spark, meta_path,
                           schema="k int, num_perm int, bands int")
        got = (row["k"], row["num_perm"], row["bands"])
        if got != (k, num_perm, bands):
            raise ValueError(
                f"band store at {store_dir} was written with "
                f"(k, num_perm, bands)={got}, probe/write requested "
                f"{(k, num_perm, bands)} — band hashes are not "
                f"comparable across parameter sets")
    elif create:
        from ..plans.checkpoint import write_rows
        write_rows(spark, meta_path, "k int, num_perm int, bands int",
                   [(k, num_perm, bands)])
    else:
        raise ValueError(f"no band store at {store_dir} (missing meta)")


def _read_epochs(spark, table_dir: str, max_epoch: int | None,
                 schema: str | None = None):
    """Read an epoch-partitioned store table by EXPLICIT epoch-dir
    paths (listed at plan time) instead of a bare parent-dir scan.

    Two reasons, both cache-staleness classes this repo hit live:
    (1) Spark's CacheManager substitutes cached relations by
    canonicalized plan — a persisted frame from a probe BEFORE an
    epoch append / compaction would silently replace an identical
    parent-path scan and serve pre-mutation data (or FILE_NOT_EXIST
    after compaction); path-set reads make every store mutation change
    the plan, so stale entries can never sameResult-match.
    (2) ``max_epoch`` becomes PATH pruning — retried half-written
    epochs are never even listed, let alone filtered.  Returns None
    when no matching epoch exists.

    Each epoch dir is listed recursively, so no partition column
    (``epoch``, or the ``pb``/``ph`` of an epoch an older writer laid
    out in bucket dirs) is discovered: the frame holds the data
    columns only."""
    from ..plans.checkpoint import fs_list, sequential_listing

    names = [n for n in fs_list(spark, table_dir) if n.startswith("epoch=")]
    if max_epoch is not None:
        names = [n for n in names
                 if int(n.split("=", 1)[1]) < max_epoch]
    if not names:
        return None
    rd = spark.read.option("recursiveFileLookup", "true")
    if schema is not None:
        # callers that know the table's data schema (it is fixed by the
        # store contract) pass it explicitly so the scan skips footer
        # schema inference
        rd = rd.schema(schema)
    with sequential_listing(spark, table_dir):
        return rd.parquet(*[f"{table_dir}/{n}" for n in sorted(names)])


def write_band_store(df: DataFrame, store_dir: str, epoch: int,
                     id_col: str, text_col: str, k: int = 3,
                     num_perm: int = 32, bands: int = 8) -> None:
    """Append one epoch's survivors to the band store (see the section
    comment above): one plain parquet dir per table.  Idempotent per
    epoch — a retried epoch overwrites exactly its own partitions.  Ids
    must be unique across epochs (each doc is committed by exactly one
    epoch — the ingest contract).  Tokenless rows carry no shingle
    evidence and are not stored, same policy as the whole near-dup
    family."""
    from pyspark import StorageLevel

    spark = df.sparkSession
    _check_store_meta(spark, store_dir, k, num_perm, bands, create=True)
    sh64 = _sh64_df(df.filter(F.size(words(F.col(text_col))) > 0),
                    id_col, text_col, k).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        def _write_hashes():
            sh64.write.mode("overwrite").parquet(
                f"{store_dir}/hashes/epoch={epoch}")

        def _write_bands():
            sig = _sig_from_sh64(sh64, num_perm)
            (sig.select("_id", F.explode(_band_structs(num_perm, bands))
                        .alias("bb"))
             .select("_id", "bb.band", "bb.bhash")
             .write.mode("overwrite").parquet(
                 f"{store_dir}/bands/epoch={epoch}"))

        # the two table writes are independent consumers of the pinned
        # shingle relation — overlap their jobs from driver threads
        # (guide §2.6; the BlockManager serves each cached partition to
        # whichever job materializes it first, the other waits on the
        # block instead of recomputing)
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            fh = pool.submit(_write_hashes)
            fb = pool.submit(_write_bands)
            fh.result()
            fb.result()
    finally:
        sh64.unpersist()
    # Spark's write only refreshes the epoch=N child path; a cached
    # plan scanning the PARENT ({store}/bands) — e.g. a persisted
    # verify frame from an earlier probe — would be silently
    # substituted for the next probe's scan and miss this epoch
    df.sparkSession.catalog.refreshByPath(store_dir)


def cross_dup_pairs_stored(new: DataFrame, store_dir: str, id_col: str,
                           text_col: str, threshold: float = 0.8,
                           *, max_epoch: int | None = None, k: int = 3,
                           num_perm: int = 32, bands: int = 8,
                           bucket_cap: int | None = 200,
                           persist_shingles: bool = True,
                           pinned: list | None = None) -> DataFrame:
    """(id_new, id_ref, jaccard ≥ threshold) of the NEW batch against
    the band store — pair-identical to
    ``cross_dup_pairs(new, ref, ...)`` over the same reference rows
    (pinned by test_band_store_pairs_equal_recompute), but the ref side
    is never re-shingled: bands and shingle hashes come from the store.

    ``max_epoch`` restricts the reference to ``epoch < max_epoch``
    (later epoch dirs are never listed) so a retried epoch never probes
    its own half-committed write.  Caps mirror ``cross_dup_pairs``: each side
    of a touched bucket is ranked independently, overflow NEW members
    still pair with the bucket's first stored ref member.  The ranking
    windows only run when some touched bucket actually EXCEEDS the cap
    (a one-pass occupancy check decides; below the cap they provably
    cannot change the output); ``bucket_cap=None`` asserts no-cap
    outright and skips the check.

    CACHE LIFETIME: with ``persist_shingles=True`` the batch- and
    candidate-sized frames are pinned for the duration of the plan.  A
    LOOP caller (the per-epoch ingest) should pass a ``pinned`` list —
    the frames are appended to it and the caller unpersists after the
    epoch's writes materialize; without it they stay cached until
    ContextCleaner GC (fine for one-shot calls)."""
    from pyspark import StorageLevel

    spark = new.sparkSession
    _check_store_meta(spark, store_dir, k, num_perm, bands, create=False)
    id_type = dict(new.dtypes)[id_col]

    def _empty():
        return spark.createDataFrame(
            [], f"id_new {id_type}, id_ref {id_type}, jaccard double")

    nf = new.filter(F.size(words(F.col(text_col))) > 0)
    sh64_new = _sh64_df(nf, id_col, text_col, k)
    bands_new = (_sig_from_sh64(sh64_new, num_perm)
                 .select("_id", F.explode(_band_structs(num_perm, bands))
                         .alias("bb"))
                 .select(F.col("_id").alias("id_new"), "bb.band", "bb.bhash"))
    if persist_shingles:
        # sh64_new feeds the signature agg AND the verify join; bands_new
        # feeds the touched-bucket probe AND the bipartite expansion —
        # both are batch-sized
        sh64_new = sh64_new.persist(StorageLevel.MEMORY_AND_DISK)
        bands_new = bands_new.persist(StorageLevel.MEMORY_AND_DISK)
        if pinned is not None:
            pinned.extend([sh64_new, bands_new])

    ref_bands = _read_epochs(spark, f"{store_dir}/bands", max_epoch,
                             schema=f"_id {id_type}, band int, bhash bigint")
    if ref_bands is None:
        return _empty()

    # the store is scanned (columnar longs — no text, no UDF, no
    # signature agg) and filtered by the batch's bucket keys; the small
    # probe side broadcasts, so the store is NEVER shuffled
    touched = bands_new.select("band", "bhash").distinct()
    ref_touched = ref_bands.join(F.broadcast(touched), ["band", "bhash"],
                                 "left_semi") \
        .select("band", "bhash", F.col("_id").alias("id_ref"))
    if persist_shingles:
        # feeds the occupancy guard below AND the candidate join — and
        # when the guard falls back to the windowed plan, that plan
        # reads the cache instead of re-scanning the store.  Rows ∝
        # store members in touched buckets (the same rows the window
        # exchange would spool); MEMORY_AND_DISK keeps it spillable.
        ref_touched = ref_touched.persist(StorageLevel.MEMORY_AND_DISK)
        if pinned is not None:
            pinned.append(ref_touched)

    # bucket_cap guard: the windowed cap machinery (two rank windows,
    # overflow join, union — 4 extra exchanges) exists to bound hot
    # buckets, but when NO touched bucket on either side exceeds the
    # cap it provably cannot change the output (every rank ≤ occupancy
    # ≤ cap ⟹ nothing is filtered and overflow is empty), so the
    # candidates reduce to the plain per-bucket bipartite join.  ONE
    # map-side-aggregated pass over the two (already persisted)
    # bucket-key relations decides which plan runs; a caller passing
    # bucket_cap=None asserts no-cap outright (the minhash-family
    # contract) and skips the guard too.  Measured 1.23 s → 0.29 s for
    # candidate generation at bench scale; at 100 TB the guard trips
    # exactly when the skew it protects against is present.
    use_windows = False
    if bucket_cap is not None:
        occ = (bands_new.select("band", "bhash", F.lit(0).alias("_s"))
               .unionByName(ref_touched.select("band", "bhash",
                                               F.lit(1).alias("_s")))
               .groupBy("_s", "band", "bhash")
               .agg(F.count(F.lit(1)).alias("_c"))
               .agg(F.max("_c")).first()[0])
        use_windows = occ is not None and occ > bucket_cap
    if use_windows:
        rn_new = bands_new.withColumn(
            "_rn", F.row_number().over(
                W.partitionBy("band", "bhash").orderBy("id_new")))
        rn_ref = ref_touched.withColumn(
            "_rn", F.row_number().over(
                W.partitionBy("band", "bhash").orderBy("id_ref")))
        newb = rn_new.filter(F.col("_rn") <= bucket_cap) \
            .select("band", "bhash", "id_new")
        refb = rn_ref.filter(F.col("_rn") <= bucket_cap) \
            .select("band", "bhash", "id_ref")
        pairs = newb.join(refb, ["band", "bhash"]) \
            .select("id_new", "id_ref")
        ref_heads = rn_ref.filter(F.col("_rn") == 1) \
            .select("band", "bhash", "id_ref")
        overflow = (rn_new.filter(F.col("_rn") > bucket_cap)
                    .select("band", "bhash", "id_new")
                    .join(ref_heads, ["band", "bhash"])
                    .select("id_new", "id_ref"))
        cands = pairs.unionByName(overflow).distinct()
    else:
        cands = (bands_new.join(ref_touched, ["band", "bhash"])
                 .select("id_new", "id_ref").distinct())
    if persist_shingles:
        # three consumers below (ref/new id restrictions + the
        # intersection join); the pair list is candidate-sized, so pin
        # it rather than re-running the banding/window pipeline per
        # consumer.  Gated with the other caches: persist_shingles=False
        # keeps the whole probe plan cache-free (and introspectable —
        # inputFiles() sees through to the store scan).
        cands = cands.persist(StorageLevel.MEMORY_AND_DISK)
        if pinned is not None:
            pinned.append(cands)

    # exact-Jaccard verify against the hash store restricted to the
    # candidate ref ids (left-semi: candidate-proportional agg)
    cand_ids = cands.select("id_ref").distinct()
    ref_hashes = _read_epochs(spark, f"{store_dir}/hashes", max_epoch,
                              schema=f"_id {id_type}, _sh64 bigint")
    if ref_hashes is None:
        return _empty()
    ref_cand = (ref_hashes
                .join(F.broadcast(cand_ids),
                      ref_hashes["_id"] == cand_ids["id_ref"], "left_semi")
                .select(F.col("_id").alias("id_ref"), "_sh64"))
    if persist_shingles:
        # two consumers (the intersection join and the set-size agg);
        # gated with the other caches so persist_shingles=False keeps
        # the whole probe plan cache-free and introspectable
        ref_cand = ref_cand.persist(StorageLevel.MEMORY_AND_DISK)
        if pinned is not None:
            pinned.append(ref_cand)
    # the NEW side is candidate-restricted too: na/inter only ever read
    # candidate ids, so the semi-join keeps the set-size agg and both
    # verify joins ∝ candidates instead of ∝ the whole batch's shingle
    # relation (same values for every surviving id)
    cand_new_ids = cands.select("id_new").distinct()
    a = (sh64_new
         .join(F.broadcast(cand_new_ids),
               sh64_new["_id"] == cand_new_ids["id_new"], "left_semi")
         .select(F.col("_id").alias("id_new"), "_sh64"))
    inter = (cands.join(a, "id_new").join(ref_cand, ["id_ref", "_sh64"])
             .groupBy("id_new", "id_ref")
             .agg(F.count(F.lit(1)).alias("_inter")))
    na = a.groupBy("id_new").agg(F.count(F.lit(1)).alias("_na"))
    nb = ref_cand.groupBy("id_ref").agg(F.count(F.lit(1)).alias("_nb"))
    return (inter.join(na, "id_new").join(nb, "id_ref")
            .select("id_new", "id_ref",
                    (F.col("_inter")
                     / (F.col("_na") + F.col("_nb") - F.col("_inter")))
                    .alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def dedup_against_store(new: DataFrame, store_dir: str, id_col: str,
                        text_col: str, threshold: float = 0.8,
                        **kw) -> DataFrame:
    """The NEW rows near-duplicating nothing in the band store — the
    loop-safe form of :func:`dedup_against`: per-epoch cost ∝ batch +
    candidates instead of ∝ corpus."""
    matched = (cross_dup_pairs_stored(new, store_dir, id_col, text_col,
                                      threshold=threshold, **kw)
               .select(F.col("id_new").alias(id_col)).distinct())
    return new.join(matched, id_col, "left_anti")


# ---------------------------------------------------------------------------
# epoch-store compaction — lifecycle for the band/bucket stores
# ---------------------------------------------------------------------------
#
# A long-running ingest appends one ``epoch=N`` partition per
# micro-batch; after 10^5 epochs the store is 10^5 small parquet
# directories and every probe's scan is file-listing-bound.  Compaction
# rewrites all partitions below a watermark into ONE right-sized
# partition labeled ``epoch = upto - 1``: any probe with
# ``max_epoch >= upto`` (the ingest always probes with max_epoch = the
# CURRENT epoch, which is > every compacted one) reads exactly the same
# rows before and after.  Contract: never compact an epoch that may
# still retry (pass ``upto <= `` the lowest epoch still in flight).
#
# Crash safety on a plain filesystem (no transactional catalog): the
# compacted data is fully written under ``_compact_tmp`` first, then a
# commit MARKER (a one-row parquet whose ``_SUCCESS`` is the commit
# point) is written, and only then are the old partitions deleted and
# the tmp renamed in.  Every phase is idempotently re-runnable:
# ``recover_epoch_store`` (called automatically at the start of every
# compaction) rolls an un-committed crash back and rolls a committed
# one forward.  Single-writer: run compaction from the same maintenance
# loop that owns epoch commits, never concurrently with a probe — on a
# real deployment this whole protocol is one Iceberg REPLACE commit.


def recover_epoch_store(spark, store_dir: str,
                        tables: tuple[str, ...]) -> None:
    """Finish or roll back a crashed :func:`compact_epoch_store` run.
    Safe to call when nothing is in flight (no-op)."""
    from ..plans.checkpoint import fs_delete, fs_exists

    marker = f"{store_dir}/_compact"
    tmp = f"{store_dir}/_compact_tmp"
    if not fs_exists(spark, f"{marker}/_SUCCESS"):
        # crash BEFORE the commit point: the store proper was never
        # touched — scrap the half-written tmp
        fs_delete(spark, tmp)
        fs_delete(spark, marker)
        return
    from ..plans.checkpoint import read_one_row
    upto = read_one_row(spark, marker)["upto"]
    _compact_finalize(spark, store_dir, tables, int(upto))


def _compact_finalize(spark, store_dir: str, tables: tuple[str, ...],
                      upto: int) -> None:
    """Post-commit phase, idempotent per table: a table whose tmp dir
    is gone was already swapped by a previous (possibly crashed) run."""
    from ..plans.checkpoint import fs_delete, fs_exists, fs_list, fs_rename

    tmp = f"{store_dir}/_compact_tmp"
    for table in tables:
        tsrc = f"{tmp}/{table}"
        if not fs_exists(spark, tsrc):
            continue
        for name in fs_list(spark, f"{store_dir}/{table}"):
            if name.startswith("epoch=") and int(name.split("=", 1)[1]) < upto:
                fs_delete(spark, f"{store_dir}/{table}/{name}")
        fs_rename(spark, tsrc, f"{store_dir}/{table}/epoch={upto - 1}")
    fs_delete(spark, f"{store_dir}/_compact")
    fs_delete(spark, tmp)
    # the swap happened behind Spark's back (raw FS rename): drop any
    # cached plan that scanned the old partition files
    spark.catalog.refreshByPath(store_dir)


def compact_epoch_store(spark, store_dir: str, tables: tuple[str, ...],
                        upto: int) -> bool:
    """Compact every ``epoch < upto`` partition of each table into one
    flat partition of ``defaultParallelism`` files labeled
    ``epoch = upto - 1``.  Returns False when there is nothing to do
    (≤1 live partition below the watermark)."""
    from ..plans.checkpoint import fs_exists, fs_list

    if not fs_exists(spark, f"{store_dir}/meta"):
        raise ValueError(f"no epoch store at {store_dir} (missing meta)")
    recover_epoch_store(spark, store_dir, tables)
    live = [n for n in fs_list(spark, f"{store_dir}/{tables[0]}")
            if n.startswith("epoch=") and int(n.split("=", 1)[1]) < upto]
    if len(live) <= 1:
        return False
    n_files = spark.sparkContext.defaultParallelism
    tmp = f"{store_dir}/_compact_tmp"
    for table in tables:
        src = _read_epochs(spark, f"{store_dir}/{table}", upto)
        if src is not None:
            src.repartition(n_files).write.mode("overwrite") \
                .parquet(f"{tmp}/{table}")
    # the _SUCCESS of this one-row write IS the commit point: before
    # it, recovery rolls back; after it, recovery rolls forward
    from ..plans.checkpoint import rows_df
    rows_df(spark, "upto int", [(int(upto),)]) \
        .coalesce(1).write.mode("overwrite") \
        .parquet(f"{store_dir}/_compact")
    _compact_finalize(spark, store_dir, tables, upto)
    return True


def compact_band_store(spark, store_dir: str, upto: int) -> bool:
    """:func:`compact_epoch_store` over the MinHash band store's two
    tables (bands, hashes)."""
    return compact_epoch_store(spark, store_dir, ("bands", "hashes"), upto)


def compact_embedding_store(spark, store_dir: str, upto: int) -> bool:
    """:func:`compact_epoch_store` over the embedding bucket store."""
    return compact_epoch_store(spark, store_dir, ("buckets",), upto)


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------


def embedding_near_dups(df: DataFrame, id_col: str, emb_col: str,
                        threshold: float = 0.95, n_bits: int = 12,
                        n_tables: int = 4, seed: int = 42,
                        bucket_cap: int = 200,
                        dim: int | None = None) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ ``threshold``.

    Random-hyperplane LSH (P[same bit] = 1 - θ/π): ``n_tables``
    independent sign-signatures bucket the corpus; two embeddings with
    cosine ≥ 0.95 (θ ≤ 18°) collide in at least one of 4 12-bit tables
    with probability ≈ 1-(1-0.88^12)^4 ≈ 0.93.  Only in-bucket pairs
    are exactly verified — never a cross join.  Hot buckets are capped
    with head-pairing (same bounded shape as the MinHash/SimHash
    paths).

    SIZE n_bits TO THE CORPUS: the 12-bit default is fixture-scale.
    2^n_bits must far exceed the row count or random NON-duplicates
    fill every bucket to the cap and the exact verify dominates
    (similarity.auto_bits has the measured sizing rule: ceil(log2(n))
    + 4, compensating recall with n_tables when needed)."""
    from .similarity import (
        LSH_PLAN_LITERAL_BUDGET, cosine, hyperplanes, lsh_bucket,
        lsh_buckets_udf,
    )

    # NULL embeddings carry no similarity evidence — exclude them (and
    # make the dim probe read the first NON-NULL row: a leading null
    # must not disable the whole pass)
    df = df.filter(F.col(emb_col).isNotNull())
    if dim is None:
        # lazy fallback only — callers that know the embedding width should
        # pass ``dim`` so no driver action runs in the build path
        probe = df.select(emb_col).first()
        if probe is None:
            # empty input: no pairs (and no dimension to plan hyperplanes for)
            id_type = dict(df.dtypes)[id_col]
            return df.sparkSession.createDataFrame(
                [], f"id_a {id_type}, id_b {id_type}, cosine double")
        dim = len(probe[0])
    planes = [hyperplanes(dim, n_bits, seed + t) for t in range(n_tables)]
    if dim * n_bits * n_tables <= LSH_PLAN_LITERAL_BUDGET:
        tables = F.array(*[
            F.struct(
                F.lit(t).alias("tbl"),
                lsh_bucket(F.col(emb_col), planes[t]).alias("bkt"),
            )
            for t in range(n_tables)
        ])
        banded = df.select(F.col(id_col).alias("_id"), tables.alias("_ts"))
    else:
        # high-dim path: ONE Arrow matmul yields every table's bucket id
        # (the Column form would plant dim × n_bits × n_tables literal
        # multiply-adds in a single projection — Catalyst analysis and
        # codegen blow up at production embedding widths)
        bkts = lsh_buckets_udf(planes)(F.col(emb_col))
        tables = F.transform(
            bkts, lambda b, i: F.struct(i.alias("tbl"), b.alias("bkt")))
        banded = df.select(F.col(id_col).alias("_id"), tables.alias("_ts"))
    banded = banded.select(
        "_id", F.explode("_ts").alias("tb")
    ).select("_id", "tb.tbl", "tb.bkt")
    ranked = banded.withColumn(
        "_rn", F.row_number().over(W.partitionBy("tbl", "bkt").orderBy("_id"))
    )
    buckets = ranked.filter(F.col("_rn") <= bucket_cap).groupBy("tbl", "bkt").agg(
        F.sort_array(F.collect_list("_id")).alias("ids")
    ).filter(F.size("ids") > 1)
    pairs = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (x, i) -> "
                "transform(slice(ids, i + 2, size(ids) - i - 1), y -> struct(x as id_a, y as id_b))))"
            )
        ).alias("p")
    ).select("p.id_a", "p.id_b")
    heads = ranked.filter(F.col("_rn") == 1).select(
        "tbl", "bkt", F.col("_id").alias("id_a"))
    overflow = ranked.filter(F.col("_rn") > bucket_cap).select(
        "tbl", "bkt", F.col("_id").alias("id_b")
    ).join(heads, ["tbl", "bkt"]).select("id_a", "id_b")
    cand = pairs.unionByName(overflow).distinct()
    ea = df.select(F.col(id_col).alias("id_a"), F.col(emb_col).alias("emb_a"))
    eb = df.select(F.col(id_col).alias("id_b"), F.col(emb_col).alias("emb_b"))
    return (
        cand.join(ea, "id_a").join(eb, "id_b")
        .withColumn("cos", cosine(F.col("emb_a"), F.col("emb_b")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.col("cos").alias("cosine"))
    )


def embedding_dups_against(new: DataFrame, ref: DataFrame, id_col: str,
                           emb_col: str, threshold: float = 0.95,
                           n_bits: int = 12, n_tables: int = 4,
                           seed: int = 42, bucket_cap: int = 200,
                           dim: int | None = None) -> DataFrame:
    """Cross-corpus embedding near-dups — (id_new, id_ref, cosine ≥
    threshold): the semantic-similarity twin of :func:`cross_dup_pairs`
    for incremental ingest.  Same hyperplane-LSH tables as
    :func:`embedding_near_dups` (identical seed ⇒ both corpora hash
    into the SAME buckets), but the in-bucket expansion is the new×ref
    bipartite product only; ``bucket_cap`` ranks each side separately
    and overflow NEW members still pair with the bucket's ref head.
    Id spaces are independent across corpora."""
    from .similarity import (
        LSH_PLAN_LITERAL_BUDGET, cosine, hyperplanes, lsh_bucket,
        lsh_buckets_udf,
    )

    # NULL embeddings carry no similarity evidence: exclude them from
    # BOTH sides (they would otherwise bucket together on NULL hashes),
    # and probe the first NON-NULL row for the dimension — a leading
    # null row must not silently disable the whole check
    new = new.filter(F.col(emb_col).isNotNull())
    ref = ref.filter(F.col(emb_col).isNotNull())
    if dim is None:
        probe = new.select(emb_col).first()
        if probe is None:
            id_type = dict(new.dtypes)[id_col]
            return new.sparkSession.createDataFrame(
                [], f"id_new {id_type}, id_ref {id_type}, cosine double")
        dim = len(probe[0])
    planes = [hyperplanes(dim, n_bits, seed + t) for t in range(n_tables)]

    def banded(df, side):
        if dim * n_bits * n_tables <= LSH_PLAN_LITERAL_BUDGET:
            tables = F.array(*[
                F.struct(F.lit(t).alias("tbl"),
                         lsh_bucket(F.col(emb_col), planes[t]).alias("bkt"))
                for t in range(n_tables)])
        else:
            bkts = lsh_buckets_udf(planes)(F.col(emb_col))
            tables = F.transform(
                bkts, lambda b, i: F.struct(i.alias("tbl"), b.alias("bkt")))
        return (df.select(F.lit(side).alias("_side"),
                          F.col(id_col).alias("_oid"), tables.alias("_ts"))
                .select("_side", "_oid", F.explode("_ts").alias("tb"))
                .select("_side", "_oid", "tb.tbl", "tb.bkt"))

    both = banded(new, 0).unionByName(banded(ref, 1))
    ranked = both.withColumn(
        "_rn", F.row_number().over(
            W.partitionBy("tbl", "bkt", "_side").orderBy("_oid")))
    kept = ranked.filter(F.col("_rn") <= bucket_cap)
    newb = kept.filter(F.col("_side") == 0).select(
        "tbl", "bkt", F.col("_oid").alias("id_new"))
    refb = kept.filter(F.col("_side") == 1).select(
        "tbl", "bkt", F.col("_oid").alias("id_ref"))
    pairs = newb.join(refb, ["tbl", "bkt"]).select("id_new", "id_ref")
    ref_heads = ranked.filter(
        (F.col("_side") == 1) & (F.col("_rn") == 1)).select(
        "tbl", "bkt", F.col("_oid").alias("id_ref"))
    overflow = (ranked.filter((F.col("_side") == 0)
                              & (F.col("_rn") > bucket_cap))
                .select("tbl", "bkt", F.col("_oid").alias("id_new"))
                .join(ref_heads, ["tbl", "bkt"])
                .select("id_new", "id_ref"))
    cand = pairs.unionByName(overflow).distinct()

    ea = new.select(F.col(id_col).alias("id_new"),
                    F.col(emb_col).alias("_emb_n"))
    eb = ref.select(F.col(id_col).alias("id_ref"),
                    F.col(emb_col).alias("_emb_r"))
    return (cand.join(ea, "id_new").join(eb, "id_ref")
            .withColumn("cos", cosine(F.col("_emb_n"), F.col("_emb_r")))
            .filter(F.col("cos") >= threshold)
            .select("id_new", "id_ref", F.col("cos").alias("cosine")))


# ---------------------------------------------------------------------------
# persisted embedding-bucket store — the semantic mirror of the band store
# ---------------------------------------------------------------------------
#
# Hyperplane LSH signatures are a pure function of (embedding, dim,
# n_bits, n_tables, seed) — seed-stable by construction (the same
# guarantee embedding_dups_against relies on to share bucket space), so
# a loop caller can persist each epoch's (tbl, bkt, _id) rows once and
# probe them forever instead of re-hashing the kept corpus per epoch.
# Embeddings themselves are NOT duplicated into the store: the exact
# cosine verify reads them from the caller's reference frame (the kept
# corpus), restricted to candidate ids by a broadcast semi-join.


def _emb_bucket_rows(df: DataFrame, id_col: str, emb_col: str,
                     planes: list, dim: int, n_bits: int,
                     n_tables: int) -> DataFrame:
    """(_id, tbl, bkt) bucket rows — the shared banding of
    embedding_near_dups / embedding_dups_against, factored so the store
    writer and prober hash identically."""
    from .similarity import (LSH_PLAN_LITERAL_BUDGET, lsh_bucket,
                             lsh_buckets_udf)

    if dim * n_bits * n_tables <= LSH_PLAN_LITERAL_BUDGET:
        tables = F.array(*[
            F.struct(F.lit(t).alias("tbl"),
                     lsh_bucket(F.col(emb_col), planes[t]).alias("bkt"))
            for t in range(n_tables)])
    else:
        bkts = lsh_buckets_udf(planes)(F.col(emb_col))
        tables = F.transform(
            bkts, lambda b, i: F.struct(i.alias("tbl"), b.alias("bkt")))
    return (df.select(F.col(id_col).alias("_id"), tables.alias("_ts"))
            .select("_id", F.explode("_ts").alias("tb"))
            .select("_id", "tb.tbl", "tb.bkt"))


def write_embedding_store(df: DataFrame, store_dir: str, epoch: int,
                          id_col: str, emb_col: str, n_bits: int = 12,
                          n_tables: int = 4, seed: int = 42,
                          dim: int | None = None) -> None:
    """Append one epoch's survivors' LSH bucket ids to the embedding
    store ({store_dir}/buckets/epoch=N, one plain parquet dir, + a
    one-row meta pinning (n_bits, n_tables, seed, dim) so every later
    write/probe hashes into the identical bucket space).  NULL
    embeddings carry no similarity evidence and are not stored."""
    from ..plans.checkpoint import fs_exists
    from .similarity import hyperplanes

    spark = df.sparkSession
    df = df.filter(F.col(emb_col).isNotNull())
    meta_path = f"{store_dir}/meta"
    if fs_exists(spark, meta_path):
        from ..plans.checkpoint import read_one_row
        m = read_one_row(spark, meta_path)
        if (m["n_bits"], m["n_tables"], m["seed"]) != (n_bits, n_tables, seed):
            raise ValueError(
                f"embedding store at {store_dir} pinned "
                f"(n_bits, n_tables, seed)="
                f"{(m['n_bits'], m['n_tables'], m['seed'])}, write "
                f"requested {(n_bits, n_tables, seed)}")
        if dim is not None and dim != m["dim"]:
            # a batch with genuinely different-width embeddings must
            # fail HERE with the store's clear parameter error, not
            # later inside the Arrow LSH UDF as an opaque numpy shape
            # mismatch
            raise ValueError(
                f"embedding store at {store_dir} pinned dim={m['dim']}, "
                f"write requested dim={dim}")
        dim = m["dim"]
    else:
        if dim is None:
            probe = df.select(emb_col).first()
            if probe is None:
                return  # nothing to store; meta pins on first real write
            dim = len(probe[0])
        from ..plans.checkpoint import write_rows
        write_rows(
            spark, meta_path,
            "n_bits int, n_tables int, seed int, dim int",
            [(n_bits, n_tables, seed, dim)])
    planes = [hyperplanes(dim, n_bits, seed + t) for t in range(n_tables)]
    rows = _emb_bucket_rows(df, id_col, emb_col, planes, dim, n_bits,
                            n_tables)
    rows.write.mode("overwrite").parquet(f"{store_dir}/buckets/epoch={epoch}")
    # see write_band_store: invalidate cached parent-path scans
    spark.catalog.refreshByPath(store_dir)


def embedding_dups_against_store(new: DataFrame, ref: DataFrame,
                                 store_dir: str, id_col: str, emb_col: str,
                                 threshold: float = 0.95, *,
                                 max_epoch: int | None = None,
                                 bucket_cap: int = 200) -> DataFrame:
    """(id_new, id_ref, cosine ≥ threshold) of the NEW batch against the
    persisted bucket store — pair-identical to
    ``embedding_dups_against(new, ref, ...)`` over the same reference
    rows, but the ref side is never re-hashed: buckets come from the
    store, and ``ref`` (the kept corpus) is only read for the CANDIDATE
    ids' embeddings (broadcast semi-join).  All LSH parameters come
    from the store's meta — no drift possible."""
    from pyspark import StorageLevel

    from ..plans.checkpoint import fs_exists
    from .similarity import cosine_pair_auto, hyperplanes

    spark = new.sparkSession
    meta_path = f"{store_dir}/meta"
    if not fs_exists(spark, meta_path):
        raise ValueError(f"no embedding store at {store_dir} (missing meta)")
    from ..plans.checkpoint import read_one_row
    m = read_one_row(spark, meta_path)
    n_bits, n_tables, seed, dim = (m["n_bits"], m["n_tables"],
                                   m["seed"], m["dim"])
    planes = [hyperplanes(dim, n_bits, seed + t) for t in range(n_tables)]

    new = new.filter(F.col(emb_col).isNotNull())
    newb = (_emb_bucket_rows(new, id_col, emb_col, planes, dim, n_bits,
                             n_tables)
            .select(F.col("_id").alias("id_new"), "tbl", "bkt")
            .persist(StorageLevel.MEMORY_AND_DISK))
    store = _read_epochs(spark, f"{store_dir}/buckets", max_epoch)
    if store is None:
        id_type = dict(new.dtypes)[id_col]
        return spark.createDataFrame(
            [], f"id_new {id_type}, id_ref {id_type}, cosine double")
    touched = newb.select("tbl", "bkt").distinct()
    refb_all = (store.join(F.broadcast(touched), ["tbl", "bkt"], "left_semi")
                .select("tbl", "bkt", F.col("_id").alias("id_ref")))

    rn_new = newb.withColumn(
        "_rn", F.row_number().over(
            W.partitionBy("tbl", "bkt").orderBy("id_new")))
    rn_ref = refb_all.withColumn(
        "_rn", F.row_number().over(
            W.partitionBy("tbl", "bkt").orderBy("id_ref")))
    pairs = (rn_new.filter(F.col("_rn") <= bucket_cap)
             .select("tbl", "bkt", "id_new")
             .join(rn_ref.filter(F.col("_rn") <= bucket_cap)
                   .select("tbl", "bkt", "id_ref"), ["tbl", "bkt"])
             .select("id_new", "id_ref"))
    ref_heads = rn_ref.filter(F.col("_rn") == 1) \
        .select("tbl", "bkt", "id_ref")
    overflow = (rn_new.filter(F.col("_rn") > bucket_cap)
                .select("tbl", "bkt", "id_new")
                .join(ref_heads, ["tbl", "bkt"])
                .select("id_new", "id_ref"))
    cands = pairs.unionByName(overflow).distinct()

    cand_ids = cands.select("id_ref").distinct()
    er = (ref.select(F.col(id_col).alias("id_ref"),
                     F.col(emb_col).alias("_emb_r"))
          .join(F.broadcast(cand_ids), "id_ref", "left_semi"))
    ea = new.select(F.col(id_col).alias("id_new"),
                    F.col(emb_col).alias("_emb_n"))
    return (cands.join(ea, "id_new").join(er, "id_ref")
            .withColumn("cos", cosine_pair_auto(
                F.col("_emb_n"), F.col("_emb_r"), dim))
            .filter(F.col("cos") >= threshold)
            .select("id_new", "id_ref", F.col("cos").alias("cosine")))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
#
# Word hash convention (shared by the Column path, the pandas UDF and the
# DuckDB oracle in __spark_entry__.py): h = md5(word) hex; signature bit
# b < 32 tallies bit b of int(h[0:8], 16), bit b >= 32 tallies bit b-32
# of int(h[8:16], 16).  md5 is computable identically in Spark
# (md5 + conv(·,16,10)) and DuckDB (md5 + '0x'-prefixed BIGINT cast), so
# signatures — and therefore near-dup pairs — are independently
# verifiable by an exact all-pairs SQL oracle.


def _simhash_tally_aggs():
    """The 64 per-bit tally aggregates over exploded (hi, lo) word-hash
    chunks: sum over words of (2·bit − 1)."""
    aggs = []
    for b in range(64):
        src, j = ("_hi", b) if b < 32 else ("_lo", b - 32)
        bit = F.shiftright(F.col(src), j).bitwiseAND(F.lit(1))
        aggs.append(F.sum(bit * 2 - 1).alias(f"_t{b}"))
    return aggs


def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(_id, _sig) 64-bit SimHash signatures — pure Column algebra.

    Shape mirrors ``_sig_from_sh64``: tokens explode exactly once, each
    token is md5-hashed ONCE into two 32-bit chunks (JVM codegen — no
    Python anywhere), and the groupBy computes 64 bit-tally sums with
    map-side partial aggregation, so the single shuffle carries 64 longs
    per doc per map partition instead of the text.  Docs with no tokens
    (null/empty text) get signature 0 via ``explode_outer``."""
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.explode_outer(words(F.col(text_col))).alias("_w"),
    ).select(
        # materialize the digest once per token; the two chunk extractions
        # read the same string (projection collapse must not duplicate the
        # md5 computation — measured ~20% of the job)
        "_id", F.md5("_w").alias("_d"),
    ).select(
        "_id",
        F.conv(F.substring("_d", 1, 8), 16, 10).cast("long").alias("_hi"),
        F.conv(F.substring("_d", 9, 8), 16, 10).cast("long").alias("_lo"),
    )
    tallies = toks.groupBy("_id").agg(*_simhash_tally_aggs())
    sig = None
    for b in range(64):
        term = F.shiftleft(
            (F.coalesce(F.col(f"_t{b}"), F.lit(0)) > 0).cast("long"), b
        )
        sig = term if sig is None else sig.bitwiseOR(term)
    return tallies.select("_id", sig.alias("_sig"))


@F.pandas_udf(T.LongType())
def simhash64(text: pd.Series) -> pd.Series:
    """Per-row Column variant of ``simhash_signatures`` (identical
    signatures — pinned by test_simhash_column_equals_udf).

    Batch-vectorized: the Arrow batch's words are flattened once, md5 is
    computed once per UNIQUE word (Zipf makes the unique set far smaller
    than the token stream), and bit tallies are segment-summed with
    numpy — no per-row Python loop over words."""
    import hashlib

    n = len(text)
    out = np.zeros(n, dtype=np.int64)
    toks = text.fillna("").astype(str).str.lower().str.strip().str.split()
    lengths = toks.map(len).to_numpy(dtype=np.int64)
    flat = [w for ws in toks for w in ws]
    if not flat:
        return pd.Series(out)
    uniq, inv = np.unique(np.asarray(flat, dtype=object), return_inverse=True)
    uh = np.empty(len(uniq), dtype=np.uint64)
    for i, w in enumerate(uniq):
        h = hashlib.md5(w.encode()).hexdigest()
        uh[i] = np.uint64(int(h[8:16], 16)) << np.uint64(32) | np.uint64(int(h[:8], 16))
    shifts = np.arange(64, dtype=np.uint64)
    # bit matrix per UNIQUE word only (Zipf keeps it small); each doc
    # tallies by slicing its word-index range — no batch-wide
    # (n_words, 64) materialization
    bits_u = ((uh[:, None] >> shifts) & np.uint64(1)).astype(np.int32)
    offs = np.concatenate(([0], np.cumsum(lengths)))
    shifts_u = shifts  # uint64 shift vector for the final pack
    for i in range(n):
        s, e = offs[i], offs[i + 1]
        if s == e:
            continue
        ones = bits_u[inv[s:e]].sum(axis=0)
        tally = 2 * ones - (e - s)
        out[i] = np.int64(
            (((tally > 0).astype(np.uint64) << shifts_u).sum()).astype(np.int64)
        )
    return pd.Series(out)


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures (bit_count of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_dups(df: DataFrame, id_col: str, text_col: str,
                      max_hamming: int = 3, bucket_cap: int = 200) -> DataFrame:
    """Near-dup pairs by SimHash with GUARANTEED recall: split the
    64-bit signature into ``max_hamming + 1`` disjoint blocks — by
    pigeonhole, two signatures within ``max_hamming`` flipped bits must
    agree EXACTLY on at least one block, so blocking on every block
    (explode ×(h+1)) misses no qualifying pair (the round-1 single-
    prefix blocking dropped any near-dup whose flips hit the prefix).
    Candidates are verified by exact Hamming distance.

    SCALE LIMIT (inherent to pigeonhole banding, not this
    implementation): block width is 64/(h+1) bits, so the block keyspace
    is 2^(64/(h+1)) — at ``max_hamming=3`` that's 65k distinct 16-bit
    buckets (fine to ~billions of docs with caps), but ``max_hamming=8``
    leaves 7-bit blocks (128 buckets): beyond ~10^5 docs every bucket
    saturates its cap and the guarantee degrades to head-connectivity.
    At 100 TB keep h ≤ 3 (the conventional SimHash operating point) or
    verify with exact Jaccard via the MinHash path instead.

    Hot blocks (identical signatures en masse) are capped like the LSH
    buckets: members ranked by a spillable window, only the first
    ``bucket_cap`` expand quadratically, overflow pairs with the bucket
    head so groups stay connected.  The recall guarantee therefore holds
    exactly for blocks with ≤ ``bucket_cap`` members; in an overflowing
    block, members beyond the cap are only guaranteed a pair with the
    block head — consumers needing full groups should run union-find
    over the verified pairs (or raise ``bucket_cap``; the oracle query
    passes one larger than the corpus, making output ≡ the exact
    all-pairs result).

    Same empty-text policy as the Jaccard path: rows whose text
    tokenizes to nothing carry no signal (signature 0), so they are
    excluded from the pair graph rather than reported as mutual
    hamming-0 near-dups of every other empty row.  The DuckDB oracle
    applies the identical predicate."""
    df = df.filter(F.size(words(F.col(text_col))) > 0)
    n_blocks = max_hamming + 1
    width = 64 // n_blocks
    # the signature table feeds the banding AND both exact-Hamming
    # verify join sides — persist it (5000 rows/corpus-scan-sized at
    # most one long per doc; MEMORY_AND_DISK spills) so the md5
    # bit-tally aggregation and the corpus scan run once, not three
    # times (sf0.1: 12s → ~5s)
    from pyspark import StorageLevel
    sig = simhash_signatures(df, id_col, text_col).persist(
        StorageLevel.MEMORY_AND_DISK)
    blocks = []
    for i in range(n_blocks):
        lo = i * width
        w = width if i < n_blocks - 1 else 64 - lo  # last block takes the tail
        shifted = F.shiftrightunsigned("_sig", lo)
        # w == 64 (max_hamming=0, single block): (1<<64)-1 overflows a
        # signed-long literal and the shift-by-0 needs no mask anyway
        bval = shifted if w == 64 else shifted.bitwiseAND(F.lit((1 << w) - 1))
        blocks.append(F.struct(
            F.lit(i).alias("blk"),
            bval.alias("bval"),
        ))
    banded = sig.select("_id", "_sig", F.explode(F.array(*blocks)).alias("bb")).select(
        "_id", "_sig", "bb.blk", "bb.bval"
    )
    ranked = banded.withColumn(
        "_rn", F.row_number().over(W.partitionBy("blk", "bval").orderBy("_id"))
    )
    buckets = ranked.filter(F.col("_rn") <= bucket_cap).groupBy("blk", "bval").agg(
        F.sort_array(F.collect_list("_id")).alias("ids")
    ).filter(F.size("ids") > 1)
    pairs = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (x, i) -> "
                "transform(slice(ids, i + 2, size(ids) - i - 1), y -> struct(x as id_a, y as id_b))))"
            )
        ).alias("p")
    ).select("p.id_a", "p.id_b")
    heads = ranked.filter(F.col("_rn") == 1).select(
        "blk", "bval", F.col("_id").alias("id_a")
    )
    overflow = ranked.filter(F.col("_rn") > bucket_cap).select(
        "blk", "bval", F.col("_id").alias("id_b")
    ).join(heads, ["blk", "bval"]).select("id_a", "id_b")
    cand = pairs.unionByName(overflow).distinct()
    sa = sig.select(F.col("_id").alias("id_a"), F.col("_sig").alias("sig_a"))
    sb = sig.select(F.col("_id").alias("id_b"), F.col("_sig").alias("sig_b"))
    return (
        cand.join(sa, "id_a").join(sb, "id_b")
        .withColumn("hamming", hamming64(F.col("sig_a"), F.col("sig_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup-style: cluster, then in-cell cosine prune)
# ---------------------------------------------------------------------------


def semantic_pairs(df: DataFrame, id_col: str, emb_col: str,
                   centroids, threshold: float = 0.95,
                   cell_cap: int = 5000,
                   pinned: list | None = None) -> DataFrame:
    """Within-cell near-duplicate pairs ``(id_a, id_b, cell, cosine)``
    with ``id_a < id_b`` and exact cosine ≥ ``threshold``.

    The SemDeDup recipe (Abbas et al. 2023, "SemDeDup: Data-efficient
    learning at web-scale through semantic deduplication"): assign
    every embedding to its nearest centroid (coarse k-means cell), and
    compare pairs ONLY within a cell — semantically-duplicate pairs
    co-locate by construction, so the quadratic step is confined to
    cells exactly as LSH confines it to buckets.  Against the
    reference's single-node dedup (SURVEY §2: validation-time
    uniqueness is its only dedup affordance) this is the scale path:
    one Arrow projection for assignment, one exchange on cell id.

    * Assignment is the Arrow argmin matmul (``ivf_cell_udf``); NULL
      embeddings carry no similarity evidence — no cell, no pairs.
    * ``cell_cap`` is the same head-pairing skew guard as the LSH
      paths: beyond the cap, members pair with the cell head only.
      Size cells (``n_cells`` when training centroids) so the cap
      never binds at the expected ~n/n_cells occupancy.
    * Centroids are caller-supplied (``similarity.train_centroids`` or
      any fixed anchor set) — passing data-derived anchors makes the
      whole operator deterministic and twin-testable.
    * The slim ``(id, cell)`` assignment table is PERSISTED: it feeds
      four plan consumers (bucket build, cell heads, overflow pairing
      — and the dedup verdict join), and an unpersisted subtree would
      re-run the Arrow assignment UDF over the corpus once per
      consumer (the measured surprisal failure mode, surprisal.py:
      99-106; here it made a 2k-row fixture head cost 9 s in Arrow
      worker spin-ups).  The cache is two ints per row — the
      embeddings themselves are never cached; the verify join reads
      them from the source relation.
    """
    e, assigned = _semantic_assign(df, id_col, emb_col, centroids,
                                   pinned)
    return _semantic_pairs_from(e, assigned, threshold, cell_cap)


def _semantic_assign(df: DataFrame, id_col: str, emb_col: str,
                     centroids,
                     pinned: list | None = None) -> tuple[DataFrame,
                                                          DataFrame]:
    """(embeddings relation, persisted slim (id, cell) assignment).
    Loop callers pass ``pinned`` to own the cached frame's lifecycle
    (the cross_dup_pairs_stored pattern); one-shot callers leave it to
    ContextCleaner GC."""
    from .similarity import ivf_cell_udf

    e = df.filter(F.col(emb_col).isNotNull()).select(
        F.col(id_col).alias("_id"), F.col(emb_col).alias("_emb"))
    assigned = e.select(
        "_id", ivf_cell_udf(centroids)(F.col("_emb")).alias("cell")
    ).persist()
    if pinned is not None:
        pinned.append(assigned)
    return e, assigned


def _semantic_pairs_from(e: DataFrame, assigned: DataFrame,
                         threshold: float, cell_cap: int) -> DataFrame:
    from .similarity import cosine_pair_udf

    # In-cap pairs: each cell's capped members are gathered once (one
    # exchange of the embedding arrays keyed on cell — the same
    # exchange shape the old row_number window already paid) and
    # scored inside a per-cell Arrow pass with a blocked matmul.
    # Candidates that survive the matmul prescreen (threshold − slack,
    # far wider than dgemm-vs-pairwise-sum float drift) are re-scored
    # with the IDENTICAL row-wise multiply-sum the pair UDF uses, so
    # emitted cosines and threshold decisions are bit-for-bit
    # unchanged.  Per-task memory is bounded by cell_cap rows plus a
    # blk×cap score block; overflow members stay on the streaming join
    # path below.
    thr = float(threshold)

    def _cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        # rank order ≡ id order within a cell (the rank window orders
        # by _id); the guard's no-window path ships no _rn column
        pdf = pdf.sort_values("_rn" if "_rn" in pdf.columns else "_id",
                              kind="mergesort")
        ids = pdf["_id"].to_numpy()
        n = len(pdf)

        def _empty() -> pd.DataFrame:
            return pd.DataFrame(
                {"id_a": ids[:0], "id_b": ids[:0],
                 "cell": np.array([], dtype=np.int32),
                 "cosine": np.array([], dtype=np.float64)})

        if n < 2:
            return _empty()
        V = np.vstack(pdf["_emb"].to_numpy())
        norms = np.linalg.norm(V, axis=1)
        cell = int(pdf["cell"].iloc[0])
        slack = 1e-6 if V.dtype == np.float64 else 1e-4
        ia, ib = [], []
        blk = 2048
        with np.errstate(divide="ignore", invalid="ignore"):
            for lo in range(0, n - 1, blk):
                hi = min(lo + blk, n)
                G = V[lo:hi] @ V[lo:].T
                denom = norms[lo:hi, None] * norms[None, lo:]
                S = np.where(denom > 0, G / denom, 0.0)
                r, c = np.nonzero(S >= thr - slack)
                keep = c > r  # strict upper triangle: global j > i
                ia.append(lo + r[keep])
                ib.append(lo + c[keep])
        A = np.concatenate(ia) if ia else np.array([], dtype=np.int64)
        if not len(A):
            return _empty()
        B = np.concatenate(ib)
        # exact rescore — same ops/dtype as cosine_pair_udf
        X, Q = V[A], V[B]
        nx = np.linalg.norm(X, axis=1) * np.linalg.norm(Q, axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            s = np.where(nx > 0, (X * Q).sum(1) / nx, 0.0)
        m = s >= thr
        if not m.any():
            return _empty()
        return pd.DataFrame(
            {"id_a": ids[A[m]], "id_b": ids[B[m]],
             "cell": np.full(int(m.sum()), cell, dtype=np.int32),
             "cosine": s[m].astype(np.float64)})

    id_t = dict(e.dtypes)["_id"]
    out_schema = f"id_a {id_t}, id_b {id_t}, cell int, cosine double"

    # cell_cap guard (the stored-probe pattern, §cross_dup_pairs_stored):
    # when NO cell exceeds the cap, the rank window and the overflow
    # subplan provably cannot change the output (every rank ≤ occupancy
    # ≤ cap ⟹ nothing filtered, overflow empty) — one map-side-
    # aggregated pass over the persisted 2-int assignment decides.
    occ = (assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("_c"))
           .agg(F.max("_c")).first()[0])
    if occ is None or occ <= cell_cap:
        members = assigned.join(e, "_id").select("cell", "_id", "_emb")
        return members.groupBy("cell").applyInPandas(_cell_pairs,
                                                     out_schema)

    ranked = assigned.withColumn(
        "_rn", F.row_number().over(W.partitionBy("cell").orderBy("_id")))
    members = (ranked.filter(F.col("_rn") <= cell_cap)
               .join(e, "_id")
               .select("cell", "_id", "_rn", "_emb"))
    inpairs = members.groupBy("cell").applyInPandas(_cell_pairs,
                                                    out_schema)

    # Overflow members (_rn > cell_cap) pair with the cell head only —
    # kept on the old streaming join + pair-UDF path (usually empty;
    # unbounded cells must not be materialized in one Arrow group).
    heads = ranked.filter(F.col("_rn") == 1).select(
        "cell", F.col("_id").alias("id_a"))
    overflow = (ranked.filter(F.col("_rn") > cell_cap)
                .select("cell", F.col("_id").alias("id_b"))
                .join(heads, "cell").select("cell", "id_a", "id_b"))
    ea = e.select(F.col("_id").alias("id_a"), F.col("_emb").alias("emb_a"))
    eb = e.select(F.col("_id").alias("id_b"), F.col("_emb").alias("emb_b"))
    opairs = (overflow.join(ea, "id_a").join(eb, "id_b")
              .withColumn("cos", cosine_pair_udf()(F.col("emb_a"),
                                                   F.col("emb_b")))
              .filter(F.col("cos") >= threshold)
              .select("id_a", "id_b", "cell", F.col("cos").alias("cosine")))
    return inpairs.unionByName(opairs)


def semantic_dedup(df: DataFrame, id_col: str, emb_col: str,
                   centroids, threshold: float = 0.95,
                   cell_cap: int = 5000,
                   pinned: list | None = None) -> DataFrame:
    """Per-row semantic-dedup verdicts: input plus ``cell`` and
    ``kept``.

    Keep rule (deterministic, one SQL quantifier — NOT transitive
    closure): a row is dropped iff a LOWER-id member of its cell has
    cosine ≥ ``threshold`` with it, i.e. each ε-neighborhood keeps its
    minimum id.  This is the min-id variant of SemDeDup's
    one-representative-per-group rule; unlike the connected-components
    near-dedup (``dedup_near``) it needs no iteration, so the whole
    verdict is a single anti-join over :func:`semantic_pairs` — at
    100 TB that is one bounded exchange instead of O(log d) rounds.
    NULL embeddings carry no evidence and are always kept (cell NULL).

    The ``cell`` column on the output joins the SAME persisted slim
    assignment the pair graph used — the Arrow assignment UDF runs
    over the corpus exactly once for the whole verdict.
    """
    e, assigned = _semantic_assign(df, id_col, emb_col, centroids,
                                   pinned)
    drops = (_semantic_pairs_from(e, assigned, threshold, cell_cap)
             .select(F.col("id_b").alias("_drop_id")).distinct())
    cells = assigned.select(F.col("_id").alias("_cell_id"), "cell")
    out = (df.join(cells, df[id_col] == cells["_cell_id"], "left")
           .drop("_cell_id"))
    return (out.join(drops, out[id_col] == drops["_drop_id"], "left")
            .withColumn("kept", F.col("_drop_id").isNull())
            .drop("_drop_id"))

"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship validation query on sf0.001;
``queries()`` exposes one callable per implemented operator family from
SURVEY.md §2; ``oracle_sql()`` carries the DuckDB-equivalent SQL for the
SQL-expressible ones (identical column names/types both sides).
Cerberus-rule parity itself is additionally proven by the differential
oracle tests (tests/test_differential_oracle.py) against the reference.
"""

from __future__ import annotations

import math
import os
from collections.abc import Callable

import pandas as pd  # noqa: F401 — resolves pandas_udf type hints
from pyspark.sql import DataFrame, SparkSession, functions as F

from cerberus_spark import SparkValidator
from cerberus_spark.functions import dedup, multimodal, similarity, text
from cerberus_spark.operators import dataset as D, temporal

# ---------------------------------------------------------------------------
# rule-set applied to the `events` table (drives the validation queries)
# ---------------------------------------------------------------------------

EVENTS_RULES = {
    "event_id": {"type": "integer", "required": True, "min": 0},
    "user_id": {"type": "integer", "required": True, "min": 0, "max": 120},
    "event_type": {"type": "string", "required": True,
                   "allowed": ["click", "view", "purchase", "signup"]},
    "value": {"type": "float", "min": 0.5, "max": 400.0},
    "props": {"type": "string", "regex": r"\{\"k\": [0-9]{2}\}"},
    "ts": {"type": "datetime", "required": True},
}

_DOC_LANGS = {
    "en": text.STOPWORDS["en"],
    "de": text.STOPWORDS["de"],
    "fr": text.STOPWORDS["fr"],
}


def _scratch_dir(prefix: str) -> str:
    """mkdtemp whose tree is removed at interpreter exit (atexit).

    Entry queries that exercise persisted-store/model paths build their
    artifact in a temp dir; the returned DataFrame is LAZY, so the dir
    must outlive the query function (the driver/noop sink evaluates it
    later) and cannot be removed inline.  Registering removal at exit
    keeps /tmp clean across the many bench/gate invocations of a round
    (previously ~6 leaked artifact trees per full sweep — r7 VERDICT
    item 6) without touching the timed path."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def _read(spark: SparkSession, sf_dir: str, name: str,
          fan_out: bool = True) -> DataFrame:
    """Read one fixture table, fanning the scan out to the session's
    parallelism when the file layout under-splits it.

    The driver fixtures are single-row-group parquet files (e.g.
    documents at sf1.0: 50k rows, ONE row group), and parquet can only
    split at row-group boundaries — so every scan is 1 task no matter
    what maxPartitionBytes says, and each downstream Arrow/regex pass
    runs on one core until its first exchange (guide §2.5 "input
    skew": one huge unsplittable file).  A round-robin repartition to
    defaultParallelism (scale-adaptive, never a constant) fixes that
    for a few MB of shuffle.  At real corpus scale the scan has more
    splits than cores and the condition never fires — no exchange is
    added on the 100 TB path.

    ``fan_out=False`` opts a query out: measured net-negative where
    the first real operator is a keyed exchange or a pure-JVM
    aggregation anyway (asof/sessionize re-partition by key
    immediately; the stats profile's distinct-agg expand pays the
    round-robin's sortBeforeRepartition for nothing — 2.8 → 6.9 s at
    sf1.0)."""
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if fan_out:
        par = spark.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < par:
            df = df.repartition(par)
    return df


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def q_validate_events_violations(spark, sf_dir):
    ev = _read(spark, sf_dir, "events", fan_out=False)
    res = SparkValidator(EVENTS_RULES, key_cols=("event_id",)).validate(ev)
    return res.violations.select(
        "event_id",
        F.element_at("document_path", 1).alias("field"),
        F.col("code").cast("int").alias("code"),
        "rule",
    )


def q_validate_events_summary(spark, sf_dir):
    return (
        q_validate_events_violations(spark, sf_dir)
        .groupBy("field", "rule", "code")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_uniqueness_lineitem(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    return D.distinct_violating_keys(li, ["l_orderkey", "l_linenumber"]).select(
        "l_orderkey", "l_linenumber", F.col("n").cast("long").alias("n")
    )


def q_referential_orphans_orders(spark, sf_dir):
    orders = _read(spark, sf_dir, "orders")
    customer = _read(spark, sf_dir, "customer")
    orphans = D.referential_violations(
        orders, customer, fk="o_custkey", pk="c_custkey",
        keys=["o_orderkey", "o_custkey"],
    )
    return orphans.select("o_orderkey", "o_custkey", F.col("code").cast("int").alias("code"))


_STATS_COLS = ["l_quantity", "l_extendedprice", "l_discount"]


def q_stats_profile_lineitem(spark, sf_dir):
    """One UNION branch per column, each a single-distinct aggregation
    — still fully declarative (one Spark plan, no driver collect).

    Shape rationale (guide §2.2): N distinct aggregates in ONE agg
    force an Expand of every input row ×(N+1) (2.4M rows through the
    hash aggregate at sf0.1, the head's dominant cost), because the
    plan must tag which distinct each copy feeds.  ONE distinct per
    aggregation takes Spark's planAggregateWithOneDistinct path — the
    distinct column rides the partial agg's grouping, no Expand at all
    — and the three branches are independent AQE query stages over
    column-pruned scans, so they run concurrently in the same job.
    Output rows/values are identical (same aggregates, same casts)."""
    li = _read(spark, sf_dir, "lineitem", fan_out=False)
    parts = []
    for c in _STATS_COLS:
        parts.append(li.agg(
            F.avg(F.col(c).isNull().cast("double")).alias("null_rate"),
            F.countDistinct(c).cast("long").alias("n_distinct"),
            F.min(c).cast("double").alias("min_v"),
            F.max(c).cast("double").alias("max_v"),
        ).select(F.lit(c).alias("col_name"), "null_rate", "n_distinct",
                 "min_v", "max_v"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q_ordering_events(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    bad = D.ordering_violations(ev, "user_id", "event_id", "ts",
                                keys=["user_id", "event_id"])
    return bad.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("n"))


def q_drift_event_type_profile(spark, sf_dir):
    """Frequency profile of event_type in the first vs second half of the
    stream (split at max(event_id)/2) — the drift-detector input, with
    bit-exact ratios so the DuckDB oracle matches exactly."""
    ev = _read(spark, sf_dir, "events")
    mid = ev.agg(F.max("event_id")).first()[0] // 2
    counts = ev.groupBy("event_type").agg(
        F.sum((F.col("event_id") <= mid).cast("long")).alias("n_first"),
        F.sum((F.col("event_id") > mid).cast("long")).alias("n_second"),
    )
    totals = counts.agg(F.sum("n_first"), F.sum("n_second")).first()
    t1, t2 = int(totals[0]), int(totals[1])
    return counts.select(
        "event_type",
        (F.col("n_first") / F.lit(t1)).alias("p"),
        (F.col("n_second") / F.lit(t2)).alias("q"),
    )


def q_drift_metrics_events(spark, sf_dir):
    """The drift MATH itself, oracle-checked: KL(current‖baseline) and
    PSI per profile key between the first and second half of the events
    stream, over two profile keys (categorical event_type + props-length
    histogram), computed one-scan-per-half via multi_profile and
    aggregated distributed via drift_metrics_df."""
    ev = _read(spark, sf_dir, "events")
    mid = ev.agg(F.max("event_id")).first()[0] // 2
    specs = [("event_type", "event_type"),
             ("props_len", D.length_bucket("props", 2, 10))]
    cur = D.multi_profile(ev.filter(F.col("event_id") <= mid), specs)
    base = D.multi_profile(ev.filter(F.col("event_id") > mid), specs)
    m = D.drift_metrics_df(cur, base)
    return m.select("key", F.round("kl", 6).alias("kl"),
                    F.round("psi", 6).alias("psi"))


def q_pq_topk_embeddings(spark, sf_dir):
    """ANN top-k through PRODUCT QUANTIZATION (functions/similarity.py
    PQ section): per-subspace k-means codebooks, one-byte-per-subspace
    codes, asymmetric-distance LUT scoring over the CODES column, and
    exact-cosine rerank of the top candidates — the memory-side half
    of IVF-PQ (Jégou et al. 2011).  The planted near-copies of vec 0
    dominate both inner product and cosine, so the ADC cut provably
    retains the true top-10 and the answer equals the exact oracle."""
    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    planted = emb.filter(F.col("vec_id") == 0).crossJoin(
        spark.range(1, 21).select(F.col("id").cast("int").alias("i"))
    ).select(
        (F.lit(2_000_000) + F.col("i")).alias("vec_id"),
        F.zip_with("embedding", F.reverse("embedding"),
                   lambda x, r: x + 0.01 * F.col("i") * r).alias("embedding"),
    )
    corpus = emb.unionByName(planted)
    qvec = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    cb = similarity.train_pq_codebooks(corpus, "embedding", m=8, k=32,
                                       sample=1024, seed=42)
    top = similarity.pq_topk(corpus, "embedding", qvec, cb, k=10,
                             rerank=100, id_col="vec_id")
    return top.select("vec_id", F.round("score", 4).alias("score"))


def q_ivf_topk_embeddings(spark, sf_dir):
    """ANN top-k through the IVF coarse-quantizer path (k-means-lite
    codebook → nprobe nearest cells → in-cell exact rerank) over the
    planted-cluster corpus of q_lsh_topk_embeddings.  The planted
    near-copies of vec 0 (cos ≥ 0.99) sit deep inside the query's
    Voronoi cell, so probing the nearest cells provably covers the true
    top-10 and the ANN answer equals the brute-force oracle."""
    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    planted = emb.filter(F.col("vec_id") == 0).crossJoin(
        spark.range(1, 21).select(F.col("id").cast("int").alias("i"))
    ).select(
        (F.lit(2_000_000) + F.col("i")).alias("vec_id"),
        F.zip_with("embedding", F.reverse("embedding"),
                   lambda x, r: x + 0.01 * F.col("i") * r).alias("embedding"),
    )
    corpus = emb.unionByName(planted)
    qvec = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    cent = similarity.train_centroids(corpus, "embedding", n_cells=8,
                                      sample=1024, seed=42)
    top = similarity.ivf_topk(corpus, "embedding", qvec, cent, k=10,
                              id_col="vec_id", nprobe=2)
    return top.select("vec_id", F.round("score", 4).alias("score"))


def q_dedup_exact_props(spark, sf_dir):
    """Exact dedup groups over the events.props payload column."""
    ev = _read(spark, sf_dir, "events")
    groups = dedup.exact_duplicates(ev, "props", "event_id")
    return groups.select(
        F.col("keep_id").alias("keep_id"),
        F.col("n").cast("long").alias("n"),
    )


def q_lang_id_documents(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return (
        docs.select(text.lang_id(F.col("text")).alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_token_stats_documents(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.token_count(F.col("text")).cast("long").alias("n_tok"),
        text.bpe_token_count(F.col("text")).cast("long").alias("n_bpe"),
    )


def q_quality_documents(spark, sf_dir):
    """Quality-signal columns (exact ratios; no float rounding risk)."""
    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.token_count(F.col("text")).cast("long").alias("n_tok"),
        F.round(text.alpha_ratio(F.col("text")), 6).alias("alpha_ratio"),
        F.round(text.punct_ratio(F.col("text")), 6).alias("punct_ratio"),
    )


def q_text_signals_documents(spark, sf_dir):
    """Stopword hits + mean word length — the remaining text-analysis
    signals, oracle-checked against token-level DuckDB list ops."""
    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.stopword_hits(F.col("text"), "en").cast("long").alias("sw_hits"),
        F.round(text.mean_word_length(F.col("text")), 6).alias("mwl"),
    )


def q_quality_score_documents(spark, sf_dir):
    """The COMPOSITE quality heuristic (length/alpha/stopword/word-length/
    punctuation weighted sum), oracle-checked end-to-end — not just its
    component signals."""
    docs = _read(spark, sf_dir, "documents")
    return docs.select("doc_id", text.quality_score(F.col("text")).alias("q"))


def q_dedup_exact_documents(spark, sf_dir):
    """Row-level exact dedup (keep min doc_id per normalized text) —
    the production-path variant (window row_number, no id lists)."""
    docs = _read(spark, sf_dir, "documents")
    kept = dedup.dedup_exact(docs, "text", "doc_id")
    return kept.select("doc_id")


def q_normalize_events(spark, sf_dir):
    """Normalization through the engine (coerce chain + default fill),
    oracle-checked: strip+lower the props payload, default missing
    values to 0.0 — the normalized frame IS the query result."""
    ev = _read(spark, sf_dir, "events")
    schema = {
        "event_id": {"type": "integer"},
        "props": {"coerce": ["strip", "lower"]},
        "value": {"type": "float", "default": 0.0},
    }
    v = SparkValidator(schema, key_cols=("event_id",), allow_unknown=True)
    norm = v.normalized(ev)
    return norm.select(
        "event_id",
        F.col("props").alias("props_norm"),
        F.col("value").cast("double").alias("value_filled"),
    )


def q_stats_bounds_events(spark, sf_dir):
    """Dataset-level stat bounds: bounds chosen so firing decisions are
    deterministic (far from the approx-distinct estimation error)."""
    ev = _read(spark, sf_dir, "events")
    viol = D.stats_bound_violations(ev, {
        "value": {"min": 0.5, "max": 400.0},  # observed [0.01, 490] → both fire
        "user_id": {"max": 100},              # ids up to ~150 → fires
        "event_type": {"n_distinct_min": 3},  # 4-5 distinct → passes (HLL exact
                                              # at tiny cardinality)
    })
    return viol.select(
        F.element_at("document_path", 1).alias("col_name"),
        F.element_at("schema_path", 3).alias("bound"),
        F.col("code").cast("int").alias("code"),
    )


def q_multi_topk_embeddings(spark, sf_dir):
    """Batched multi-query exact top-k: 5 query vectors broadcast over
    the corpus, scored in one pass, ranked per query by a window — the
    many-queries shape (one shuffle on query_id, no per-query scans).
    Oracled by a per-partition ROW_NUMBER in DuckDB."""
    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").cast("long").alias("query_id"),
        F.col("embedding").alias("q_emb"),
    )
    top = similarity.brute_force_topk_multi(emb, "embedding", queries, k=3,
                                            id_col="vec_id")
    return top.select("query_id", "vec_id",
                      F.round("score", 4).alias("score"),
                      F.col("rank").cast("int").alias("rank"))


def q_topk_embeddings_cosine(spark, sf_dir):
    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    qvec = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    top = similarity.brute_force_topk(emb, "embedding", qvec, k=10, id_col="vec_id")
    return top.select("vec_id", F.round("score", 4).alias("score"))


# -- rows-only (not expressible in ANSI SQL / DuckDB) ------------------------


#: committed parquet dump of sources.transcripts.synthesize(5000, seed=42)
#: (scripts/make_transcripts_fixture.py regenerates it) — both the Spark
#: flagship query and its DuckDB oracle twin read THIS file, so the last
#: formerly rows-only query is now hash-matched end-to-end
_TRANSCRIPTS_FIXTURE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)),
    "tests", "fixtures", "transcripts_oracle.parquet")


def q_flagship_transcripts(spark, sf_dir):
    """Full per-turn rule validation over the deterministic synthetic
    transcripts (the north-star workload); violation rows keyed by
    (conv_id, turn_idx).  Reads the committed fixture parquet so the
    DuckDB twin sees byte-identical input."""
    from cerberus_spark.sources.transcripts import TURN_SCHEMA

    df = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    res = SparkValidator(TURN_SCHEMA, key_cols=("conv_id", "turn_idx")).validate(df)
    return res.violations.select(
        "conv_id", "turn_idx",
        F.element_at("document_path", 1).alias("field"),
        F.col("code").cast("int").alias("code"), "rule",
    )


#: conversation grammar for the synthetic transcripts (the generator's
#: clean pattern is system → user → (assistant|tool) → user → system…;
#: sources/transcripts.py:84-90), so violations fire exactly on the
#: injected dirt: bogus roles, duplicate/negative turn_idx, shifted ts
_SEQ_TRANSITIONS = {
    "system": ["user"],
    "user": ["assistant", "tool", "system"],
    "assistant": ["user", "system"],
    "tool": ["user", "system"],
}
#: total order inside a conversation — (turn_idx, ts, role, text, tool)
#: is unique on the fixture, so lag() is deterministic on dirty data
_SEQ_TIE = ("ts", "role", "text", "tool")


#: committed parquet with PLANTED near-duplicate conversations
#: (scripts/make_conv_dedup_fixture.py regenerates; planted pairs sit
#: at conversation-Jaccard 0.44-1.0, background noise at ≤0.02)
_CONV_DEDUP_FIXTURE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)),
    "tests", "fixtures", "conv_dedup.parquet")


def q_conv_near_dups_transcripts(spark, sf_dir):
    """CONVERSATION-level near-dedup: deterministic ordered turn
    concatenation (functions.text.conversation_text — one hash agg +
    array_sort, no window) feeding the verified MinHash pair pipeline
    at bands=num_perm (r=1: candidate recall 1-(1-j)^32 ≈ 1 at the
    0.42 threshold; the DuckDB twin is the EXACT all-pairs conversation
    Jaccard, so a hash match certifies recall was in fact 1)."""
    from cerberus_spark.functions import text as textmod

    df = spark.read.parquet(_CONV_DEDUP_FIXTURE)
    conv = textmod.conversation_text(df, order_cols=("turn_idx", "ts", "role"))
    pairs = dedup.ngram_jaccard_pairs(conv, "conv_id", "text",
                                      threshold=0.42, num_perm=32, bands=32,
                                      bucket_cap=None)
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q_sequence_violations_transcripts(spark, sf_dir):
    """Conversation-sequence grammar over the transcripts fixture: role
    transitions + first-role + turn_idx contiguity + ts monotonicity in
    ONE window pass (operators/sequence.py; dataset-level rules the
    per-document reference cannot express — validator.py:1009-1049)."""
    from cerberus_spark.operators import sequence as seq

    df = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    return seq.sequence_violations(
        df, first_roles=["system"], transitions=_SEQ_TRANSITIONS,
        contiguous=True, monotone_ts=True, order_tie=_SEQ_TIE,
    ).select("conv_id", "turn_idx", "constraint", "value")


def q_sequence_summary_transcripts(spark, sf_dir):
    """Per-conversation grammar scorecard (same rules, same single
    window pass; the groupBy rides the window's conv_id partitioning so
    the summary adds no second exchange — plan-pinned)."""
    from cerberus_spark.operators import sequence as seq

    df = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    return seq.sequence_summary(
        df, first_roles=["system"], transitions=_SEQ_TRANSITIONS,
        contiguous=True, monotone_ts=True, order_tie=_SEQ_TIE,
    ).select(
        "conv_id", "n_turns", "n_first_role", "n_transition",
        "n_contiguous", "n_monotone_ts", "n_violations",
        F.col("seq_ok").cast("int").alias("seq_ok"),
    )


def q_minhash_near_dups_documents(spark, sf_dir):
    """Verified MinHash near-dups: LSH candidates → exact shingle
    Jaccard ≥ 0.6.  The DuckDB oracle is the EXACT all-pairs Jaccard
    over identical word-3-shingle sets, so this row passing means the
    banded-LSH candidate generation missed no true pair on the fixture
    (recall = 1 measured; the banding bound is 1-(1-j^4)^8) AND the
    verification matched the exact similarity bit-for-bit.  bucket_cap
    is None (cap disabled, no ranking window) so the capped path
    cannot drop pairs — output ≡ ground truth, not ⊆."""
    docs = _read(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.6,
                                      bucket_cap=None)
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q_near_dedup_documents(spark, sf_dir):
    """Full near-dedup pass: verified MinHash pairs → connected
    components (distributed min-label propagation) → keep the min-id
    representative per component plus all non-duplicated rows.  The
    DuckDB oracle recomputes the components with a recursive CTE over
    the exact all-pairs Jaccard graph, so the KEPT-row set is pinned
    end-to-end (pair detection + component formation + drop policy)."""
    docs = _read(spark, sf_dir, "documents")
    kept = dedup.dedup_near(docs, "doc_id", "text", threshold=0.6,
                            bucket_cap=None)
    return kept.select("doc_id")


def q_simhash_near_dups_documents(spark, sf_dir):
    """SimHash near-dups at hamming ≤ 8 with the pigeonhole banding
    (9 disjoint signature blocks → guaranteed recall) and exact-Hamming
    verify (precision 1) — with bucket_cap above the corpus size the
    output EQUALS the exact all-pairs result, which the DuckDB oracle
    recomputes independently from the shared md5 bit-tally signature
    spec (dedup.simhash_signatures)."""
    docs = _read(spark, sf_dir, "documents")
    pairs = dedup.simhash_near_dups(docs, "doc_id", "text", max_hamming=8,
                                    bucket_cap=1_000_000)
    return pairs.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


def q_lsh_topk_embeddings(spark, sf_dir):
    """ANN top-k through the hyperplane-LSH path (bucket + 1-bit
    multiprobe + in-bucket exact rerank) over a corpus with a planted
    query cluster: 20 perturbed copies of vec 0 at cosine ≥ 0.99.  The
    true top-10 (vec 0 + its 9 closest copies) sit far above the
    natural pairwise cosine (≤ ~0.51), and at cos ≥ 0.99 the probe set
    covers their buckets, so the ANN answer equals the exact top-10 the
    DuckDB oracle computes by brute force."""
    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    planted = emb.filter(F.col("vec_id") == 0).crossJoin(
        spark.range(1, 21).select(F.col("id").cast("int").alias("i"))
    ).select(
        (F.lit(2_000_000) + F.col("i")).alias("vec_id"),
        F.zip_with("embedding", F.reverse("embedding"),
                   lambda x, r: x + 0.01 * F.col("i") * r).alias("embedding"),
    )
    corpus = emb.unionByName(planted)
    qvec = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    top = similarity.lsh_topk(corpus, "embedding", qvec, k=10, id_col="vec_id",
                              n_bits=8, multiprobe=8)
    return top.select("vec_id", F.round("score", 4).alias("score"))


def q_embedding_near_dups(spark, sf_dir):
    """Embedding-cosine near-dup over the embeddings table with planted
    duplicates (the synthetic vectors are mutually distant — max
    pairwise cosine ≈ 0.51 — so near-copies of the first 10 vectors are
    derived deterministically: v + 0.05·reverse(v), cosine ≈ 0.999).
    The DuckDB oracle recomputes the planted rows and the exact
    all-pairs cosine, so this row passing pins hyperplane-LSH recall at
    1.0 on the fixture and exact-verify precision."""
    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    planted = emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.zip_with(
            "embedding", F.reverse("embedding"), lambda x, r: x + 0.05 * r
        ).alias("embedding"),
    )
    both = emb.unionByName(planted)
    pairs = dedup.embedding_near_dups(both, "vec_id", "embedding",
                                      threshold=0.95, dim=64)
    return pairs.select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))


def q_media_meta_documents(spark, sf_dir):
    """REAL multimodal metadata decode: synthesize a valid PNG header
    per document (width = doc_id % 1000 + 1), parse it back with the
    pure-Python container parser — the DuckDB twin recomputes the dims
    arithmetically, so the oracle pins the construct→parse identity."""
    import struct

    docs = _read(spark, sf_dir, "documents").select("doc_id")

    @F.pandas_udf("binary")
    def make_png(doc_id: pd.Series) -> pd.Series:
        def one(i):
            w = int(i) % 1000 + 1
            return (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
                    + struct.pack(">II", w, 480) + b"\x08\x02\x00\x00\x00")
        return doc_id.map(one)

    with_payload = docs.withColumn("payload", make_png(F.col("doc_id")))
    meta = multimodal.extract_media_meta(with_payload, "doc_id", "payload")
    return meta.select(
        "doc_id",
        F.col("meta.format").alias("format"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
    )


def q_multimodal_features_documents(spark, sf_dir):
    """Feature-extraction plumbing over a deterministic doc subset:
    the mapInPandas Arrow path must yield exactly FEATURE_DIM features
    per payload; the payload byte length round-trips the utf-8 encode.
    (The feature VALUES are the deterministic fake decoder's — not
    SQL-expressible; dim + byte-count are what the oracle can pin.)"""
    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 50).select(
        "doc_id", F.encode(F.coalesce("text", F.lit("")), "utf-8").alias("payload")
    )
    feats = multimodal.extract_features(docs, "doc_id", "payload", fake=True)
    return feats.join(
        docs.select("doc_id", F.length("payload").cast("long").alias("n_payload_bytes")),
        "doc_id",
    ).select("doc_id", F.size("features").alias("n_features"), "n_payload_bytes")


def q_asof_purchase_events(spark, sf_dir):
    """As-of join (operators/temporal.py): enrich every event with the
    same user's most recent STRICTLY-earlier purchase.  One union + one
    window pass — a single hash exchange on user_id, never a
    key-equijoin × range-filter cross product (plan-pinned in
    tests/test_temporal.py)."""
    ev = _read(spark, sf_dir, "events", fan_out=False)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    return temporal.asof_join(
        ev.select("event_id", "user_id", "ts"),
        purchases,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        payload=["value"],
        strict=True,
    ).select(
        "event_id",
        F.col("ts_asof").alias("prev_purchase_ts"),
        F.col("value_asof").alias("prev_purchase_value"),
    )


def q_sessionize_events(spark, sf_dir):
    """Row-level gap sessionization (15-min gap, per user): every event
    labeled with its 0-based session index.  lag + running sum share one
    per-key sort."""
    return temporal.sessionize(
        _read(spark, sf_dir, "events", fan_out=False), "user_id", "ts", 900.0,
        order_tie="event_id",
    ).select("event_id", "user_id", "session_idx")


def q_session_stats_events(spark, sf_dir):
    """Per-session aggregates via the JVM-native F.session_window (one
    shuffle, map-side partial session merge) — the same operator the
    streaming path uses, so batch/streaming session semantics agree by
    construction.  Null-ts rows excluded (session_window drops them)."""
    ev = _read(spark, sf_dir, "events", fan_out=False).filter(F.col("ts").isNotNull())
    return temporal.session_stats(ev, "user_id", "ts", 900.0).select(
        "user_id", "session_start", "session_end", "n_events"
    )


def q_range_join_purchase_windows(spark, sf_dir):
    """Bucketized point-in-interval join (operators/temporal.py
    range_join): pair every event with each 1-day purchase window of
    the same user containing it.  Intervals explode into 6h epoch
    buckets → EQUI-join on (user_id, bucket) + residual range filter —
    shuffle-partitionable, no nested-loop cross product (plan-pinned
    in tests/test_temporal.py)."""
    ev = _read(spark, sf_dir, "events")
    windows = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL '1' DAY")).alias("w_end"),
        F.col("event_id").alias("purchase_id"),
    )
    return temporal.range_join(
        ev.select("event_id", "user_id", "ts"),
        windows,
        on="user_id",
        left_ts="ts",
        right_start="w_start",
        right_end="w_end",
        payload=["purchase_id"],
        bucket_sec=6 * 3600,
    ).select("event_id", F.col("purchase_id_rng").alias("purchase_id"))


def q_rollup_events_daily(spark, sf_dir):
    """Hierarchical (event_type, day) → (event_type) → total summary in
    ONE pass via native ROLLUP (single Expand + hash aggregate with
    map-side partial combine — not one scan per level; plan-pinned in
    tests/test_dataset.py).  gid = grouping_id() disambiguates
    super-aggregate NULLs from the table's genuine NULL groups."""
    ev = _read(spark, sf_dir, "events")
    return D.rollup_profile(
        ev,
        [F.col("event_type"), F.to_date(F.col("ts")).alias("day")],
        [F.count(F.lit(1)).alias("n"),
         F.round(F.sum("value"), 3).alias("sum_value")],
    ).select("event_type", "day", "gid", "n", "sum_value")


# ---------------------------------------------------------------------------
# corpus-assembly family (operators/pipeline.py + functions/pii.py):
# split / sample / truncate / pack / scrub — the steps between "validated"
# and "ships to the trainer"
# ---------------------------------------------------------------------------


def q_redact_pii_documents(spark, sf_dir):
    """PII scrub over documents with DETERMINISTICALLY PLANTED PII (the
    synthetic corpus contains none): doc_id mod 4 selects an appended
    email+phone / ssn+card / ip+phone suffix built identically in both
    engines, so the staged counts and the redacted text are exercised
    on genuine matches, not 500 zero rows."""
    from cerberus_spark.functions import pii

    docs = _read(spark, sf_dir, "documents")
    t = F.coalesce(F.col("text"), F.lit(""))
    d = F.col("doc_id")
    aug = (
        F.when(d % 4 == 0, F.concat(
            t, F.lit(" contact user"), d.cast("string"),
            F.lit("@example.com or (555) 867-5309")))
        .when(d % 4 == 1, F.concat(
            t, F.lit(" ssn 123-45-6789 card 4111 1111 1111 1111")))
        .when(d % 4 == 2, F.concat(
            t, F.lit(" from 192.168.0."), (d % 256).cast("string"),
            F.lit(" call 415-555-0133")))
        .otherwise(t)
    )
    sig = pii.pii_signals(aug)
    return docs.select(
        "doc_id",
        *[(c.cast("long") if k.startswith("n_") else c).alias(k)
          for k, c in sig.items()],
    )


def q_split_assign_documents(spark, sf_dir):
    """Deterministic hash-bucket train/val/test assignment — stable
    across reruns, cluster sizes, and corpus growth (content-addressed
    on doc_id; no RNG, no shuffle: a stateless projection)."""
    from cerberus_spark.operators import pipeline as P

    docs = _read(spark, sf_dir, "documents")
    return P.split_assign(
        docs, "doc_id", (("train", 0.8), ("val", 0.1), ("test", 0.1)),
        seed="r5",
    ).select("doc_id", "split")


def q_stratified_sample_documents(spark, sf_dir):
    """Per-language deterministic subsample (en 50% / de 40% / zh 20%;
    other strata dropped by the explicit allowlist) — the md5-bucket
    twin of sampleBy without its partitioning-dependent RNG."""
    from cerberus_spark.operators import pipeline as P

    docs = _read(spark, sf_dir, "documents")
    return P.stratified_sample(
        docs, "doc_id", {"en": 0.5, "de": 0.4, "zh": 0.2}, "lang",
        seed="strat",
    ).select("doc_id", "lang")


def q_pack_transcripts(spark, sf_dir):
    """Greedy token-budget packing of each conversation's turns (budget
    120 whitespace tokens).  The scan is non-associative → per-conv
    applyInPandas over the conv_id exchange, with rn/token counts
    computed JVM-side first; the DuckDB twin replays the same greedy
    walk as a recursive CTE, pinning every pack boundary."""
    from cerberus_spark.operators import pipeline as P

    df = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    return P.pack_sequences(
        df, "conv_id", "turn_idx", "text", budget=120, order_tie=_SEQ_TIE,
    ).select(
        "conv_id", "rn", "turn_idx",
        F.col("n_tok").cast("long").alias("n_tok"), "pack_id",
    )


def q_tail_turns_transcripts(spark, sf_dir):
    """Context-window truncation: last 8 turns per conversation under
    the same total order as the grammar checks (rn_desc 1 = final
    turn)."""
    from cerberus_spark.operators import pipeline as P

    df = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    return P.tail_turns(
        df, "conv_id", "turn_idx", k=8, order_tie=_SEQ_TIE,
    ).select("conv_id", "rn_desc", "turn_idx", "role")


def q_contamination_documents(spark, sf_dir):
    """Benchmark decontamination: docs whose doc_id % 50 == 0 play the
    eval set, the rest the corpus; a corpus doc is contaminated when it
    shares any distinct word 3-gram with the eval set.  The eval side
    broadcasts (map-side hash probe — the corpus never shuffles on
    n-gram); per-doc counts partial-aggregate before the only
    exchange."""
    from cerberus_spark.functions import decontam as DC

    docs = _read(spark, sf_dir, "documents", fan_out=False)
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    rep = DC.contamination_report(corpus, bench, "doc_id", "text", n=3)
    return rep.select(
        "doc_id",
        F.col("n_ngrams").cast("long").alias("n_ngrams"),
        F.col("n_matched").cast("long").alias("n_matched"),
        "contaminated",
    )


def q_excise_documents(spark, sf_dir):
    """Span-level decontamination over the same mod-50 eval split as
    contamination_documents: matched 3-gram windows are EXCISED
    (positional coverage — overlaps never double-count), the rest of
    the document survives with original word forms.  Zero exchanges
    (broadcast gram set probed in one Arrow projection)."""
    from cerberus_spark.functions import decontam as DC

    docs = _read(spark, sf_dir, "documents", fan_out=False)
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    return DC.excise_contamination(corpus, bench, "doc_id", "text", n=3)


def q_cross_embedding_dups(spark, sf_dir):
    """Semantic incremental ingest: the planted near-copies of the
    first 10 vectors play the new batch, the whole embeddings table
    the kept corpus; bipartite hyperplane-LSH buckets (shared seed ⇒
    same buckets both sides) + exact cosine verify.  The DuckDB twin
    is the EXACT all-bipartite-pairs cosine."""
    from cerberus_spark.functions.dedup import embedding_dups_against

    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("embedding"))
    new = emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.zip_with("embedding", F.reverse("embedding"),
                   lambda x, r: x + 0.05 * r).alias("embedding"))
    pairs = embedding_dups_against(new, emb, "vec_id", "embedding",
                                   threshold=0.95, dim=64)
    return pairs.select("id_new", "id_ref",
                        F.round("cosine", 4).alias("cosine"))


def q_cross_dedup_documents(spark, sf_dir):
    """Incremental-ingest dedup: docs with doc_id%10 in {0,1,2} play
    the already-kept reference corpus, the rest the new crawl; verified
    cross-corpus near-dup pairs at Jaccard ≥ 0.6.  Bipartite banding —
    new·new and ref·ref pairs never materialize; the DuckDB twin is the
    EXACT all-bipartite-pairs Jaccard, so a hash match certifies
    candidate recall 1 on the fixture."""
    from cerberus_spark.functions import dedup as DD

    docs = _read(spark, sf_dir, "documents")
    ref = docs.filter(F.col("doc_id") % 10 < 3)
    new = docs.filter(F.col("doc_id") % 10 >= 3)
    pairs = DD.cross_dup_pairs(new, ref, "doc_id", "text",
                               threshold=0.6)
    return pairs.select("id_new", "id_ref",
                        F.round("jaccard", 6).alias("jaccard"))


def q_surprisal_documents(spark, sf_dir):
    """Self-scored unigram surprisal (CCNet's cheap tier): the corpus
    trains its own add-1 unigram model, then every doc gets its mean
    negative log-prob in micro-nat-quantized integers — BIGINT sums,
    so the score is partitioning- and engine-independent by
    construction (functions/surprisal.py spec)."""
    from cerberus_spark.functions import surprisal as SP

    docs = _read(spark, sf_dir, "documents", fan_out=False)
    return SP.surprisal_report(docs, "doc_id", "text")


def q_ngram_surprisal_documents(spark, sf_dir):
    """Self-scored TRIGRAM surprisal with stupid backoff (Brants et
    al. 2007 — the web-scale LM-quality tier above the unigram one):
    position i scores at the highest order its left context allows,
    falling back ln(0.4) per order when the gram is unseen.  Same
    micro-nat integer quantization, so per-doc sums stay exact BIGINT
    arithmetic in both engines (functions/surprisal.py spec)."""
    from cerberus_spark.functions import surprisal as SP

    docs = _read(spark, sf_dir, "documents")
    return SP.ngram_surprisal_report(docs, "doc_id", "text", order=3)


def q_substring_dup_documents(spark, sf_dir):
    """Exact-substring dedup (Lee et al. 2022 tier): document pairs
    sharing a VERBATIM run of ≥12 tokens, found via winnowed
    fingerprints (Schleimer et al. MOSS — recall-guaranteed candidate
    generation at ~2/(w+1) the naive L-gram shuffle density) and
    verified by L-gram-hash intersection.  The DuckDB twin is the
    EXACT all-pairs L-gram self-join, so a hash match certifies
    candidate recall 1 on the fixture (functions/winnow.py)."""
    from cerberus_spark.functions import winnow as WN

    docs = _read(spark, sf_dir, "documents")
    return (WN.substring_dup_pairs(docs, "doc_id", "text",
                                   min_len=12, k=4)
            .select("id_a", "id_b",
                    F.col("n_shared").cast("long").alias("n_shared")))


def q_cross_dedup_stored_documents(spark, sf_dir):
    """The BAND-STORE form of cross_dedup_documents: the reference
    partition is committed once to a persisted (band, bhash, id) +
    shingle-hash store (the streaming ingest appends one such epoch
    per micro-batch), and the new batch probes the STORE — the
    reference text is never re-shingled (functions/dedup.py:
    write_band_store / cross_dup_pairs_stored — the fix for the r5
    quadratic-ingest flag).  Shares cross_dedup_documents' exact
    all-bipartite-pairs DuckDB twin: a hash match certifies the
    stored path end-to-end under the driver gate."""
    from cerberus_spark.functions import dedup as DD

    docs = _read(spark, sf_dir, "documents")
    ref = docs.filter(F.col("doc_id") % 10 < 3)
    new = docs.filter(F.col("doc_id") % 10 >= 3)
    store = _scratch_dir("band_store_oracle_")
    DD.write_band_store(ref, store, epoch=0, id_col="doc_id",
                        text_col="text")
    pairs = DD.cross_dup_pairs_stored(new, store, "doc_id", "text",
                                      threshold=0.6)
    return pairs.select("id_new", "id_ref",
                        F.round("jaccard", 6).alias("jaccard"))


def q_corpus_transcripts(spark, sf_dir):
    """END-TO-END corpus assembly (cerberus_spark/corpus.py) over the
    transcripts fixture: per-turn rule validation (flagship schema) →
    conversation-grammar gate → PII redaction → content-addressed
    split → greedy token packing, drops conversation-granular
    throughout.  Near-dedup is off here so the twin stays non-iterative
    SQL — its closure oracle is near_dedup_documents /
    conv_near_dups_transcripts.  The DuckDB twin replays every stage
    (the rule SQL is _TRANSCRIPTS_VIOLATIONS_SQL, the grammar
    _SEQ_VIOLATIONS_SQL, redaction the staged regex chain, packing the
    recursive CTE), so a hash match certifies the COMPOSITION — filter
    granularity, redact-before-order, packing over redacted counts —
    not just the stages."""
    from cerberus_spark.corpus import build_corpus
    from cerberus_spark.sources.transcripts import TURN_SCHEMA

    df = spark.read.parquet(_TRANSCRIPTS_FIXTURE)
    b = build_corpus(
        df, TURN_SCHEMA, order_tie=_SEQ_TIE,
        sequence_rules=dict(first_roles=["system"],
                            transitions=_SEQ_TRANSITIONS,
                            contiguous=True, monotone_ts=True),
        dedup_threshold=None, redact=True, split_seed="corp",
        pack_budget=64)
    packs = b.packs.select("conv_id", "rn", "n_tok", "pack_id")
    return (b.turns.join(packs, ["conv_id", "rn"])
            .select("conv_id", F.col("rn").cast("int").alias("rn"),
                    "turn_idx", "role", "text", "split",
                    F.col("n_tok").cast("long").alias("n_tok"),
                    F.col("pack_id").cast("int").alias("pack_id")))


def q_mixture_resample_documents(spark, sf_dir):
    """Temperature-flattened language mixing (T=2): the en-heavy corpus
    is downsampled toward share ∝ p^(1/2); the rarest language keeps
    every row.  Content-addressed md5 buckets (split_assign's spec), so
    the kept set is partitioning-invariant and the DuckDB twin replays
    it row-exactly.  The corpus side joins the 5-row rate table via
    broadcast — no corpus shuffle (plan-pinned in tests)."""
    from cerberus_spark.operators import pipeline as P

    docs = _read(spark, sf_dir, "documents", fan_out=False)
    out = P.mixture_resample(docs, "lang", "doc_id",
                             temperature=2.0, seed="mix")
    return out.select("doc_id", "lang", "mix_rate")


def q_repetition_documents(spark, sf_dir):
    """Gopher-style repetition signals with DETERMINISTICALLY PLANTED
    line duplication (the synthetic corpus is single-line, so doc_id
    mod 3 appends duplicate head-lines built identically in both
    engines); the top-2-gram and dup-5-gram fractions run on the
    genuine word-soup repetition.  One Arrow UDF pass — a stateless
    projection, no shuffle (plan-pinned in tests/test_repetition.py)."""
    from cerberus_spark.functions import repetition as R

    docs = _read(spark, sf_dir, "documents")
    t = F.coalesce(F.col("text"), F.lit(""))
    d, head = F.col("doc_id"), F.substring(
        F.coalesce(F.col("text"), F.lit("")), 1, 40)
    aug = (
        F.when(d % 3 == 1, F.concat(
            t, F.lit("\n"), head, F.lit("\n"), head))
        .when(d % 3 == 2, F.concat(
            head, F.lit("\n"), head, F.lit("\n"), t, F.lit("\n"), t))
        .otherwise(t)
    )
    rep = R.repetition_report(
        docs.select("doc_id", aug.alias("text")),
        top_ns=(2,), dup_ns=(5,))
    return rep.select(
        "doc_id", F.col("n_lines").cast("long").alias("n_lines"),
        "dup_line_frac", "dup_line_char_frac",
        "top2gram_char_frac", "dup5gram_char_frac")


def q_bm25_documents(spark, sf_dir):
    """BM25 keyword retrieval over the documents table (terms vector /
    hash / spark, Lucene idf, k1=1.2 b=0.75): one map-combined 1-row
    stats aggregate broadcast onto a single codegen scoring projection,
    top-10 via TakeOrderedAndProject — the corpus never
    hash-partitions.  The DuckDB twin evaluates the identical
    expression tree (same association order), so the doubles agree
    bit-for-bit before the round."""
    from cerberus_spark.functions import ranking as RK

    docs = _read(spark, sf_dir, "documents")
    top = RK.bm25_topk(docs, "doc_id", "text",
                       ["vector", "hash", "spark"], k=10)
    return top.select("doc_id", F.round("score", 4).alias("score"))


def q_semantic_dedup_embeddings(spark, sf_dir):
    """SemDeDup-style semantic dedup over the planted-cluster corpus of
    q_lsh_topk_embeddings: embeddings of vec_id<8 serve as fixed anchor
    centroids (deterministic, twin-computable), every vector assigns to
    its nearest anchor (Arrow argmin matmul), and within a cell any row
    with a lower-id cosine≥0.95 neighbor is dropped (min-id-keeps
    rule — one anti-join, no iteration).  The random base vectors are
    mutually distant (pairwise cos ≤ ~0.51), so exactly the planted
    near-copies of vec 0 dedup against it and each other."""
    import numpy as np

    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    planted = emb.filter(F.col("vec_id") == 0).crossJoin(
        spark.range(1, 21).select(F.col("id").cast("int").alias("i"))
    ).select(
        (F.lit(2_000_000) + F.col("i")).alias("vec_id"),
        F.zip_with("embedding", F.reverse("embedding"),
                   lambda x, r: x + 0.01 * F.col("i") * r).alias("embedding"),
    )
    corpus = emb.unionByName(planted)
    anchors = np.array([r["embedding"] for r in
                        emb.filter(F.col("vec_id") < 8)
                        .orderBy("vec_id").collect()])
    out = dedup.semantic_dedup(corpus, "vec_id", "embedding", anchors,
                               threshold=0.95)
    return out.select("vec_id", F.col("cell").cast("int").alias("cell"),
                      "kept")


def q_chunk_documents(spark, sf_dir):
    """Token-window chunking (operators/pipeline.chunk_documents):
    32-token chunks, 8-token overlap — one shuffle-free JVM projection
    (tokenize → sequence → explode → slice/array_join), chunk i covers
    tokens [i·24, i·24+32) and exists iff it starts inside the doc."""
    from cerberus_spark.operators import pipeline as P

    docs = _read(spark, sf_dir, "documents")
    return P.chunk_documents(docs, chunk_tokens=32, overlap=8)


def q_bm25_indexed_documents(spark, sf_dir):
    """BM25 through the INVERTED INDEX (functions/ranking.py
    write_text_index / bm25_topk_indexed): postings partitioned by
    term-hash bucket so the query reads only its terms' partitions
    (plan-pinned partition pruning in tests), doc length denormalized
    onto the posting row (no corpus-sized join), per-term pivot sums
    in caller order.  Bit-identical doubles to the flat path, so the
    SAME DuckDB twin certifies both."""
    from cerberus_spark.functions import ranking as RK

    docs = _read(spark, sf_dir, "documents")
    idx = _scratch_dir("bm25_idx_")
    RK.write_text_index(docs, idx, "doc_id", "text")
    top = RK.bm25_topk_indexed(spark, idx, ["vector", "hash", "spark"],
                               k=10)
    return top.select("doc_id", F.round("score", 4).alias("score"))


def q_bm25_plus_documents(spark, sf_dir):
    """BM25+ (Lv & Zhai 2011): the flat scorer with the delta=1.0
    lower bound on tf normalization — each MATCHING term's saturation
    gets + delta so long documents cannot normalize an occurrence to
    ~0 (functions/ranking.py bm25_scores).  Same single-projection
    plan as q_bm25_documents; the twin adds the identical gated
    constant per term."""
    from cerberus_spark.functions import ranking as RK

    docs = _read(spark, sf_dir, "documents")
    top = RK.bm25_topk(docs, "doc_id", "text",
                       ["vector", "hash", "spark"], k=10, delta=1.0)
    return top.select("doc_id", F.round("score", 4).alias("score"))


def q_bm25_phrase_documents(spark, sf_dir):
    """Phrase query through the POSITIONS index (functions/ranking.py
    write_text_index(positions=True) / bm25_topk_indexed(phrase=True)):
    only documents containing the adjacent token sequence
    'fast table' rank, scored by the standard per-term BM25 sum.
    Adjacency is checked on the per-term position arrays gathered in
    the scoring pivot — no extra join, the corpus text never read at
    query time.  The DuckDB twin checks the same adjacency with a
    range/list predicate over the identical tokenization."""
    from cerberus_spark.functions import ranking as RK

    docs = _read(spark, sf_dir, "documents")
    idx = _scratch_dir("bm25_pos_idx_")
    RK.write_text_index(docs, idx, "doc_id", "text", positions=True)
    top = RK.bm25_topk_indexed(spark, idx, ["fast", "table"], k=10,
                               phrase=True)
    return top.select("doc_id", F.round("score", 4).alias("score"))


def q_ngram_model_stored_documents(spark, sf_dir):
    """The PERSISTED-MODEL form of ngram_surprisal_documents
    (functions/surprisal.py: write_ngram_model /
    ngram_surprisal_report_stored — the band-store pattern applied to
    the language model): the hashed count tables are written once and
    the batch scores against the artifact, never re-tokenizing the
    training corpus.  Training on the scored corpus itself makes the
    output bit-identical to the self-scored query, so the SAME DuckDB
    twin certifies the stored path end-to-end."""
    from cerberus_spark.functions import surprisal as SP

    docs = _read(spark, sf_dir, "documents")
    path = _scratch_dir("ngram_model_oracle_")
    SP.write_ngram_model(docs, path, "doc_id", "text", order=3)
    return SP.ngram_surprisal_report_stored(docs, path, "doc_id", "text")


def q_dsir_model_stored_documents(spark, sf_dir):
    """The PERSISTED-MODEL form of dsir_documents (functions/dsir.py:
    write_dsir_model / dsir_report_stored): target/raw bucket counts
    persist once, batches score against the artifact with one
    featurize pass + a broadcast ratio join.  Same corpora as
    q_dsir_documents and the same content-addressed Gumbel top-25, so
    the SAME DuckDB twin certifies the stored path."""
    from cerberus_spark.functions import dsir as DS

    docs = _read(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "de")
    path = _scratch_dir("dsir_model_oracle_")
    DS.write_dsir_model(target, docs, path)
    rep = DS.dsir_report_stored(docs, path)
    key = DS.gumbel_key(F.col("doc_id"), F.col("logw_q6"), "g")
    top = (rep.select("doc_id", "logw", key.alias("_key"))
           .orderBy(F.col("_key").desc(), F.col("doc_id").asc())
           .limit(25))
    return docs.join(top, "doc_id").select("doc_id", "logw")


def q_dsir_documents(spark, sf_dir):
    """DSIR importance resampling (functions/dsir.py): hashed
    unigram+bigram features (md5 % 10k buckets), add-1 smoothed
    bag-of-buckets models for target (lang='de' — a minority domain)
    vs raw (the whole table), per-doc log-likelihood-ratio weights in
    exact integer micro-nats, and a content-addressed Gumbel top-25
    draw ∝ weight.  The DuckDB twin replays the identical spec; the
    returned weights are BIGINTs, so a hash match is exact."""
    from cerberus_spark.functions import dsir as DS

    docs = _read(spark, sf_dir, "documents", fan_out=False)
    target = docs.filter(F.col("lang") == "de")
    out = DS.dsir_resample(docs, target, k=25)
    return out.select("doc_id", "logw")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: compiled rule validation."""
    return q_validate_events_violations(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "validate_events_violations": q_validate_events_violations,
        "validate_events_summary": q_validate_events_summary,
        "uniqueness_lineitem": q_uniqueness_lineitem,
        "referential_orphans_orders": q_referential_orphans_orders,
        "stats_profile_lineitem": q_stats_profile_lineitem,
        "ordering_events": q_ordering_events,
        "drift_event_type_profile": q_drift_event_type_profile,
        "drift_metrics_events": q_drift_metrics_events,
        "ivf_topk_embeddings": q_ivf_topk_embeddings,
        "pq_topk_embeddings": q_pq_topk_embeddings,
        "normalize_events": q_normalize_events,
        # dedup/ANN family — oracled by exact all-pairs SQL twins
        "minhash_near_dups_documents": q_minhash_near_dups_documents,
        "near_dedup_documents": q_near_dedup_documents,
        "simhash_near_dups_documents": q_simhash_near_dups_documents,
        "lsh_topk_embeddings": q_lsh_topk_embeddings,
        "embedding_near_dups": q_embedding_near_dups,
        "multimodal_features_documents": q_multimodal_features_documents,
        # temporal family — as-of join + sessionization (both window
        # forms), oracled by DuckDB ASOF JOIN / window SQL
        "asof_purchase_events": q_asof_purchase_events,
        "sessionize_events": q_sessionize_events,
        "session_stats_events": q_session_stats_events,
        "rollup_events_daily": q_rollup_events_daily,
        # conversation-sequence grammar (transcripts fixture)
        "sequence_violations_transcripts": q_sequence_violations_transcripts,
        "sequence_summary_transcripts": q_sequence_summary_transcripts,
        "conv_near_dups_transcripts": q_conv_near_dups_transcripts,
        # flagship: reads the committed transcripts fixture parquet, so
        # its DuckDB twin hash-matches on identical input
        "flagship_transcripts": q_flagship_transcripts,
        # corpus-assembly family — split/sample/truncate/pack/scrub
        "redact_pii_documents": q_redact_pii_documents,
        "split_assign_documents": q_split_assign_documents,
        "stratified_sample_documents": q_stratified_sample_documents,
        "pack_transcripts": q_pack_transcripts,
        "tail_turns_transcripts": q_tail_turns_transcripts,
        "contamination_documents": q_contamination_documents,
        "repetition_documents": q_repetition_documents,
        "mixture_resample_documents": q_mixture_resample_documents,
        "corpus_transcripts": q_corpus_transcripts,
        "surprisal_documents": q_surprisal_documents,
        "ngram_surprisal_documents": q_ngram_surprisal_documents,
        "substring_dup_documents": q_substring_dup_documents,
        "cross_dedup_documents": q_cross_dedup_documents,
        "cross_dedup_stored_documents": q_cross_dedup_stored_documents,
        "cross_embedding_dups": q_cross_embedding_dups,
        "excise_documents": q_excise_documents,
        "bm25_documents": q_bm25_documents,
        "semantic_dedup_embeddings": q_semantic_dedup_embeddings,
        "dsir_documents": q_dsir_documents,
        "bm25_indexed_documents": q_bm25_indexed_documents,
        "chunk_documents": q_chunk_documents,
        "bm25_plus_documents": q_bm25_plus_documents,
        "bm25_phrase_documents": q_bm25_phrase_documents,
        "ngram_model_stored_documents": q_ngram_model_stored_documents,
        "dsir_model_stored_documents": q_dsir_model_stored_documents,
        # ---- rotation tail (driver adjudicates the first 50 entries;
        # these veterans were driver-green for 3+ consecutive rounds and
        # stay registered + check_entry-covered; see VERDICT r6 item 1)
        "stats_bounds_events": q_stats_bounds_events,
        "range_join_purchase_windows": q_range_join_purchase_windows,
        "dedup_exact_props": q_dedup_exact_props,
        "token_stats_documents": q_token_stats_documents,
        "topk_embeddings_cosine": q_topk_embeddings_cosine,
        "lang_id_documents": q_lang_id_documents,
        "quality_documents": q_quality_documents,
        "text_signals_documents": q_text_signals_documents,
        "quality_score_documents": q_quality_score_documents,
        "dedup_exact_documents": q_dedup_exact_documents,
        "media_meta_documents": q_media_meta_documents,
        "multi_topk_embeddings": q_multi_topk_embeddings,
    }


_SW = {k: ", ".join(f"'{w}'" for w in v) for k, v in _DOC_LANGS.items()}

_EVENTS_VIOLATIONS_SQL = """
SELECT event_id, 'user_id' AS field, 67 AS code, 'max' AS rule
  FROM events WHERE user_id IS NOT NULL AND user_id > 120
UNION ALL
SELECT event_id, 'event_type', 68, 'allowed' FROM events
 WHERE event_type IS NOT NULL
   AND event_type NOT IN ('click','view','purchase','signup')
UNION ALL
SELECT event_id, 'value', 66, 'min' FROM events
 WHERE value IS NOT NULL AND value < 0.5
UNION ALL
SELECT event_id, 'value', 67, 'max' FROM events
 WHERE value IS NOT NULL AND value > 400.0
UNION ALL
SELECT event_id, 'props', 65, 'regex' FROM events
 WHERE props IS NOT NULL AND NOT regexp_matches(props, '^(?:\\{{"k": [0-9]{{2}}\\}}$)')
UNION ALL
SELECT event_id, 'user_id', 2, 'required' FROM events WHERE user_id IS NULL
UNION ALL
SELECT event_id, 'event_type', 2, 'required' FROM events WHERE event_type IS NULL
UNION ALL
SELECT event_id, 'ts', 2, 'required' FROM events WHERE ts IS NULL
UNION ALL
SELECT event_id, 'event_id', 66, 'min' FROM events
 WHERE event_id IS NOT NULL AND event_id < 0
UNION ALL
SELECT event_id, 'user_id', 66, 'min' FROM events
 WHERE user_id IS NOT NULL AND user_id < 0
""".format()

# DuckDB twin of the TURN_SCHEMA rule-set (sources/transcripts.py:176-187)
# over the committed fixture parquet — mirrors the compiled violation
# projection branch-for-branch (required=2, empty=34, regex=65, min=66,
# max=67, allowed=68, maxlength=40, dependencies=5; regex is anchored
# full-match like the engine's RLIKE '^(?:...$)' wrapping)
_TRANSCRIPTS_VIOLATIONS_SQL = f"""
WITH t AS (SELECT * FROM read_parquet('{_TRANSCRIPTS_FIXTURE}'))
SELECT conv_id, turn_idx, 'conv_id' AS field, 2 AS code, 'required' AS rule
  FROM t WHERE conv_id IS NULL
UNION ALL
SELECT conv_id, turn_idx, 'conv_id', 34, 'empty' FROM t
 WHERE conv_id IS NOT NULL AND length(conv_id) = 0
UNION ALL
SELECT conv_id, turn_idx, 'conv_id', 65, 'regex' FROM t
 WHERE conv_id IS NOT NULL AND length(conv_id) > 0
   AND NOT regexp_matches(conv_id, '^(?:c-[0-9a-f]{{12}}$)')
UNION ALL
SELECT conv_id, turn_idx, 'turn_idx', 2, 'required' FROM t WHERE turn_idx IS NULL
UNION ALL
SELECT conv_id, turn_idx, 'turn_idx', 66, 'min' FROM t
 WHERE turn_idx IS NOT NULL AND turn_idx < 0
UNION ALL
SELECT conv_id, turn_idx, 'turn_idx', 67, 'max' FROM t
 WHERE turn_idx IS NOT NULL AND turn_idx > 100000
UNION ALL
SELECT conv_id, turn_idx, 'role', 2, 'required' FROM t WHERE role IS NULL
UNION ALL
SELECT conv_id, turn_idx, 'role', 68, 'allowed' FROM t
 WHERE role IS NOT NULL AND role NOT IN ('system','user','assistant','tool')
UNION ALL
SELECT conv_id, turn_idx, 'text', 2, 'required' FROM t WHERE text IS NULL
UNION ALL
SELECT conv_id, turn_idx, 'text', 40, 'maxlength' FROM t
 WHERE text IS NOT NULL AND length(text) > 100000
UNION ALL
SELECT conv_id, turn_idx, 'tool', 5, 'dependencies' FROM t
 WHERE tool IS NOT NULL AND (role IS NULL OR role NOT IN ('assistant','tool'))
UNION ALL
SELECT conv_id, turn_idx, 'ts', 2, 'required' FROM t WHERE ts IS NULL
"""


# DuckDB twin of the sequence grammar (operators/sequence.py) over the
# same fixture: identical total order (ASC NULLS FIRST everywhere —
# DuckDB's default is NULLS LAST, Spark's asc() is NULLS FIRST) and
# identical three-valued-logic predicates, so NULL roles/ts behave the
# same on both engines by construction.
_SEQ_LAGGED_CTE = f"""
WITH o AS (
  SELECT conv_id, turn_idx, role, ts,
         lag(1) OVER w IS NOT NULL AS has_prev,
         lag(role) OVER w AS prev_role,
         lag(turn_idx) OVER w AS prev_idx,
         lag(ts) OVER w AS prev_ts
  FROM read_parquet('{_TRANSCRIPTS_FIXTURE}')
  WINDOW w AS (PARTITION BY conv_id
               ORDER BY turn_idx ASC NULLS FIRST, ts ASC NULLS FIRST,
                        role ASC NULLS FIRST, text ASC NULLS FIRST,
                        tool ASC NULLS FIRST))
"""

_SEQ_BAD_TRANSITION = """(
       (prev_role = 'system' AND role NOT IN ('user'))
    OR (prev_role = 'user' AND role NOT IN ('assistant','tool','system'))
    OR (prev_role = 'assistant' AND role NOT IN ('user','system'))
    OR (prev_role = 'tool' AND role NOT IN ('user','system')))"""

_SEQ_VIOLATIONS_SQL = f"""
{_SEQ_LAGGED_CTE}
SELECT conv_id, turn_idx, 'first_role' AS constraint, role AS value FROM o
 WHERE NOT has_prev AND role NOT IN ('system')
UNION ALL
SELECT conv_id, turn_idx, 'transition', prev_role || '->' || role FROM o
 WHERE has_prev AND {_SEQ_BAD_TRANSITION}
UNION ALL
SELECT conv_id, turn_idx, 'contiguous', CAST(turn_idx AS VARCHAR) FROM o
 WHERE CASE WHEN NOT has_prev THEN turn_idx != 0
            ELSE turn_idx != prev_idx + 1 END
UNION ALL
SELECT conv_id, turn_idx, 'monotone_ts', CAST(ts AS VARCHAR) FROM o
 WHERE has_prev AND ts < prev_ts
"""

# exact all-pairs conversation Jaccard over the planted-dup fixture —
# the conversation text is assembled with the SAME total order
# (turn_idx, ts, role, coalesce(text,'')) as conversation_text's
# struct sort, so the strings are byte-identical across engines
_CONV_NEAR_DUPS_SQL = """
WITH conv AS (
  SELECT conv_id, string_agg(coalesce(text,''), ' '
           ORDER BY turn_idx, ts, role, coalesce(text,'')) AS text
  FROM read_parquet('{fixture}') GROUP BY conv_id
), w AS (
  SELECT conv_id, {words} AS ws FROM conv
), sh AS (
  SELECT conv_id, {shingles} AS s FROM w WHERE len(ws) > 0
)
SELECT a.conv_id AS id_a, b.conv_id AS id_b,
       round(len(list_intersect(a.s, b.s))::DOUBLE
             / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6)
         AS jaccard
FROM sh a JOIN sh b ON a.conv_id < b.conv_id
WHERE len(list_intersect(a.s, b.s))::DOUBLE
      / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.42
"""

_SEQ_SUMMARY_SQL = f"""
{_SEQ_LAGGED_CTE}
SELECT conv_id,
       count(*) AS n_turns,
       count(*) FILTER (NOT has_prev AND role NOT IN ('system'))
         AS n_first_role,
       count(*) FILTER (has_prev AND {_SEQ_BAD_TRANSITION})
         AS n_transition,
       count(*) FILTER (CASE WHEN NOT has_prev THEN turn_idx != 0
                             ELSE turn_idx != prev_idx + 1 END)
         AS n_contiguous,
       count(*) FILTER (has_prev AND ts < prev_ts) AS n_monotone_ts,
       n_first_role + n_transition + n_contiguous + n_monotone_ts
         AS n_violations,
       CAST(n_violations = 0 AS INT) AS seq_ok
FROM o GROUP BY conv_id
"""


# ---------------------------------------------------------------------------
# corpus-assembly oracles.  The PII twin is GENERATED from the same
# PII_PATTERNS list the engine compiles (one CTE per stage), so the
# ordered-staged-counts spec cannot drift between engines; the hash
# bucket reuses the dedup family's md5 parity trick; packing replays
# the greedy scan as a recursive CTE (depth = max turns/conv = 248).
# ---------------------------------------------------------------------------

_PII_AUG_SQL = """
SELECT doc_id,
       coalesce(text, '') || CASE doc_id % 4
         WHEN 0 THEN ' contact user' || doc_id::VARCHAR
                     || '@example.com or (555) 867-5309'
         WHEN 1 THEN ' ssn 123-45-6789 card 4111 1111 1111 1111'
         WHEN 2 THEN ' from 192.168.0.' || (doc_id % 256)::VARCHAR
                     || ' call 415-555-0133'
         ELSE '' END AS t0
FROM documents
"""


def _pii_oracle_sql() -> str:
    from cerberus_spark.functions.pii import PII_PATTERNS

    ctes = [f"aug AS (SELECT doc_id, t0, "
            f"regexp_matches(t0, '[0-9@]') AS g "
            f"FROM ({_PII_AUG_SQL}))"]
    prev_tbl, prev_txt = "aug", "t0"
    for i, (_, pat, repl) in enumerate(PII_PATTERNS, 1):
        ctes.append(
            f"s{i} AS (SELECT * EXCLUDE ({prev_txt}), "
            f"regexp_replace({prev_txt}, '{pat}', '{repl}', 'g') AS t{i} "
            f"FROM {prev_tbl})"
        )
        prev_tbl, prev_txt = f"s{i}", f"t{i}"
    # counts = literal tag occurrences in the redacted output, gated on
    # the engine's [0-9@] short-circuit guard (the pii_counts spec —
    # see functions/pii.py: a row without digits/@ can match no
    # pattern and skips the chain, counting 0 even for pre-existing
    # literal tags)
    counts = ", ".join(
        f"(CASE WHEN g THEN "
        f"((length({prev_txt}) - length(replace({prev_txt}, '{repl}', '')))"
        f" / {len(repl)}) ELSE 0 END)::BIGINT AS n_{name}"
        for name, _, repl in PII_PATTERNS
    )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT doc_id, {counts}, {prev_txt} AS redacted FROM {prev_tbl}"
    )


def _bucket_sql(key_sql: str, seed: str, n_buckets: int = 10_000) -> str:
    """DuckDB twin of operators/pipeline.hash_bucket (chr(31) = the
    \\x1f key‖seed separator)."""
    return (f"('0x' || substr(md5({key_sql} || chr(31) || '{seed}'), 1, 8))"
            f"::BIGINT % {n_buckets}")


_SPLIT_ASSIGN_SQL = f"""
SELECT doc_id, CASE WHEN b < 8000 THEN 'train'
                    WHEN b < 9000 THEN 'val'
                    ELSE 'test' END AS split
FROM (SELECT doc_id, {_bucket_sql('doc_id::VARCHAR', 'r5')} AS b
      FROM documents)
"""

#: mixture_resample twin (T=2 → exponent 1/T-1 = -0.5 exactly): rate =
#: p^-0.5 normalized to max 1, keep iff md5 bucket < floor(rate·10⁴).
#: n/tot and w/mx are the same double ops in both engines; pow last-ulp
#: skew cannot flip a row unless rate·10⁴ sits within 1 ulp of an
#: integer (5 strata — checked green).
_MIXTURE_SQL = f"""
WITH c AS (SELECT lang, count(*) AS n FROM documents
           WHERE lang IS NOT NULL GROUP BY lang),
t AS (SELECT sum(n) AS tot FROM c),
r AS (SELECT lang, pow(n / tot, -0.5) AS w FROM c, t),
m AS (SELECT max(w) AS mx FROM r),
th AS (SELECT lang, w / mx AS mix_rate,
              floor(w / mx * 10000)::BIGINT AS thr FROM r, m)
SELECT d.doc_id, d.lang, th.mix_rate
FROM documents d JOIN th USING (lang)
WHERE {_bucket_sql("doc_id::VARCHAR", "mix")} < th.thr
"""

_STRATIFIED_SAMPLE_SQL = f"""
SELECT doc_id, lang
FROM (SELECT doc_id, lang, {_bucket_sql('doc_id::VARCHAR', 'strat')} AS bk
      FROM documents)
WHERE (lang = 'en' AND bk < 5000)
   OR (lang = 'de' AND bk < 4000)
   OR (lang = 'zh' AND bk < 2000)
"""

#: repetition-signals twin (functions/repetition.py spec verbatim):
#: every fraction is ONE integer/integer division, so the doubles are
#: bit-identical across engines.  aug replays the planted duplicate
#: head-lines; lines/words use the engine tokenization (ASCII \\s).
_REPETITION_SQL = """
WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 1
              THEN t || chr(10) || substr(t, 1, 40)
                     || chr(10) || substr(t, 1, 40)
              WHEN doc_id % 3 = 2
              THEN substr(t, 1, 40) || chr(10) || substr(t, 1, 40)
                     || chr(10) || t || chr(10) || t
              ELSE t END AS text
  FROM (SELECT doc_id, coalesce(text, '') AS t FROM documents)),
base AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(lower(text), chr(10)),
                     x -> regexp_replace(x, '^\\s+|\\s+$', '', 'g')),
                     x -> length(x) > 0) AS lines,
         list_filter(string_split_regex(
                     regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'),
                     '\\s+'), x -> length(x) > 0) AS ws
  FROM aug),
lc AS (SELECT doc_id, ln, count(*) AS cnt, length(ln) AS l
       FROM (SELECT doc_id, unnest(lines) AS ln FROM base)
       GROUP BY doc_id, ln),
lstats AS (SELECT doc_id,
                  sum(cnt) AS n_lines,
                  (sum(cnt) - count(*)) / sum(cnt) AS dup_line_frac,
                  CASE WHEN sum(cnt * l) > 0
                       THEN sum((cnt - 1) * l) / sum(cnt * l)
                       ELSE 0.0 END AS dup_line_char_frac
           FROM lc GROUP BY doc_id),
jl AS (SELECT doc_id, length(array_to_string(ws, ' ')) AS jlen,
              length(array_to_string(ws, '')) AS wchars
       FROM base),
g2c AS (SELECT doc_id, g, count(*) AS cnt
        FROM (SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS g
              FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i
                    FROM base))
        GROUP BY doc_id, g),
top2 AS (SELECT doc_id, cnt * length(g) AS num
         FROM (SELECT doc_id, g, cnt,
                      row_number() OVER (PARTITION BY doc_id
                          ORDER BY cnt DESC, g ASC) AS rk
               FROM g2c)
         WHERE rk = 1),
g5 AS (SELECT doc_id, i, array_to_string(ws[i:i + 4], ' ') AS g
       FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 3)) AS i
             FROM base)),
g5d AS (SELECT doc_id, g FROM g5 GROUP BY doc_id, g HAVING count(*) > 1),
cov AS (SELECT DISTINCT g5.doc_id, g5.i + o.u AS j
        FROM g5 JOIN g5d USING (doc_id, g)
        CROSS JOIN (SELECT unnest(range(0, 5)) AS u) o),
covn AS (SELECT c.doc_id, sum(length(b.ws[c.j])) AS num
         FROM cov c JOIN base b USING (doc_id) GROUP BY c.doc_id)
SELECT b.doc_id,
       coalesce(l.n_lines, 0)::BIGINT AS n_lines,
       coalesce(l.dup_line_frac, 0.0)::DOUBLE AS dup_line_frac,
       coalesce(l.dup_line_char_frac, 0.0)::DOUBLE AS dup_line_char_frac,
       (CASE WHEN t.num IS NOT NULL AND j.jlen > 0
             THEN t.num / j.jlen ELSE 0.0 END)::DOUBLE
           AS top2gram_char_frac,
       (CASE WHEN c.num IS NOT NULL AND j.wchars > 0
             THEN c.num / j.wchars ELSE 0.0 END)::DOUBLE
           AS dup5gram_char_frac
FROM base b
JOIN jl j USING (doc_id)
LEFT JOIN lstats l USING (doc_id)
LEFT JOIN top2 t USING (doc_id)
LEFT JOIN covn c USING (doc_id)
"""

#: the grammar checks' total order, descending (DESC NULLS LAST mirrors
#: Spark's desc_nulls_last) — tail_turns twin
_TAIL_TURNS_SQL = f"""
SELECT conv_id, rn_desc::INT AS rn_desc, turn_idx, role FROM (
  SELECT conv_id, turn_idx, role,
         row_number() OVER (PARTITION BY conv_id
             ORDER BY turn_idx DESC NULLS LAST, ts DESC NULLS LAST,
                      role DESC NULLS LAST, text DESC NULLS LAST,
                      tool DESC NULLS LAST) AS rn_desc
  FROM read_parquet('{_TRANSCRIPTS_FIXTURE}'))
WHERE rn_desc <= 8
"""

_PACK_SQL = f"""
WITH RECURSIVE t AS (
  SELECT conv_id, turn_idx,
         row_number() OVER (PARTITION BY conv_id
             ORDER BY turn_idx ASC NULLS FIRST, ts ASC NULLS FIRST,
                      role ASC NULLS FIRST, text ASC NULLS FIRST,
                      tool ASC NULLS FIRST)::INT AS rn,
         len(list_filter(string_split_regex(lower(coalesce(text, '')), '\\s+'),
                         x -> length(x) > 0))::BIGINT AS n_tok
  FROM read_parquet('{_TRANSCRIPTS_FIXTURE}')
), rec AS (
  SELECT conv_id, rn, turn_idx, n_tok, n_tok AS acc, 0 AS pack_id
  FROM t WHERE rn = 1
  UNION ALL
  SELECT t.conv_id, t.rn, t.turn_idx, t.n_tok,
         CASE WHEN r.acc > 0 AND r.acc + t.n_tok > 120
              THEN t.n_tok ELSE r.acc + t.n_tok END,
         CASE WHEN r.acc > 0 AND r.acc + t.n_tok > 120
              THEN r.pack_id + 1 ELSE r.pack_id END
  FROM rec r JOIN t ON t.conv_id = r.conv_id AND t.rn = r.rn + 1
)
SELECT conv_id, rn, turn_idx, n_tok, pack_id::INT AS pack_id FROM rec
"""


def _redact_sql_expr(col: str) -> str:
    """DuckDB twin of functions/pii.redact_pii: the staged replacement
    chain as ONE nested expression (DuckDB non-E strings keep
    backslashes literal, so the Java patterns embed verbatim — parity
    proven by the redact_pii_documents oracle)."""
    from cerberus_spark.functions.pii import PII_PATTERNS

    cur = f"coalesce({col}, '')"
    for _, pat, repl in PII_PATTERNS:
        cur = (f"regexp_replace({cur}, '{pat.replace(chr(39), chr(39)*2)}',"
               f" '{repl}', 'g')")
    return cur


def _corpus_oracle_sql() -> str:
    """The end-to-end corpus twin: rule gate ∘ grammar gate ∘ redact ∘
    split ∘ rn ∘ greedy pack, each stage the SAME SQL already pinned
    individually, composed in build_corpus's order (redaction BEFORE
    the rn total order — redacted text is a tiebreaker)."""
    return f"""
WITH RECURSIVE t AS (SELECT * FROM read_parquet('{_TRANSCRIPTS_FIXTURE}')),
ok AS (
  SELECT DISTINCT conv_id FROM t
  WHERE conv_id IS NOT NULL
    AND conv_id NOT IN (SELECT conv_id FROM ({_TRANSCRIPTS_VIOLATIONS_SQL}) v
                        WHERE conv_id IS NOT NULL)
    AND conv_id NOT IN (SELECT conv_id FROM ({_SEQ_VIOLATIONS_SQL}) s
                        WHERE conv_id IS NOT NULL)
),
red AS (
  SELECT conv_id, turn_idx, role, tool, ts,
         {_redact_sql_expr('text')} AS text
  FROM t JOIN ok USING (conv_id)
),
srn AS (
  SELECT conv_id, turn_idx, role, text,
         CASE WHEN b < 9000 THEN 'train'
              WHEN b < 9500 THEN 'val' ELSE 'test' END AS split,
         row_number() OVER (PARTITION BY conv_id
             ORDER BY turn_idx ASC NULLS FIRST, ts ASC NULLS FIRST,
                      role ASC NULLS FIRST, text ASC NULLS FIRST,
                      tool ASC NULLS FIRST)::INT AS rn,
         len(list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> length(x) > 0)) AS n_tok
  FROM (SELECT *, {_bucket_sql('conv_id', 'corp')} AS b FROM red)
),
rec AS (
  SELECT conv_id, rn, n_tok, n_tok AS acc, 0 AS pack_id
  FROM srn WHERE rn = 1
  UNION ALL
  SELECT s.conv_id, s.rn, s.n_tok,
         CASE WHEN r.acc > 0 AND r.acc + s.n_tok > 64
              THEN s.n_tok ELSE r.acc + s.n_tok END,
         CASE WHEN r.acc > 0 AND r.acc + s.n_tok > 64
              THEN r.pack_id + 1 ELSE r.pack_id END
  FROM rec r JOIN srn s ON s.conv_id = r.conv_id AND s.rn = r.rn + 1
)
SELECT s.conv_id, s.rn, s.turn_idx, s.role, s.text, s.split,
       s.n_tok::BIGINT AS n_tok, r.pack_id::INT AS pack_id
FROM srn s JOIN rec r USING (conv_id, rn)
"""


# ---------------------------------------------------------------------------
# exact all-pairs oracle SQL for the dedup/ANN family.  Each recomputes
# ground truth INDEPENDENTLY in DuckDB: tokenization/shingling mirrors
# functions.text.words / dedup.shingles, the SimHash signature follows the
# shared md5 bit-tally spec (dedup.simhash_signatures' docstring), and the
# pair predicates are brute-force over all O(n²) pairs — feasible at the
# 500-doc oracle scale, which is exactly why the distributed LSH/banding
# paths exist for the 100 TB scale.
# ---------------------------------------------------------------------------

_DUCK_WORDS = ("list_filter(string_split_regex(lower(trim(coalesce(text, ''))), "
               "'\\s+'), x -> length(x) > 0)")

#: unigram-surprisal twin (functions/surprisal.py spec): add-1 unigram
#: log-probs quantized to integer micro-nats (floor(ln·1e6)), so the
#: per-doc sums are exact BIGINT arithmetic in both engines; the only
#: doubles are the smoothed ratio, one ln, and two final divisions.
_SURPRISAL_SQL = f"""
WITH w AS (SELECT doc_id, {{words}} AS ws FROM documents),
tok AS (SELECT doc_id, unnest(ws) AS tok FROM w),
c AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
st AS (SELECT sum(c) AS total, count(*) AS v FROM c),
model AS (SELECT tok,
                 floor(ln((c + 1.0) / (total + 1.0 * v)) * 1000000.0)::BIGINT
                   AS lp
          FROM c, st),
dt AS (SELECT doc_id, tok, count(*) AS n FROM tok GROUP BY doc_id, tok),
sc AS (SELECT doc_id, sum(lp * n) AS sq, sum(n) AS n_tok
       FROM dt JOIN model USING (tok) GROUP BY doc_id)
SELECT w.doc_id, coalesce(sc.n_tok, 0)::BIGINT AS n_tok,
       coalesce((-sc.sq) / sc.n_tok / 1000000.0, 0.0)::DOUBLE AS surprisal
FROM w LEFT JOIN sc USING (doc_id)
"""

#: trigram stupid-backoff twin (functions/surprisal.py
#: ngram_surprisal_report spec, shared verbatim): position tuples
#: (w, p1, p2) via 1-indexed list subscripts; count tables c1/c2/c3
#: from the same positions (self-scoring); backoff chain
#: tri = seen ? ln(c3/c2ctx) : ln(0.4)+big, big = seen ? ln(c2/c1p1)
#: : ln(0.4)+uni, uni = add-1 smoothing; head positions score at the
#: highest order their left context allows.  ln(0.4) is pinned to the
#: Python double repr(math.log(0.4)) so both engines add the
#: bit-identical constant; quantization floor(lp·1e6) makes per-doc
#: sums exact BIGINT arithmetic, partitioning/engine invariant.
_NGRAM_SURPRISAL_SQL = f"""
WITH w AS (SELECT doc_id, {{words}} AS ws FROM documents),
pos AS (SELECT doc_id,
               ws[i] AS w,
               CASE WHEN i >= 2 THEN ws[i - 1] END AS p1,
               CASE WHEN i >= 3 THEN ws[i - 2] END AS p2
        FROM w, unnest(range(1, len(ws) + 1)) AS t(i)),
dpos AS (SELECT doc_id, w, p1, p2, count(*) AS n
         FROM pos GROUP BY doc_id, w, p1, p2),
c1 AS (SELECT w, count(*) AS c FROM pos GROUP BY w),
c2 AS (SELECT p1, w, count(*) AS c FROM pos
       WHERE p1 IS NOT NULL GROUP BY p1, w),
c3 AS (SELECT p2, p1, w, count(*) AS c FROM pos
       WHERE p2 IS NOT NULL GROUP BY p2, p1, w),
st AS (SELECT sum(c) AS total, count(*) AS v FROM c1),
j AS (SELECT d.doc_id, d.n, d.p1, d.p2, u.c AS c1w, up.c AS c1p1,
             b.c AS c2wp, ctx.c AS c2ctx, t3.c AS c3w
      FROM dpos d
      LEFT JOIN c1 u ON u.w = d.w
      LEFT JOIN c1 up ON up.w = d.p1
      LEFT JOIN c2 b ON b.p1 = d.p1 AND b.w = d.w
      LEFT JOIN c2 ctx ON ctx.p1 = d.p2 AND ctx.w = d.p1
      LEFT JOIN c3 t3 ON t3.p2 = d.p2 AND t3.p1 = d.p1 AND t3.w = d.w),
lp AS (SELECT doc_id, n,
              CASE WHEN p1 IS NULL THEN uni
                   WHEN p2 IS NULL THEN big
                   ELSE CASE WHEN c3w IS NOT NULL THEN ln(c3w / c2ctx)
                             ELSE {{lnlam}} + big END
              END AS lp
       FROM (SELECT *,
                    CASE WHEN c2wp IS NOT NULL THEN ln(c2wp / c1p1)
                         ELSE {{lnlam}} + uni END AS big
             FROM (SELECT j.*,
                          ln((coalesce(c1w, 0) + 1.0)
                             / (st.total + 1.0 * st.v)) AS uni
                   FROM j, st))),
sc AS (SELECT doc_id, sum(floor(lp * 1000000.0)::BIGINT * n) AS sq,
              sum(n) AS n_tok
       FROM lp GROUP BY doc_id)
SELECT w.doc_id, coalesce(sc.n_tok, 0)::BIGINT AS n_tok,
       coalesce((-sc.sq) / sc.n_tok / 1000000.0, 0.0)::DOUBLE AS surprisal
FROM w LEFT JOIN sc USING (doc_id)
"""

#: exact-substring twin (functions/winnow.py spec): sharing a verbatim
#: token run of length ≥ L is equivalent to sharing an L-token-gram,
#: so ground truth is the plain DISTINCT L-gram self-join; n_shared =
#: |distinct shared L-grams| (lg is DISTINCT per doc, so count(*)
#: after the equi-join IS the intersection size)
_SUBSTRING_DUP_SQL = f"""
WITH w AS (SELECT doc_id, {{words}} AS ws FROM documents),
lg AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i + 11], ' ') AS g
       FROM w, unnest(range(1, len(ws) - 12 + 2)) AS t(i))
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       count(*)::BIGINT AS n_shared
FROM lg a JOIN lg b ON a.g = b.g AND a.doc_id < b.doc_id
GROUP BY 1, 2
"""

#: excision twin: positions of matched lowercase 3-grams expand to
#: covered word indexes (distinct — overlaps counted once); the clean
#: text re-joins the UNCOVERED original-case words in order
_EXCISE_SQL = f"""
WITH b AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(
             regexp_replace(coalesce(text, ''), '^\\s+|\\s+$', '', 'g'),
             '\\s+'), x -> length(x) > 0) AS ws
  FROM documents WHERE doc_id % 50 <> 0),
bw AS (SELECT doc_id, ws, list_transform(ws, x -> lower(x)) AS wl FROM b),
bgr AS (SELECT DISTINCT unnest(grams) AS gg FROM (
  SELECT CASE WHEN len(ws) >= 3
              THEN list_distinct(list_transform(range(1, len(ws) - 1),
                   i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]))
              ELSE [] END AS grams
  FROM (SELECT {_DUCK_WORDS} AS ws FROM documents WHERE doc_id % 50 = 0))),
pos AS (SELECT doc_id, i,
               wl[i] || ' ' || wl[i + 1] || ' ' || wl[i + 2] AS g
        FROM (SELECT doc_id, wl, unnest(range(1, len(wl) - 1)) AS i
              FROM bw)),
m AS (SELECT doc_id, i FROM pos JOIN bgr ON pos.g = bgr.gg),
cov AS (SELECT DISTINCT m.doc_id, m.i + o.u AS j
        FROM m CROSS JOIN (SELECT unnest(range(0, 3)) AS u) o),
wrd AS (SELECT doc_id, j, ws[j] AS w
        FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS j
              FROM bw)),
kept AS (SELECT w.doc_id, string_agg(w.w, ' ' ORDER BY w.j) AS clean
         FROM wrd w LEFT JOIN cov c
           ON c.doc_id = w.doc_id AND c.j = w.j
         WHERE c.j IS NULL GROUP BY w.doc_id),
nrm AS (SELECT doc_id, count(*) AS n_removed FROM cov GROUP BY doc_id)
SELECT b.doc_id,
       CASE WHEN b.text IS NULL THEN NULL
            ELSE coalesce(k.clean, '') END AS text_clean,
       coalesce(n.n_removed, 0)::INT AS n_removed
FROM b LEFT JOIN kept k USING (doc_id) LEFT JOIN nrm n USING (doc_id)
"""

#: decontamination twin: strict word 3-grams (no short-text fallback —
#: unlike _DUCK_SHINGLES, a doc under 3 words has NO gram), distinct
#: per side, matched per corpus doc.  The Spark side joins on xxhash64
#: of the gram; string equality here is the collision-free ideal it
#: approximates (documented 64-bit birthday trade, decontam.py header).
_CONTAMINATION_SQL = f"""
WITH w AS (SELECT doc_id, {_DUCK_WORDS} AS ws FROM documents),
g AS (SELECT doc_id,
             CASE WHEN len(ws) >= 3
                  THEN list_distinct(list_transform(range(1, len(ws) - 1),
                       i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]))
                  ELSE [] END AS grams
      FROM w),
bench AS (SELECT DISTINCT unnest(grams) AS gg FROM g WHERE doc_id % 50 = 0),
dg AS (SELECT doc_id, unnest(grams) AS gg FROM g WHERE doc_id % 50 <> 0),
m AS (SELECT doc_id, count(*) AS n_matched
      FROM dg JOIN bench USING (gg) GROUP BY doc_id)
SELECT g.doc_id, len(g.grams)::BIGINT AS n_ngrams,
       coalesce(m.n_matched, 0)::BIGINT AS n_matched,
       coalesce(m.n_matched, 0) >= 1 AS contaminated
FROM g LEFT JOIN m USING (doc_id)
WHERE g.doc_id % 50 <> 0
"""

_DUCK_SHINGLES = """
CASE WHEN len(ws) >= 3
     THEN list_distinct(list_transform(range(len(ws) - 2),
                        i -> ws[i + 1] || ' ' || ws[i + 2] || ' ' || ws[i + 3]))
     ELSE [array_to_string(ws, ' ')] END
"""


def _simhash_pairs_sql(max_hamming: int) -> str:
    """Exact all-pairs SimHash Hamming ≤ h.  The 64-bit signature is
    computed as two 32-bit halves (slo = tally bits 0..31 of the hi md5
    chunk, shi = bits 32..63 of the lo chunk) so no shift ever touches
    the BIGINT sign bit; hamming = bit_count(xor) summed over halves."""
    sums = ",\n           ".join(
        f"sum(2 * (({'hi' if b < 32 else 'lo'} >> {b if b < 32 else b - 32}) & 1) - 1) AS t{b}"
        for b in range(64)
    )
    sig_lo = " + ".join(f"((t{b} > 0)::BIGINT << {b})" for b in range(32))
    sig_hi = " + ".join(f"((t{b} > 0)::BIGINT << {b - 32})" for b in range(32, 64))
    return f"""
WITH toks AS (
    SELECT doc_id, unnest({_DUCK_WORDS}) AS w FROM documents
), h AS (
    SELECT doc_id,
           ('0x' || substr(md5(w), 1, 8))::BIGINT AS hi,
           ('0x' || substr(md5(w), 9, 8))::BIGINT AS lo
    FROM toks
), t AS (
    SELECT doc_id, {sums} FROM h GROUP BY doc_id
), sig AS (
    SELECT d.doc_id,
           coalesce(({sig_lo}), 0) AS slo,
           coalesce(({sig_hi}), 0) AS shi
    -- INNER join = the shared empty-text policy: docs with no tokens
    -- have no tally row and never enter the pair graph
    FROM documents d JOIN t ON d.doc_id = t.doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       (bit_count(xor(a.slo, b.slo)) + bit_count(xor(a.shi, b.shi)))::INT AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.slo, b.slo)) + bit_count(xor(a.shi, b.shi)) <= {max_hamming}
"""


def _minhash_pairs_sql(threshold: float) -> str:
    return f"""
WITH w AS (
    SELECT doc_id, {_DUCK_WORDS} AS ws FROM documents
), sh AS (
    -- empty-text policy (shared with dedup.ngram_jaccard_pairs): rows
    -- with no tokens never enter the pair graph
    SELECT doc_id, {_DUCK_SHINGLES} AS s FROM w WHERE len(ws) > 0
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(len(list_intersect(a.s, b.s))::DOUBLE
             / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.s, b.s))::DOUBLE
      / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= {threshold}
"""


#: cross-corpus twin: EXACT bipartite shingle Jaccard, ref = doc_id%10
#: in {0,1,2}, new = the rest — ground truth for the banded cross-LSH
#: path (a hash match certifies bipartite candidate recall 1 on the
#: fixture AND bit-exact verification)
_CROSS_DEDUP_SQL = f"""
WITH w AS (
    SELECT doc_id, {{words}} AS ws FROM documents
), sh AS (
    SELECT doc_id, {{shingles}} AS s FROM w WHERE len(ws) > 0
)
SELECT n.doc_id AS id_new, r.doc_id AS id_ref,
       round(len(list_intersect(n.s, r.s))::DOUBLE
             / (len(n.s) + len(r.s) - len(list_intersect(n.s, r.s))), 6)
         AS jaccard
FROM sh n JOIN sh r ON n.doc_id % 10 >= 3 AND r.doc_id % 10 < 3
WHERE len(list_intersect(n.s, r.s))::DOUBLE
      / (len(n.s) + len(r.s) - len(list_intersect(n.s, r.s))) >= 0.6
"""


# recursive-CTE connected components over the exact pair graph: min
# reachable id per node; rows whose component root is another id drop
_NEAR_DEDUP_SQL = f"""
WITH RECURSIVE pairs AS ({_minhash_pairs_sql(0.6)}),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION
    SELECT id_b, id_a FROM pairs
),
reach(node, r) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.node
),
comp AS (SELECT node, min(r) AS comp FROM reach GROUP BY node)
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT node FROM comp WHERE node <> comp)
"""


_EMBEDDING_PAIRS_SQL = """
WITH base AS (
    SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), planted AS (
    SELECT vec_id + 1000000 AS vec_id,
           list_transform(range(len(e)), i -> e[i + 1] + 0.05 * e[len(e) - i]) AS e
    FROM base WHERE vec_id < 10
), allv AS (
    SELECT * FROM base UNION ALL SELECT * FROM planted
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.e, b.e), 4) AS cosine
FROM allv a JOIN allv b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.e, b.e) >= 0.95
"""

#: cross-corpus embedding twin: ref = the embeddings table, new = the
#: derived near-copies of vec_id<10 — EXACT all-bipartite-pairs cosine
_CROSS_EMBEDDING_SQL = """
WITH base AS (
    SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), newv AS (
    SELECT vec_id + 1000000 AS vec_id,
           list_transform(range(len(e)), i -> e[i + 1] + 0.05 * e[len(e) - i]) AS e
    FROM base WHERE vec_id < 10
)
SELECT n.vec_id AS id_new, r.vec_id AS id_ref,
       round(list_cosine_similarity(n.e, r.e), 4) AS cosine
FROM newv n JOIN base r ON true
WHERE list_cosine_similarity(n.e, r.e) >= 0.95
"""

_LSH_TOPK_PLANTED_SQL = """
WITH base AS (
    SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), planted AS (
    SELECT 2000000 + i AS vec_id,
           list_transform(range(len(e)), j -> e[j + 1] + 0.01 * i * e[len(e) - j]) AS e
    FROM base, range(1, 21) t(i) WHERE vec_id = 0
), allv AS (
    SELECT * FROM base UNION ALL SELECT * FROM planted
), q AS (SELECT e FROM allv WHERE vec_id = 0)
SELECT a.vec_id, round(list_cosine_similarity(a.e, (SELECT e FROM q)), 4) AS score
FROM allv a
ORDER BY list_cosine_similarity(a.e, (SELECT e FROM q)) DESC, a.vec_id
LIMIT 10
"""


#: BM25 twin (functions/ranking.py spec): the SAME expression tree as
#: the Spark operator — Lucene idf ln(1+(N-df+0.5)/(df+0.5)), k1=1.2
#: b=0.75, terms summed left-to-right in caller order — so the doubles
#: agree bit-for-bit before the round(4).
_BM25_SQL = """
WITH t AS (SELECT doc_id, {words} AS ws FROM documents),
s AS (SELECT count(*)::DOUBLE AS n, avg(len(ws)) AS avgdl,
             sum((len(list_filter(ws, x -> x = 'vector')) > 0)::BIGINT)::DOUBLE AS df0,
             sum((len(list_filter(ws, x -> x = 'hash')) > 0)::BIGINT)::DOUBLE AS df1,
             sum((len(list_filter(ws, x -> x = 'spark')) > 0)::BIGINT)::DOUBLE AS df2
      FROM t),
tf AS (SELECT doc_id, len(ws) AS dl,
              len(list_filter(ws, x -> x = 'vector'))::DOUBLE AS tf0,
              len(list_filter(ws, x -> x = 'hash'))::DOUBLE AS tf1,
              len(list_filter(ws, x -> x = 'spark'))::DOUBLE AS tf2
       FROM t),
sc AS (SELECT doc_id, tf0 + tf1 + tf2 AS hits,
              0.0 + ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5))
                    * (tf0 * 2.2 / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl)))
                  + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5))
                    * (tf1 * 2.2 / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl)))
                  + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5))
                    * (tf2 * 2.2 / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl)))
              AS score
       FROM tf, s)
SELECT doc_id, round(score, 4) AS score FROM sc WHERE hits > 0
ORDER BY score DESC, doc_id LIMIT 10
"""

#: BM25+ twin — the same expression tree with each MATCHING term's
#: saturation lower-bounded by + 1.0 (delta), non-matching terms
#: still contribute exactly 0 (ranking.py bm25_scores delta spec)
_BM25_PLUS_SQL = """
WITH t AS (SELECT doc_id, {words} AS ws FROM documents),
s AS (SELECT count(*)::DOUBLE AS n, avg(len(ws)) AS avgdl,
             sum((len(list_filter(ws, x -> x = 'vector')) > 0)::BIGINT)::DOUBLE AS df0,
             sum((len(list_filter(ws, x -> x = 'hash')) > 0)::BIGINT)::DOUBLE AS df1,
             sum((len(list_filter(ws, x -> x = 'spark')) > 0)::BIGINT)::DOUBLE AS df2
      FROM t),
tf AS (SELECT doc_id, len(ws) AS dl,
              len(list_filter(ws, x -> x = 'vector'))::DOUBLE AS tf0,
              len(list_filter(ws, x -> x = 'hash'))::DOUBLE AS tf1,
              len(list_filter(ws, x -> x = 'spark'))::DOUBLE AS tf2
       FROM t),
sc AS (SELECT doc_id, tf0 + tf1 + tf2 AS hits,
              0.0 + CASE WHEN tf0 > 0 THEN
                      ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5))
                      * (tf0 * 2.2 / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl)) + 1.0)
                    ELSE 0.0 END
                  + CASE WHEN tf1 > 0 THEN
                      ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5))
                      * (tf1 * 2.2 / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl)) + 1.0)
                    ELSE 0.0 END
                  + CASE WHEN tf2 > 0 THEN
                      ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5))
                      * (tf2 * 2.2 / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl)) + 1.0)
                    ELSE 0.0 END
              AS score
       FROM tf, s)
SELECT doc_id, round(score, 4) AS score FROM sc WHERE hits > 0
ORDER BY score DESC, doc_id LIMIT 10
"""

#: phrase twin — docs whose token list contains the ADJACENT sequence
#: ('fast', 'table'), scored by the standard per-term BM25 sum over the
#: two terms; adjacency via a range/list predicate on the identical
#: tokenization (range(n) is 0-based, DuckDB lists 1-based)
_BM25_PHRASE_SQL = """
WITH t AS (SELECT doc_id, {words} AS ws FROM documents),
s AS (SELECT count(*)::DOUBLE AS n, avg(len(ws)) AS avgdl,
             sum((len(list_filter(ws, x -> x = 'fast')) > 0)::BIGINT)::DOUBLE AS df0,
             sum((len(list_filter(ws, x -> x = 'table')) > 0)::BIGINT)::DOUBLE AS df1
      FROM t),
tf AS (SELECT doc_id, len(ws) AS dl,
              len(list_filter(ws, x -> x = 'fast'))::DOUBLE AS tf0,
              len(list_filter(ws, x -> x = 'table'))::DOUBLE AS tf1,
              len(list_filter(range(greatest(len(ws) - 1, 0)),
                  i -> ws[i + 1] = 'fast' AND ws[i + 2] = 'table')) > 0
              AS has_phrase
       FROM t),
sc AS (SELECT doc_id, has_phrase,
              0.0 + ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5))
                    * (tf0 * 2.2 / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl)))
                  + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5))
                    * (tf1 * 2.2 / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl)))
              AS score
       FROM tf, s)
SELECT doc_id, round(score, 4) AS score FROM sc WHERE has_phrase
ORDER BY score DESC, doc_id LIMIT 10
"""

#: semantic-dedup twin (functions/dedup.py semantic_dedup spec): same
#: planted corpus as the LSH/IVF oracles, anchors = vec_id<8, nearest
#: anchor by L2 (ties -> lowest cell, matching np.argmin), drop rule =
#: EXISTS lower-id same-cell neighbor with cosine >= 0.95.
_SEMANTIC_DEDUP_SQL = """
WITH base AS (
    SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), planted AS (
    SELECT 2000000 + i AS vec_id,
           list_transform(range(len(e)), j -> e[j + 1] + 0.01 * i * e[len(e) - j]) AS e
    FROM base, range(1, 21) t(i) WHERE vec_id = 0
), allv AS (
    SELECT * FROM base UNION ALL SELECT * FROM planted
), anchors AS (
    SELECT vec_id::INT AS cell, e FROM base WHERE vec_id < 8
), assign AS (
    SELECT vec_id, cell FROM (
        SELECT v.vec_id, a.cell,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY list_distance(v.e, a.e), a.cell) AS rn
        FROM allv v CROSS JOIN anchors a) WHERE rn = 1
), drops AS (
    SELECT DISTINCT b.vec_id
    FROM allv a JOIN assign sa ON a.vec_id = sa.vec_id
         JOIN allv b ON a.vec_id < b.vec_id
         JOIN assign sb ON b.vec_id = sb.vec_id AND sa.cell = sb.cell
    WHERE list_cosine_similarity(a.e, b.e) >= 0.95
)
SELECT v.vec_id, s.cell, (d.vec_id IS NULL) AS kept
FROM allv v JOIN assign s ON v.vec_id = s.vec_id
LEFT JOIN drops d ON v.vec_id = d.vec_id
"""


#: DSIR twin (functions/dsir.py spec, target = lang='de', raw = the
#: whole table): md5 feature buckets, add-1 quantized micro-nat
#: log-probs (floor(ln·1e6) BIGINTs — exact dot products both
#: engines), hash-derandomized Gumbel top-25.  range(len-1) is empty
#: for 0/1-token docs, so bigrams need no CASE; docs with no tokens
#: stay in the pool at weight 0 via the LEFT JOIN.
_DSIR_SQL = """
WITH w AS (SELECT doc_id, lang, {words} AS ws FROM documents),
f AS (SELECT doc_id, lang,
             unnest(list_concat(ws,
                 list_transform(range(len(ws) - 1),
                                i -> ws[i + 1] || ' ' || ws[i + 2])))
               AS feat
      FROM w),
fb AS (SELECT doc_id, lang,
              ('0x' || substr(md5(feat || chr(31) || 'dsir'), 1, 8))
                ::BIGINT % 10000 AS b
       FROM f),
dc AS (SELECT doc_id, b, count(*) AS n FROM fb GROUP BY doc_id, b),
rc AS (SELECT b, sum(n) AS c FROM dc GROUP BY b),
rt AS (SELECT sum(c) AS tot FROM rc),
tc AS (SELECT b, count(*) AS c FROM fb WHERE lang = 'de' GROUP BY b),
tt AS (SELECT sum(c) AS tot FROM tc),
ratio AS (SELECT rc.b,
            floor(ln((coalesce(tc.c, 0) + 1.0) / (tt.tot + 1.0 * 10000))
                  * 1000000.0)::BIGINT
          - floor(ln((rc.c + 1.0) / (rt.tot + 1.0 * 10000))
                  * 1000000.0)::BIGINT AS lr
          FROM rc LEFT JOIN tc USING (b), tt, rt),
lw AS (SELECT dc.doc_id, sum(dc.n * ratio.lr) AS logw_q6
       FROM dc JOIN ratio USING (b) GROUP BY dc.doc_id),
keyed AS (SELECT d.doc_id, coalesce(lw.logw_q6, 0) AS logw_q6,
                 coalesce(lw.logw_q6, 0) / 1000000.0
                 + -ln(-ln(((('0x' || substr(md5(d.doc_id::VARCHAR
                                             || chr(31) || 'g'), 1, 8))
                             ::BIGINT % 1000000) + 0.5) / 1000000.0))
                   AS key
          FROM documents d LEFT JOIN lw USING (doc_id))
SELECT doc_id, logw_q6 / 1000000.0 AS logw
FROM keyed ORDER BY key DESC, doc_id LIMIT 25
"""


#: chunk twin (operators/pipeline.chunk_documents spec): stride 24,
#: chunk 32; DuckDB list_slice is 1-based inclusive-stop like Spark's
#: slice(start, length) over the same bounds; range() is empty for
#: token-less docs, so they emit no chunks in both engines.
_CHUNK_SQL = """
WITH w AS (SELECT doc_id, {words} AS ws FROM documents),
c AS (SELECT doc_id, ws,
             unnest(range(CAST(ceil(len(ws) / 24.0) AS INT)))::INT
               AS chunk_idx
      FROM w WHERE len(ws) > 0)
SELECT doc_id, chunk_idx,
       len(list_slice(ws, chunk_idx * 24 + 1, chunk_idx * 24 + 32))::INT
         AS n_tok,
       array_to_string(list_slice(ws, chunk_idx * 24 + 1,
                                  chunk_idx * 24 + 32), ' ')
         AS chunk_text
FROM c
"""


def oracle_sql() -> dict[str, str]:
    return {
        "validate_events_violations": _EVENTS_VIOLATIONS_SQL,
        "validate_events_summary": (
            "SELECT field, rule, code, count(*) AS n FROM ("
            + _EVENTS_VIOLATIONS_SQL
            + ") GROUP BY field, rule, code"
        ),
        "uniqueness_lineitem": """
            SELECT l_orderkey, l_linenumber, count(*) AS n
            FROM lineitem GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1
        """,
        "referential_orphans_orders": """
            SELECT o_orderkey, o_custkey, 258 AS code FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        """,
        "stats_profile_lineitem": """
            SELECT 'l_quantity' AS col_name,
                   avg(CASE WHEN l_quantity IS NULL THEN 1.0 ELSE 0.0 END)::DOUBLE AS null_rate,
                   count(DISTINCT l_quantity) AS n_distinct,
                   min(l_quantity)::DOUBLE AS min_v, max(l_quantity)::DOUBLE AS max_v FROM lineitem
            UNION ALL
            SELECT 'l_extendedprice',
                   avg(CASE WHEN l_extendedprice IS NULL THEN 1.0 ELSE 0.0 END)::DOUBLE,
                   count(DISTINCT l_extendedprice),
                   min(l_extendedprice)::DOUBLE, max(l_extendedprice)::DOUBLE FROM lineitem
            UNION ALL
            SELECT 'l_discount',
                   avg(CASE WHEN l_discount IS NULL THEN 1.0 ELSE 0.0 END)::DOUBLE,
                   count(DISTINCT l_discount),
                   min(l_discount)::DOUBLE, max(l_discount)::DOUBLE FROM lineitem
        """,
        "ordering_events": """
            SELECT user_id, count(*) AS n FROM (
                SELECT user_id, ts,
                       lag(ts) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_ts
                FROM events
            ) WHERE prev_ts IS NOT NULL AND ts < prev_ts
            GROUP BY user_id
        """,
        "drift_event_type_profile": """
            WITH mid AS (SELECT max(event_id) // 2 AS m FROM events),
            counts AS (
                SELECT event_type,
                       sum(CASE WHEN event_id <= (SELECT m FROM mid) THEN 1 ELSE 0 END) AS n_first,
                       sum(CASE WHEN event_id > (SELECT m FROM mid) THEN 1 ELSE 0 END) AS n_second
                FROM events GROUP BY event_type
            ), totals AS (SELECT sum(n_first) AS t1, sum(n_second) AS t2 FROM counts)
            SELECT event_type,
                   n_first / (SELECT t1 FROM totals) AS p,
                   n_second / (SELECT t2 FROM totals) AS q
            FROM counts
        """,
        "dedup_exact_props": """
            SELECT min(event_id) AS keep_id, count(*) AS n
            FROM events
            GROUP BY trim(regexp_replace(lower(coalesce(props, '')), '\\s+', ' ', 'g'))
            HAVING count(*) > 1
        """,
        "lang_id_documents": f"""
            WITH w AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(coalesce(text, '')), '\\s+'),
                                   x -> length(x) > 0) AS ws
                FROM documents
            ), s AS (
                SELECT doc_id,
                       len(list_filter(ws, x -> list_contains([{_SW['en']}], x))) AS en,
                       len(list_filter(ws, x -> list_contains([{_SW['de']}], x))) AS de,
                       len(list_filter(ws, x -> list_contains([{_SW['fr']}], x))) AS fr
                FROM w
            )
            SELECT CASE WHEN fr > de AND fr > en AND fr > 0 THEN 'fr'
                        WHEN de > en AND de > 0 THEN 'de'
                        WHEN en > 0 THEN 'en'
                        ELSE 'und' END AS lang_pred,
                   count(*) AS n
            FROM s GROUP BY 1
        """,
        "token_stats_documents": """
            SELECT doc_id,
                   len(list_filter(string_split_regex(lower(coalesce(text, '')), '\\s+'),
                                   x -> length(x) > 0))::BIGINT AS n_tok,
                   len(regexp_extract_all(coalesce(text, ''),
                                          '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))::BIGINT AS n_bpe
            FROM documents
        """,
        "quality_score_documents": f"""
            WITH base AS (
                SELECT doc_id, coalesce(text, '') AS t,
                       list_filter(string_split_regex(lower(trim(coalesce(text, ''))), '\\s+'),
                                   x -> length(x) > 0) AS ws
                FROM documents
            ), sig AS (
                SELECT doc_id,
                       len(ws) AS n_tok,
                       CASE WHEN length(t) > 0
                            THEN length(regexp_replace(t, '[^a-zA-Z]', '', 'g'))::DOUBLE / length(t)
                            ELSE 0.0 END AS alpha,
                       CASE WHEN len(ws) > 0
                            THEN len(list_filter(ws, x -> list_contains([{_SW['en']}], x)))::DOUBLE / len(ws)
                            ELSE 0.0 END AS sw,
                       CASE WHEN len(ws) > 0
                            THEN list_sum(list_transform(ws, x -> length(x)))::DOUBLE / len(ws)
                            ELSE 0.0 END AS mwl,
                       CASE WHEN length(t) > 0
                            THEN length(regexp_replace(t, '[^!-/:-@\\[-`{{-~]', '', 'g'))::DOUBLE / length(t)
                            ELSE 0.0 END AS punct
                FROM base
            )
            SELECT doc_id,
                   round(
                     (CASE WHEN n_tok BETWEEN 5 AND 5000 THEN 1.0 ELSE 0.3 END) * 0.25
                     + least(alpha * 1.25, 1.0) * 0.25
                     + least(sw * 4, 1.0) * 0.25
                     + (CASE WHEN mwl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.3 END) * 0.15
                     + (1.0 - least(punct * 4, 1.0)) * 0.10, 6) AS q
            FROM sig
        """,
        "quality_documents": """
            SELECT doc_id,
                   len(list_filter(string_split_regex(lower(coalesce(text, '')), '\\s+'),
                                   x -> length(x) > 0))::BIGINT AS n_tok,
                   round(CASE WHEN length(coalesce(text, '')) > 0
                              THEN length(regexp_replace(coalesce(text, ''), '[^a-zA-Z]', '', 'g'))
                                   / length(coalesce(text, ''))
                              ELSE 0.0 END, 6) AS alpha_ratio,
                   round(CASE WHEN length(coalesce(text, '')) > 0
                              THEN length(regexp_replace(coalesce(text, ''), '[^!-/:-@\\[-`{-~]', '', 'g'))
                                   / length(coalesce(text, ''))
                              ELSE 0.0 END, 6) AS punct_ratio
            FROM documents
        """,
        "text_signals_documents": f"""
            WITH w AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(coalesce(text, '')), '\\s+'),
                                   x -> length(x) > 0) AS ws
                FROM documents
            )
            SELECT doc_id,
                   len(list_filter(ws, x -> list_contains([{_SW['en']}], x)))::BIGINT AS sw_hits,
                   round(CASE WHEN len(ws) > 0
                              THEN list_sum(list_transform(ws, x -> length(x)))::DOUBLE / len(ws)
                              ELSE 0.0 END, 6) AS mwl
            FROM w
        """,
        "media_meta_documents": """
            SELECT doc_id, 'png' AS format,
                   (doc_id % 1000 + 1)::INT AS width, 480 AS height
            FROM documents
        """,
        "stats_bounds_events": """
            WITH s AS (SELECT min(value) vmin, max(value) vmax,
                              max(user_id) umax,
                              count(DISTINCT event_type) nd
                       FROM events)
            SELECT 'value' AS col_name, 'min' AS bound, 261 AS code FROM s WHERE vmin < 0.5
            UNION ALL SELECT 'value', 'max', 261 FROM s WHERE vmax > 400.0
            UNION ALL SELECT 'user_id', 'max', 261 FROM s WHERE umax > 100
            UNION ALL SELECT 'event_type', 'n_distinct_min', 261 FROM s WHERE nd < 3
        """,
        "normalize_events": """
            SELECT event_id,
                   lower(trim(props)) AS props_norm,
                   coalesce(value, 0.0)::DOUBLE AS value_filled
            FROM events
        """,
        "dedup_exact_documents": """
            SELECT doc_id FROM (
                SELECT doc_id,
                       row_number() OVER (
                           PARTITION BY trim(regexp_replace(lower(coalesce(text, '')),
                                                            '\\s+', ' ', 'g'))
                           ORDER BY doc_id) AS rn
                FROM documents
            ) WHERE rn = 1
        """,
        "topk_embeddings_cosine": """
            SELECT e.vec_id,
                   round(list_cosine_similarity(e.embedding::DOUBLE[],
                         (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)), 4) AS score
            FROM embeddings e
            ORDER BY list_cosine_similarity(e.embedding::DOUBLE[],
                     (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)) DESC, e.vec_id
            LIMIT 10
        """,
        "drift_metrics_events": """
            WITH mid AS (SELECT max(event_id) // 2 AS m FROM events),
            cur_raw AS (
                SELECT 'event_type' AS key, coalesce(event_type, '<null>') AS bucket,
                       count(*)::DOUBLE AS n
                FROM events WHERE event_id <= (SELECT m FROM mid) GROUP BY 2
                UNION ALL
                SELECT 'props_len',
                       least(floor(coalesce(length(props), -1) / 2.0), 9)::BIGINT::VARCHAR,
                       count(*)::DOUBLE
                FROM events WHERE event_id <= (SELECT m FROM mid) GROUP BY 2
            ),
            base_raw AS (
                SELECT 'event_type' AS key, coalesce(event_type, '<null>') AS bucket,
                       count(*)::DOUBLE AS n
                FROM events WHERE event_id > (SELECT m FROM mid) GROUP BY 2
                UNION ALL
                SELECT 'props_len',
                       least(floor(coalesce(length(props), -1) / 2.0), 9)::BIGINT::VARCHAR,
                       count(*)::DOUBLE
                FROM events WHERE event_id > (SELECT m FROM mid) GROUP BY 2
            ),
            cur AS (SELECT key, bucket, n / sum(n) OVER (PARTITION BY key) AS p FROM cur_raw),
            base AS (SELECT key, bucket, n / sum(n) OVER (PARTITION BY key) AS q FROM base_raw),
            j AS (
                SELECT coalesce(c.key, b.key) AS key,
                       greatest(coalesce(c.p, 0), 1e-6) AS p,
                       greatest(coalesce(b.q, 0), 1e-6) AS q
                FROM cur c FULL OUTER JOIN base b
                  ON c.key = b.key AND c.bucket = b.bucket
            )
            SELECT key, round(sum(p * ln(p / q)), 6) AS kl,
                   round(sum((p - q) * ln(p / q)), 6) AS psi
            FROM j GROUP BY key
        """,
        "ivf_topk_embeddings": _LSH_TOPK_PLANTED_SQL,
        "pq_topk_embeddings": _LSH_TOPK_PLANTED_SQL,
        "multi_topk_embeddings": """
            WITH q AS (
                SELECT vec_id AS query_id, embedding::DOUBLE[] AS q_emb
                FROM embeddings WHERE vec_id < 5
            ), scored AS (
                SELECT q.query_id, e.vec_id,
                       list_cosine_similarity(e.embedding::DOUBLE[], q.q_emb) AS s
                FROM embeddings e CROSS JOIN q
            ), ranked AS (
                SELECT query_id, vec_id, s,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY s DESC, vec_id) AS rank
                FROM scored
            )
            SELECT query_id, vec_id, round(s, 4) AS score, rank::INT AS rank
            FROM ranked WHERE rank <= 3
        """,
        # dedup/ANN family: exact all-pairs ground truth (recall AND
        # precision of the LSH/banding paths pinned to 1.0 on the fixture)
        "simhash_near_dups_documents": _simhash_pairs_sql(8),
        "minhash_near_dups_documents": _minhash_pairs_sql(0.6),
        "near_dedup_documents": _NEAR_DEDUP_SQL,
        "embedding_near_dups": _EMBEDDING_PAIRS_SQL,
        "lsh_topk_embeddings": _LSH_TOPK_PLANTED_SQL,
        "multimodal_features_documents": """
            SELECT doc_id, 16 AS n_features,
                   octet_length(encode(coalesce(text, ''))) AS n_payload_bytes
            FROM documents WHERE doc_id < 50
        """,
        "flagship_transcripts": _TRANSCRIPTS_VIOLATIONS_SQL,
        "sequence_violations_transcripts": _SEQ_VIOLATIONS_SQL,
        "sequence_summary_transcripts": _SEQ_SUMMARY_SQL,
        "conv_near_dups_transcripts": _CONV_NEAR_DUPS_SQL.format(
            fixture=_CONV_DEDUP_FIXTURE, words=_DUCK_WORDS,
            shingles=_DUCK_SHINGLES),
        # temporal family: DuckDB's native ASOF JOIN is the as-of
        # oracle ((user_id, ts) is duplicate-free at every SF, so the
        # match is unique ⇒ hash-deterministic); the session oracles
        # re-derive labels with lag + running sum.  NULLS FIRST pins
        # DuckDB's ORDER BY to Spark's asc_nulls_first default, and the
        # COALESCE(…, TRUE) reproduces the engine's "NULL ts opens its
        # own session" rule.
        "asof_purchase_events": """
            SELECT l.event_id,
                   r.ts AS prev_purchase_ts,
                   r.value AS prev_purchase_value
            FROM events l
            ASOF LEFT JOIN (
                SELECT user_id, ts, value FROM events
                WHERE event_type = 'purchase'
            ) r ON l.user_id = r.user_id AND l.ts > r.ts
        """,
        "sessionize_events": """
            WITH o AS (
                SELECT event_id, user_id, ts,
                       lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts NULLS FIRST, event_id) AS prev
                FROM events)
            SELECT event_id, user_id,
                   CAST(SUM(CASE WHEN COALESCE(prev IS NULL
                                  OR ts - prev >= INTERVAL '900' SECOND,
                                  TRUE) THEN 1 ELSE 0 END)
                        OVER (PARTITION BY user_id
                              ORDER BY ts NULLS FIRST, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        - 1 AS INTEGER) AS session_idx
            FROM o
        """,
        # range join: plain inequality join is the oracle (the engine's
        # bucketization is exact, so results are identical); rollup:
        # ANSI GROUP BY ROLLUP with GROUPING() — same bitmask convention
        # as Spark's grouping_id(), verified in tests/test_dataset.py
        "range_join_purchase_windows": """
            SELECT l.event_id, r.event_id AS purchase_id
            FROM events l
            JOIN (SELECT user_id, event_id, ts AS s,
                         ts + INTERVAL '1' DAY AS e
                  FROM events WHERE event_type = 'purchase') r
              ON l.user_id = r.user_id AND l.ts >= r.s AND l.ts <= r.e
        """,
        "rollup_events_daily": """
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(GROUPING(event_type, CAST(ts AS DATE)) AS INTEGER)
                       AS gid,
                   COUNT(*) AS n, ROUND(SUM(value), 3) AS sum_value
            FROM events
            GROUP BY ROLLUP(event_type, CAST(ts AS DATE))
        """,
        "session_stats_events": """
            WITH o AS (
                SELECT user_id, ts,
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
                FROM events WHERE ts IS NOT NULL),
            s AS (
                SELECT user_id, ts,
                       SUM(CASE WHEN prev IS NULL
                                OR ts - prev >= INTERVAL '900' SECOND
                                THEN 1 ELSE 0 END)
                         OVER (PARTITION BY user_id ORDER BY ts
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS sid
                FROM o)
            SELECT user_id,
                   MIN(ts) AS session_start,
                   MAX(ts) AS session_end,
                   COUNT(*) AS n_events
            FROM s GROUP BY user_id, sid
        """,
        # corpus-assembly family
        "redact_pii_documents": _pii_oracle_sql(),
        "split_assign_documents": _SPLIT_ASSIGN_SQL,
        "stratified_sample_documents": _STRATIFIED_SAMPLE_SQL,
        "pack_transcripts": _PACK_SQL,
        "tail_turns_transcripts": _TAIL_TURNS_SQL,
        "contamination_documents": _CONTAMINATION_SQL,
        "repetition_documents": _REPETITION_SQL,
        "mixture_resample_documents": _MIXTURE_SQL,
        "corpus_transcripts": _corpus_oracle_sql(),
        "surprisal_documents": _SURPRISAL_SQL.format(words=_DUCK_WORDS),
        "ngram_surprisal_documents": _NGRAM_SURPRISAL_SQL.format(
            words=_DUCK_WORDS, lnlam=repr(math.log(0.4))),
        "substring_dup_documents": _SUBSTRING_DUP_SQL.format(
            words=_DUCK_WORDS),
        "cross_dedup_documents": _CROSS_DEDUP_SQL.format(
            words=_DUCK_WORDS, shingles=_DUCK_SHINGLES),
        "cross_dedup_stored_documents": _CROSS_DEDUP_SQL.format(
            words=_DUCK_WORDS, shingles=_DUCK_SHINGLES),
        "cross_embedding_dups": _CROSS_EMBEDDING_SQL,
        "excise_documents": _EXCISE_SQL,
        "bm25_documents": _BM25_SQL.format(words=_DUCK_WORDS),
        "semantic_dedup_embeddings": _SEMANTIC_DEDUP_SQL,
        "dsir_documents": _DSIR_SQL.format(words=_DUCK_WORDS),
        "bm25_indexed_documents": _BM25_SQL.format(words=_DUCK_WORDS),
        "chunk_documents": _CHUNK_SQL.format(words=_DUCK_WORDS),
        "bm25_plus_documents": _BM25_PLUS_SQL.format(words=_DUCK_WORDS),
        "bm25_phrase_documents": _BM25_PHRASE_SQL.format(words=_DUCK_WORDS),
        "ngram_model_stored_documents": _NGRAM_SURPRISAL_SQL.format(
            words=_DUCK_WORDS, lnlam=repr(math.log(0.4))),
        "dsir_model_stored_documents": _DSIR_SQL.format(words=_DUCK_WORDS),
    }

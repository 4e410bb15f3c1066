"""Continuous validation over Structured Streaming.

The per-row rule projection compiled by ``SparkValidator`` is stateless,
so it applies unchanged to a streaming DataFrame — the same compiled
plan serves batch and streaming (the reference has no streaming story
at all; SURVEY.md §2.5).

Four shapes:

* ``annotate_stream``       — readStream → compiled projection (stateless)
* ``violation_rate_stream`` — watermarked windowed aggregation of
                              failure rates (late data handled by the
                              watermark, state bounded)
* ``ordering_violations_stream`` — CUSTOM STATEFUL operator
                              (applyInPandasWithState): per-conversation
                              ts-monotonicity across micro-batches, the
                              streaming analog of
                              operators.dataset.ordering_violations
* ``sequence_violations_stream`` — CUSTOM STATEFUL operator: the full
                              conversation-sequence grammar
                              (operators.sequence) across micro-batches
* ``foreach_batch_runner``  — full pipeline (incl. dataset-level checks
                              that need batch semantics) per micro-batch,
                              exactly-once via idempotent parquet commits
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..engine import SparkValidator, explode_violations


def annotate_stream(validator: SparkValidator, stream_df: DataFrame) -> DataFrame:
    """Apply the compiled validation projection to a streaming frame."""
    return validator.annotate(stream_df)


def violation_rate_stream(validator: SparkValidator, stream_df: DataFrame,
                          ts_col: str = "ts", window: str = "5 minutes",
                          watermark: str = "10 minutes") -> DataFrame:
    """Windowed failure-rate aggregation with late-data watermarking."""
    annotated = validator.annotate(stream_df)
    return (
        annotated.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum((~F.col("passed")).cast("long")).alias("n_failed"),
            F.sum(F.size("violations").cast("long")).alias("n_violations"),
        )
    )


def ordering_violations_stream(
    stream_df: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-conversation ts-monotonicity check as a custom STATEFUL
    streaming operator (``applyInPandasWithState``) — the streaming
    analog of ``operators.dataset.ordering_violations`` (same lag
    semantics: a turn violates when its ts regresses vs the previous
    turn in ``order_col`` order within the conversation).

    State per conversation is two longs — (last turn order, last ts
    micros) of the highest turn seen — carried ACROSS micro-batches, so
    a regression split over two batches is still caught.  The shuffle
    key is ``conv_col`` (the north rule's explicit conv_id
    partitioning); state size is O(active conversations) and does not
    grow with turns.  Output: one row per violating turn
    (conv, order, ts_micros, prev_ts_micros).

    Late-arrival semantics match the batch lag-by-``order_col`` analog:
    a turn is compared against state ONLY when its order exceeds the
    highest order already seen — a late-arriving (lower-order) but
    correctly-timestamped earlier turn is neither flagged against a
    newer turn's ts nor allowed to rewind state.  (The batch operator,
    seeing all rows, would compare it against its true order-neighbors;
    without buffering, skipping is the streaming approximation that
    never produces a pair the batch operator wouldn't.)
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    conv_type = dict(stream_df.dtypes)[conv_col]
    out_schema = (f"{conv_col} {conv_type}, {order_col} long, "
                  "ts_micros long, prev_ts_micros long")
    state_schema = "last_order long, last_ts long"

    def check(key, pdf_iter, state: GroupState):
        (conv,) = key
        last_order, last_ts = state.get if state.exists else (None, None)
        out = {conv_col: [], order_col: [], "ts_micros": [], "prev_ts_micros": []}
        for pdf in pdf_iter:
            pdf = pdf.sort_values(order_col)
            orders = pdf[order_col].to_numpy()
            tsraw = pd.to_datetime(pdf[ts_col])
            ts = tsraw.astype("int64") // 1000  # micros
            for o, t, tnull in zip(orders, ts, tsraw.isna()):
                # NULL ts mirrors the batch lag semantics (same masking
                # as sequence_violations_stream): it is never compared
                # against — without the mask NaT becomes the −2⁶³
                # sentinel, emitting a spurious violation AND poisoning
                # last_ts so later real regressions are masked — and it
                # voids the next row's comparison too
                o, t = int(o), (None if tnull else int(t))
                if last_order is not None and o <= last_order:
                    continue  # late arrival: not lag-adjacent to state
                if last_ts is not None and t is not None and t < last_ts:
                    out[conv_col].append(conv)
                    out[order_col].append(o)
                    out["ts_micros"].append(t)
                    out["prev_ts_micros"].append(last_ts)
                last_order, last_ts = o, t
        if last_order is not None:
            state.update((last_order, last_ts))
        if out[conv_col]:
            yield pd.DataFrame(out)

    narrow = stream_df.select(conv_col, order_col, ts_col)
    return narrow.groupBy(conv_col).applyInPandasWithState(
        check, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def sequence_violations_stream(
    stream_df: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    ts_col: str = "ts",
    first_roles: list | None = None,
    transitions: dict | None = None,
    contiguous: bool = False,
    monotone_ts: bool = False,
) -> DataFrame:
    """Streaming analog of ``operators.sequence.sequence_violations``:
    the conversation-grammar rules (first-role / transitions / turn_idx
    contiguity / ts monotonicity) as ONE stateful operator
    (``applyInPandasWithState``), state carried across micro-batches.

    State per conversation is (last order, last ts micros, last role) —
    O(active conversations), independent of turn count.  A grammar
    break split over two micro-batches (user turn in batch N, an
    illegal successor in batch N+1) is still caught.

    Semantics deltas vs the batch operator, both deliberate:

    * late arrivals (order ≤ highest order seen) are SKIPPED, exactly
      like ``ordering_violations_stream`` — without buffering, the
      streaming form never emits a pair the batch form (which sees all
      rows in total order) would not emit; on in-order input the two
      produce identical rows (pinned by
      test_streaming_sequence_parity_with_batch).
    * NULL roles follow the same three-valued logic: membership rules
      neither pass nor fail them.
    """
    if not (first_roles is not None or transitions or contiguous or monotone_ts):
        raise ValueError("no sequence rules enabled")
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    conv_type = dict(stream_df.dtypes)[conv_col]
    out_schema = (f"{conv_col} {conv_type}, {order_col} long, "
                  "constraint string, value string")
    state_schema = "last_order long, last_ts long, last_role string"
    first_set = list(first_roles) if first_roles is not None else None
    trans = ({k: set(v) for k, v in transitions.items()}
             if transitions else None)

    def check(key, pdf_iter, state: GroupState):
        (conv,) = key
        last_order, last_ts, last_role = (
            state.get if state.exists else (None, None, None))
        started = state.exists
        out = {conv_col: [], order_col: [], "constraint": [], "value": []}

        def emit(o, constraint, value):
            out[conv_col].append(conv)
            out[order_col].append(o)
            out["constraint"].append(constraint)
            out["value"].append(value)

        for pdf in pdf_iter:
            pdf = pdf.sort_values(order_col)
            tsraw = pd.to_datetime(pdf[ts_col])
            ts = tsraw.astype("int64") // 1000
            for o, role, t, tnull, tstr in zip(
                pdf[order_col].to_numpy(), pdf[role_col],
                ts, tsraw.isna(), pdf[ts_col].astype(str),
            ):
                # NULL ts mirrors the batch lag: no comparison against
                # it, and it voids the next row's comparison too
                o, t = int(o), (None if tnull else int(t))
                role = None if pd.isna(role) else str(role)
                if started and last_order is not None and o <= last_order:
                    continue  # late arrival: not lag-adjacent to state
                if not started:
                    if first_set is not None and role is not None \
                            and role not in first_set:
                        emit(o, "first_role", role)
                    if contiguous and o != 0:
                        emit(o, "contiguous", str(o))
                else:
                    if trans and last_role in trans and role is not None \
                            and role not in trans[last_role]:
                        emit(o, "transition", f"{last_role}->{role}")
                    if contiguous and o != last_order + 1:
                        emit(o, "contiguous", str(o))
                    if monotone_ts and last_ts is not None \
                            and t is not None and t < last_ts:
                        emit(o, "monotone_ts", tstr)
                started, last_order, last_ts, last_role = True, o, t, role
        if last_order is not None:
            state.update((last_order, last_ts, last_role))
        if out[conv_col]:
            yield pd.DataFrame(out)

    narrow = stream_df.select(conv_col, order_col, role_col, ts_col)
    return narrow.groupBy(conv_col).applyInPandasWithState(
        check, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def foreach_batch_runner(validator: SparkValidator, out_dir: str,
                         key_cols: tuple = ("conv_id", "turn_idx")):
    """foreachBatch callback running the batch violation write per
    micro-batch (id-suffixed paths → idempotent re-runs)."""

    def _run(batch_df: DataFrame, epoch_id: int) -> None:
        viol = explode_violations(validator.annotate(batch_df), list(key_cols))
        viol.write.mode("overwrite").parquet(f"{out_dir}/violations/epoch={epoch_id}")

    return _run


def dataset_checks_foreach_batch(out_dir: str,
                                 key_cols: tuple = ("conv_id", "turn_idx"),
                                 conversations: DataFrame | None = None,
                                 conv_col: str = "conv_id",
                                 dedup_text_col: str | None = None):
    """Streaming parity for the BATCH dataset checks: a foreachBatch
    callback running the uniqueness check and the referential
    anti-join per micro-batch (the north rule's dataset constraints over
    an unbounded source).

    Cross-batch uniqueness works through a durable seen-keys store under
    ``{out_dir}/seen_keys/epoch=N``: each batch's duplicates are

    * within-batch — the same partial-aggregated groupBy the batch
      operator uses (operators.dataset.key_counts), AND
    * cross-batch — a semi-join of this batch's keys against all
      EARLIER epochs' committed keys (epoch partition-pruned to
      ``epoch < current``, so a retried epoch never flags itself).

    Exactly-once without transactions: violations and the key commit are
    epoch-suffixed overwrites — reprocessing an epoch rewrites the same
    paths, and the ``epoch <`` filter keeps its half-committed keys out
    of its own cross-batch comparison.  State is the key set on DISK,
    not executor memory: the store scales to 10^12 keys because the
    semi-join is just another shuffle join over bucketable parquet.

    Ordering has its own genuinely-stateful operator
    (``ordering_violations_stream``); per-batch DRIFT runs through
    ``drift_foreach_batch`` below.
    """
    from ..operators import dataset as D

    keys = list(key_cols)

    def _run(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        store = f"{out_dir}/seen_keys"

        within = D.uniqueness_violations(batch_df, keys)
        # existence-gate instead of catching Exception: a transient/real
        # read failure (corrupt file, storage error) must propagate so
        # the streaming query retries the batch — swallowing it would
        # silently disable cross-batch duplicate detection for the batch
        from ..plans.checkpoint import fs_exists
        if fs_exists(spark, store):
            seen = spark.read.parquet(store).filter(F.col("epoch") < epoch_id)
            cross_keys = (batch_df.select(*keys)
                          .join(seen, keys, "left_semi").distinct())
        else:  # first epoch: no store yet
            cross_keys = None
        viol = within
        if cross_keys is not None:
            # a cross-batch duplicate may be UNIQUE within this batch —
            # build its violation rows directly from the matched keys
            kj = F.to_json(F.struct(*[F.col(k) for k in keys]))
            from ..operators.dataset import _violation_struct
            from .. import errors as E
            v = _violation_struct(
                E.NOT_UNIQUE,
                F.array(*[F.lit(k) for k in keys]),
                ["__dataset__", "unique"],
                ",".join(keys), kj, F.lit("cross-batch"),
            )
            cross_viol = cross_keys.select(*keys, v.alias("v")).select(*keys, "v.*")
            viol = viol.unionByName(cross_viol)
        if conversations is not None:
            orphans = D.referential_violations(
                batch_df, conversations, conv_col, keys=keys)
            viol = viol.unionByName(orphans)

        # exact-dedup fingerprint check (streaming analog of
        # functions.dedup.exact_duplicates): a 64-bit content
        # fingerprint per row, flagged within the batch AND against the
        # durable fingerprint store of earlier epochs.  State is on
        # DISK like the key store — scales to 10^12 fingerprints as a
        # shuffle join over bucketable parquet, never executor memory.
        fps = None
        fp_store = f"{out_dir}/seen_fps"
        if dedup_text_col is not None:
            from ..functions.text import fingerprint
            from ..operators.dataset import _violation_struct
            from .. import errors as E
            from pyspark.sql import Window as W
            fps = batch_df.select(
                *keys, fingerprint(F.col(dedup_text_col)).alias("_fp"))
            w = W.partitionBy("_fp").orderBy(*keys)
            dup_keys = (fps.withColumn("_rn", F.row_number().over(w))
                        .filter(F.col("_rn") > 1).select(*keys, "_fp")
                        .withColumn("_src", F.lit("within-batch")))
            if fs_exists(spark, fp_store):
                seen_fp = (spark.read.parquet(fp_store)
                           .filter(F.col("epoch") < epoch_id).select("_fp"))
                cross_d = (fps.join(seen_fp, "_fp", "left_semi")
                           .select(*keys, "_fp")
                           .withColumn("_src", F.lit("cross-batch")))
                dup_keys = (dup_keys.unionByName(cross_d)
                            .groupBy(*keys, "_fp")
                            .agg(F.min("_src").alias("_src")))
            dv = _violation_struct(
                E.DUPLICATE_CONTENT,
                F.array(F.lit(dedup_text_col)),
                ["__dataset__", "dedup"],
                f"fingerprint({dedup_text_col})",
                F.col("_fp"), F.col("_src"),
            )
            dup_viol = (dup_keys.select(*keys, dv.alias("v"))
                        .select(*keys, "v.*"))
            viol = viol.unionByName(dup_viol)

        viol.write.mode("overwrite").parquet(
            f"{out_dir}/dataset_violations/epoch={epoch_id}")
        # commit this epoch's keys only after its violations are durable
        (batch_df.select(*keys).distinct()
         .write.mode("overwrite").parquet(f"{store}/epoch={epoch_id}"))
        if fps is not None:
            (fps.select("_fp").distinct()
             .write.mode("overwrite").parquet(f"{fp_store}/epoch={epoch_id}"))

    return _run


def drift_foreach_batch(out_dir: str, specs: list | None = None,
                        baseline: DataFrame | None = None):
    """Streaming drift: per micro-batch frequency profiles (ONE scan via
    ``multi_profile``) compared against a checkpointed baseline with the
    distributed KL/PSI math (``drift_metrics_df``).

    The baseline resolves, in order: the ``baseline`` frame passed in, a
    previously persisted ``{out_dir}/drift_baseline`` dir, else the
    FIRST batch's own profiles (persisted for every later batch) — the
    streaming analog of ``ValidationRun``'s first-run-writes-baseline
    behavior.  ``specs`` defaults to ``drift_specs()``, the profile set
    ``ValidationRun`` folds from its wave summary.  Per-epoch metrics
    land at ``{out_dir}/drift_metrics/epoch=N`` (idempotent
    overwrite)."""
    from pyspark.sql import functions as SF

    from ..operators import dataset as D
    from ..plans.checkpoint import fs_exists

    specs = specs or D.drift_specs()
    base_path = f"{out_dir}/drift_baseline"

    def _run(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        profiles = D.multi_profile(batch_df, specs)
        if baseline is not None:
            base = baseline
        elif fs_exists(spark, base_path):
            base = spark.read.parquet(base_path)
        else:
            profiles.write.mode("overwrite").parquet(base_path)
            return  # first batch defines the baseline; nothing to compare
        metrics = D.drift_metrics_df(profiles, base).withColumn(
            "epoch", SF.lit(int(epoch_id)))
        metrics.write.mode("overwrite").parquet(
            f"{out_dir}/drift_metrics/epoch={epoch_id}")

    return _run


def corpus_ingest_foreach_batch(
    out_dir: str,
    bench: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    validator: SparkValidator | None = None,
    quality_bounds: dict | None = None,
    contamination_n: int = 8,
    min_matches: int = 1,
    dedup_threshold: float | None = 0.8,
    dedup_kw: dict | None = None,
    record_stats: bool = True,
    compact_every: int | None = None,
    surprisal_model: str | None = None,
    surprisal_max: float | None = None,
):
    """Streaming corpus ingest: every micro-batch of new documents runs
    the full acceptance gate — rule validation, benchmark
    decontamination, quality bounds, optional LM-surprisal gate,
    within-batch near-dedup, and near-dedup AGAINST EVERYTHING ALREADY
    KEPT — and the survivors are appended to the corpus, which is
    itself the dedup reference for every later batch.

    ``surprisal_model`` (a :func:`~cerberus_spark.functions.surprisal.
    write_ngram_model` artifact path) + ``surprisal_max`` add the
    CCNet-style LM-quality gate: rows whose mean n-gram surprisal
    against the stored model exceeds the threshold drop at the 'lm'
    funnel stage.  The model is a persisted count-table artifact —
    scoring a batch never re-reads the training corpus, and nothing
    pins across epochs (``persist_pos=False`` inside the loop).
    Tokenless rows score 0.0 and pass (no evidence ⇒ no drop).

    Statelessness/state split mirrors ``dataset_checks_foreach_batch``:

    * The eval set's grams are collected ONCE here (wiring time), not
      per batch, and probed via the zero-exchange broadcast UDF.
    * Cross-batch dedup state is the persisted MINHASH BAND STORE
      (``{out_dir}/band_store``): each epoch commit also writes the
      survivors' (band, bhash, id) rows and their shingle-hash relation
      (functions.dedup.write_band_store), and every later batch probes
      the store (``dedup_against_store``, ``epoch < current`` so a
      retried epoch never probes its own half-committed write).  The
      kept corpus TEXT is therefore never re-read and never re-shingled
      — per-epoch cost is ∝ batch + candidates plus a columnar long
      scan of the store, where the r4/r5 design
      (``dedup_against(batch, whole_kept_corpus)``) re-tokenized
      everything kept so far every epoch: total ingest compute
      quadratic in stream length.  State lives on disk as one plain
      parquet dir per table and epoch, never in executor memory.
    * Idempotent: each epoch overwrites exactly its own partitions
      (corpus, band store, stats).
    * ``record_stats`` writes a one-row funnel per epoch
      (``{out_dir}/ingest_stats/epoch=N``: n_in → n_valid → n_clean →
      n_quality → n_unique → n_kept).  The funnel is computed in ONE
      pass: every row is tagged with its exit stage (first failing
      gate — per-row gates are pure projections, so evaluating them
      for all rows is free and order-equivalent to the sequential
      filter chain) and ONE aggregation over the staged frame yields
      every count — stats adds a single extra job per epoch, not one
      persist+count per gate (r5 VERDICT item 6).
    * ``compact_every=K`` compacts the band store every K epochs
      (``compact_epoch_store``, watermark = the CURRENT epoch so the
      in-flight epoch's own partition — which a redelivered epoch
      must not see anyway — is never merged; a redelivered epoch N
      probes ``max_epoch=N`` and the compacted partition is labeled
      N-1 at most, so retry semantics are unchanged).  A crashed
      compaction is recovered at the next epoch's start.  Compaction
      runs in-line here for simplicity; at production scale run it
      from the maintenance loop instead (same function, same store).
    """
    from ..corpus import _quality_filter
    from ..functions.decontam import (collect_benchmark_grams,
                                      contamination_report_broadcast)
    from ..functions.dedup import (compact_band_store,
                                   connected_components,
                                   cross_dup_pairs_stored,
                                   ngram_jaccard_pairs,
                                   recover_epoch_store, write_band_store)
    from ..plans.checkpoint import fs_exists

    # collect AND broadcast the eval grams once here — a per-batch
    # sc.broadcast would re-ship the set to every executor every epoch
    grams_bc = None
    if bench is not None:
        grams_bc = bench.sparkSession.sparkContext.broadcast(
            collect_benchmark_grams(bench, text_col, contamination_n))
    corpus_path = f"{out_dir}/corpus"
    store_dir = f"{out_dir}/band_store"
    kw = dict(dedup_kw or {})
    store_kw = {p: kw[p] for p in ("k", "num_perm", "bands") if p in kw}
    probe_kw = {p: kw[p]
                for p in ("k", "num_perm", "bands", "bucket_cap",
                          "persist_shingles") if p in kw}
    _FLAGS = ["_ok_valid", "_contam", "_ok_q", "_ok_lm", "_dup_within",
              "_dup_cross"]

    def _run(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        pinned = []

        # ---- per-row gates: ONE projection pass over the batch ----
        if validator is not None:
            df = (validator.annotate(batch_df).drop("violations")
                  .withColumnRenamed("passed", "_ok_valid"))
        else:
            df = batch_df.withColumn("_ok_valid", F.lit(True))
        if grams_bc is not None:
            rep = contamination_report_broadcast(
                df, id_col=id_col, text_col=text_col, n=contamination_n,
                min_matches=min_matches, grams_set=grams_bc)
            df = (df.join(rep.select(id_col, "contaminated"), id_col, "left")
                  .withColumn("_contam",
                              F.coalesce("contaminated", F.lit(False)))
                  .drop("contaminated"))
        else:
            df = df.withColumn("_contam", F.lit(False))
        if quality_bounds:
            ok = _quality_filter(df.select(id_col, text_col), id_col,
                                 text_col, quality_bounds) \
                .withColumn("_ok_q", F.lit(True))
            df = (df.join(ok, id_col, "left")
                  .withColumn("_ok_q", F.coalesce("_ok_q", F.lit(False))))
        else:
            df = df.withColumn("_ok_q", F.lit(True))
        if surprisal_model is not None and surprisal_max is not None:
            from ..functions.surprisal import ngram_surprisal_report_stored

            lm = ngram_surprisal_report_stored(
                df.select(id_col, text_col), surprisal_model,
                id_col, text_col, persist_pos=False)
            df = (df.join(lm.select(id_col, "surprisal"), id_col, "left")
                  .withColumn("_ok_lm",
                              F.coalesce(F.col("surprisal")
                                         <= F.lit(surprisal_max),
                                         F.lit(True)))
                  .drop("surprisal"))
        else:
            df = df.withColumn("_ok_lm", F.lit(True))

        # ---- relational gates: dedup drop-id lists over survivors ----
        pre_ok = (F.col("_ok_valid") & ~F.col("_contam") & F.col("_ok_q")
                  & F.col("_ok_lm"))
        if dedup_threshold is not None:
            surv = df.filter(pre_ok).persist()
            pinned.append(surv)
            pairs = ngram_jaccard_pairs(surv, id_col, text_col,
                                        threshold=dedup_threshold, **kw)
            comps = connected_components(pairs)
            within = (comps.filter(F.col("node") != F.col("comp"))
                      .select(F.col("node").alias(id_col))
                      .withColumn("_dup_within", F.lit(True)))
            surv2 = surv.join(within.select(id_col), id_col, "left_anti")
            if fs_exists(spark, store_dir):
                # finish/roll back any compaction a crash interrupted
                # BEFORE probing (a half-finalized store under-reports)
                recover_epoch_store(spark, store_dir, ("bands", "hashes"))
            if fs_exists(spark, f"{store_dir}/bands"):
                matched = (cross_dup_pairs_stored(
                    surv2.select(id_col, text_col), store_dir,
                    id_col, text_col, threshold=dedup_threshold,
                    max_epoch=epoch_id, pinned=pinned, **probe_kw)
                    .select(F.col("id_new").alias(id_col)).distinct()
                    .withColumn("_dup_cross", F.lit(True)))
            else:
                matched = (spark.createDataFrame(
                    [], df.select(id_col).schema)
                    .withColumn("_dup_cross", F.lit(True)))
            df = (df.join(within, id_col, "left")
                  .join(matched, id_col, "left")
                  .withColumn("_dup_within",
                              F.coalesce("_dup_within", F.lit(False)))
                  .withColumn("_dup_cross",
                              F.coalesce("_dup_cross", F.lit(False))))
        else:
            df = (df.withColumn("_dup_within", F.lit(False))
                  .withColumn("_dup_cross", F.lit(False)))

        # ---- stage tag + single staged frame for write AND funnel ----
        stage = (F.when(~F.col("_ok_valid"), F.lit("valid"))
                 .when(F.col("_contam"), F.lit("clean"))
                 .when(~F.col("_ok_q"), F.lit("quality"))
                 .when(~F.col("_ok_lm"), F.lit("lm"))
                 .when(F.col("_dup_within"), F.lit("unique"))
                 .when(F.col("_dup_cross"), F.lit("cross"))
                 .otherwise(F.lit("kept")))
        staged = df.withColumn("_stage", stage).persist()
        pinned.append(staged)
        kept = staged.filter(F.col("_stage") == "kept") \
            .drop("_stage", *_FLAGS)
        kept.write.mode("overwrite").parquet(
            f"{corpus_path}/epoch={epoch_id}")
        if dedup_threshold is not None:
            # commit the survivors' bands/hashes so later epochs probe
            # the store instead of re-shingling the kept corpus
            write_band_store(kept.select(id_col, text_col), store_dir,
                             epoch_id, id_col, text_col, **store_kw)
            if (compact_every and epoch_id > 0
                    and epoch_id % compact_every == 0):
                compact_band_store(spark, store_dir, upto=int(epoch_id))
        if record_stats:
            aggs = [F.count(F.lit(1)).alias("n_in")]
            c = F.col("_ok_valid")
            if validator is not None:
                aggs.append(F.sum(c.cast("long")).alias("n_valid"))
            c = c & ~F.col("_contam")
            if grams_bc is not None:
                aggs.append(F.sum(c.cast("long")).alias("n_clean"))
            c = c & F.col("_ok_q")
            if quality_bounds:
                aggs.append(F.sum(c.cast("long")).alias("n_quality"))
            c = c & F.col("_ok_lm")
            if surprisal_model is not None and surprisal_max is not None:
                aggs.append(F.sum(c.cast("long")).alias("n_lm"))
            if dedup_threshold is not None:
                c = c & ~F.col("_dup_within")
                aggs.append(F.sum(c.cast("long")).alias("n_unique"))
            aggs.append(F.sum((F.col("_stage") == "kept").cast("long"))
                        .alias("n_kept"))
            (staged.agg(*aggs).coalesce(1).write.mode("overwrite")
             .parquet(f"{out_dir}/ingest_stats/epoch={epoch_id}"))
        for p in pinned:
            p.unpersist()

    return _run


def vector_ingest_foreach_batch(
    out_dir: str,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    threshold: float = 0.95,
    n_bits: int = 12,
    n_tables: int = 4,
    seed: int = 42,
    dim: int | None = None,
    bucket_cap: int = 200,
    record_stats: bool = True,
    compact_every: int | None = None,
):
    """Streaming VECTOR ingest — the semantic mirror of
    :func:`corpus_ingest_foreach_batch`: every micro-batch of
    embeddings is near-deduped within itself and against everything
    already kept (cosine ≥ ``threshold``), and the survivors are
    appended to the vector corpus, which is its own cross-batch
    reference.

    * Cross-batch state is the persisted EMBEDDING BUCKET STORE
      (functions.dedup.write_embedding_store): hyperplane signatures
      are seed-stable, so each epoch's bucket ids are written once and
      probed forever — the kept corpus is never re-hashed.  The store
      pins (n_bits, n_tables, seed, dim) at creation; size ``n_bits``
      to the EVENTUAL corpus (similarity.auto_bits), not the batch.
    * The exact-cosine verify needs candidate embeddings: they come
      from the kept corpus ({out_dir}/vectors, epoch-partitioned,
      read via the same explicit-epoch-path listing as the store so a
      retried epoch never sees its own half-commit and cached plans
      can never go stale).  The semi-join is candidate-proportional
      in shuffle terms; the SCAN of the kept corpus is columnar and
      at real scale should sit behind a bucketed/Iceberg table whose
      id bloom filters prune row groups — on plain parquet it reads
      the (id, embedding) columns.
    * NULL embeddings carry no similarity evidence: they are KEPT
      (no evidence ⇒ no drop — the text ingest's tokenless policy)
      but never stored or paired.
    * Idempotent per epoch; ``compact_every`` as in the corpus ingest.
    """
    from ..functions.dedup import (_read_epochs, compact_epoch_store,
                                   connected_components,
                                   embedding_dups_against_store,
                                   embedding_near_dups,
                                   recover_epoch_store,
                                   write_embedding_store)
    from ..plans.checkpoint import fs_exists

    vec_path = f"{out_dir}/vectors"
    store_dir = f"{out_dir}/emb_store"
    lsh_kw = dict(n_bits=n_bits, n_tables=n_tables, seed=seed)

    def _run(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        epoch_id = int(epoch_id)
        batch = batch_df.persist()
        try:
            pairs = embedding_near_dups(batch, id_col, emb_col,
                                        threshold=threshold, dim=dim,
                                        bucket_cap=bucket_cap, **lsh_kw)
            comps = connected_components(pairs)
            within = (comps.filter(F.col("node") != F.col("comp"))
                      .select(F.col("node").alias(id_col)))
            surv = batch.join(within, id_col, "left_anti")

            if fs_exists(spark, store_dir):
                recover_epoch_store(spark, store_dir, ("buckets",))
            ref = _read_epochs(spark, vec_path, max_epoch=epoch_id)
            if ref is not None and fs_exists(spark, f"{store_dir}/meta"):
                matched = (embedding_dups_against_store(
                    surv, ref.select(id_col, emb_col), store_dir,
                    id_col, emb_col, threshold=threshold,
                    max_epoch=epoch_id, bucket_cap=bucket_cap)
                    .select(F.col("id_new").alias(id_col)).distinct())
                kept = surv.join(matched, id_col, "left_anti")
            else:
                kept = surv
            kept = kept.persist()
            kept.write.mode("overwrite").parquet(
                f"{vec_path}/epoch={epoch_id}")
            write_embedding_store(kept, store_dir, epoch_id, id_col,
                                  emb_col, dim=dim, **lsh_kw)
            if (compact_every and epoch_id > 0
                    and epoch_id % compact_every == 0):
                compact_epoch_store(spark, store_dir, ("buckets",),
                                    upto=epoch_id)
            if record_stats:
                row = (batch.select(F.count(F.lit(1)).alias("n_in"))
                       .crossJoin(surv.select(
                           F.count(F.lit(1)).alias("n_unique")))
                       .crossJoin(kept.select(
                           F.count(F.lit(1)).alias("n_kept"))))
                (row.withColumn("epoch", F.lit(epoch_id)).coalesce(1)
                 .write.mode("overwrite")
                 .parquet(f"{out_dir}/ingest_stats/epoch={epoch_id}"))
            kept.unpersist()
        finally:
            batch.unpersist()

    return _run

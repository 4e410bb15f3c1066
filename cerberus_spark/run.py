"""The full validation pass: per-turn rules + dataset constraints +
checkpointed, resumable writes.  This is the job `spark-submit` runs.

One pass over the transcripts table computes (north star):

1. per-turn rule violations + normalized columns  (single projection)
2. per-partition pass/fail totals + drift profile (one groupBy)
3. uniqueness of (conv_id, turn_idx)              (partial-aggregated groupBy)
4. referential conv_id ⋉ conversations            (anti join, AQE-chosen)
5. ts-ordering per conversation                   (window on conv_id)
6. role/tool/text-length drift vs a checkpointed baseline (KL + PSI),
   folded on the driver from the summary rows after the last wave
6b. (optional, ``RunConfig.sequence_rules``) conversation-sequence
   grammar — first-role / role-transitions / turn_idx contiguity / ts
   monotonicity in one window pass (operators/sequence.py)
7. checkpoint commit per wave with lineage (snapshot, rule-schema
   hash, predicate set incl. the drift spec) so a killed job restarts
   only unvalidated partitions

Resume correctness invariants:

* per-row outputs (violations, summary) are written partitioned by
  ``part_id`` with DYNAMIC partition overwrite — a resumed run that
  processes only pending partitions replaces only those partition
  directories; previously committed partitions' data is untouched.
  A FRESH single-wave run (nothing committed, one wave = all
  partitions) instead writes flat with ``part_id`` as a data column —
  identical schema to readers, none of the partitioned write's
  small-files/commit overhead; the selective-overwrite machinery only
  engages when there is prior committed state to preserve.
* checkpoint rows are committed per WAVE (``RunConfig.waves`` groups of
  partitions), each wave only after its outputs are durable — a killed
  job restarts from the last completed wave, never re-trusting
  half-written output.
* a fully-resumed run (every partition 'done') performs NO writes and
  reports from the durable summary — it cannot erase prior results.
* in-memory inputs have no stable lineage (snapshot_id() → None):
  resume is disabled for them and commits carry an ephemeral id that
  can never match a future run.
* dataset-level checks (uniqueness/referential/ordering) are GLOBAL
  invariants — they always run over the full input (a partition-pruned
  uniqueness check would be wrong) and their sink is a plain overwrite.
* drift is global too, but its per-partition profile rows are durable
  summary rows: a resumed run merges the committed partitions' rows
  with its own and rescans nothing.  The baseline is written only after
  every wave has committed, so a failed or killed run never leaves one.
"""

from __future__ import annotations

import hashlib
import json
import uuid
from collections import Counter
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import errors as E
from .engine import SparkValidator, explode_violations
from .operators import dataset as D
from .plans.checkpoint import (CheckpointStore, fs_delete, fs_exists,
                               part_id_col, read_rows, rows_df, snapshot_id,
                               write_rows)


@dataclass
class RunConfig:
    out_dir: str
    n_parts: int = 64
    conv_col: str = "conv_id"
    order_col: str = "turn_idx"
    ts_col: str = "ts"
    resume: bool = True
    #: checkpoint granularity: partitions are processed in this many
    #: waves, each wave's checkpoint rows committed once its outputs are
    #: durable.  1 = single pass (minimum scans); raise it when restart
    #: cost dominates re-scan cost (very long jobs on flaky clusters).
    waves: int = 1
    #: optional conversation-sequence grammar (operators/sequence.py
    #: kwargs: first_roles / transitions / contiguous / monotone_ts /
    #: order_tie).  None (default) skips the check; when set, sequence
    #: violations join the dataset-violations sink and the report.
    sequence_rules: dict | None = None

    @property
    def key_cols(self) -> tuple[str, str]:
        """A turn's key: its conversation and its position in it."""
        return (self.conv_col, self.order_col)


@dataclass
class RunReport:
    n_turns: int
    n_failed: int
    n_rule_violations: int
    n_unique_violations: int
    n_orphan_violations: int
    n_ordering_violations: int
    drift: list
    skipped_partitions: int
    n_sequence_violations: int = 0


class ValidationRun:
    def __init__(self, schema: dict, config: RunConfig, **validator_kw):
        # part_id and _drift are engine plumbing, not document data:
        # declaring them key columns keeps them out of unknown-field
        # validation and purge (otherwise allow_unknown=False would flag
        # them on every row), and normalization never rewrites them.
        key_cols = tuple(config.key_cols)
        key_cols += tuple(c for c in ("part_id", "_drift") if c not in key_cols)
        self.validator = SparkValidator(schema, key_cols=key_cols, **validator_kw)
        self.config = config

    # ------------------------------------------------------------------

    def _path(self, *parts: str) -> str:
        return "/".join([self.config.out_dir.rstrip("/"), *parts])

    def execute(self, df: DataFrame, conversations: DataFrame | None = None) -> RunReport:
        cfg = self.config
        spark = df.sparkSession
        store = CheckpointStore(spark, self._path("checkpoint"))
        snap = snapshot_id(df)
        resume_ok = cfg.resume and snap is not None
        if snap is None:
            # no stable lineage: never resumable, never matched by a later run
            snap = f"ephemeral-{uuid.uuid4().hex[:12]}"
        shash = self.validator.schema_hash
        # The drift profile rides the wave summary: ``_drift`` holds one
        # (key, bucket) struct per drift spec, read from the RAW input
        # columns, plus one NULL-key entry whose summary rows carry the
        # per-partition totals.
        null = F.lit(None).cast("string")
        drift_col = F.array(*D.profile_entries(D.drift_specs()),
                            F.struct(null.alias("key"), null.alias("bucket")))
        # lineage: the predicate set identifies WHAT this run checks, so a
        # config change (e.g. different key columns) invalidates resume
        # state; the drift spec pins the summary layout, so summaries of
        # another layout are never resumed from
        predicate_set = json.dumps(
            {"keys": list(cfg.key_cols), "conv": cfg.conv_col,
             "order": cfg.order_col, "ts": cfg.ts_col, "n_parts": cfg.n_parts,
             "drift": str(drift_col)},
            sort_keys=True,
        )

        df = df.withColumn("part_id", part_id_col(cfg.conv_col, cfg.n_parts))
        done: list[int] = store.done_partitions(snap, shash, predicate_set) if resume_ok else []
        pending = [p for p in range(cfg.n_parts) if p not in set(done)]

        # Lineage id stamped onto every summary row.  Dynamic partition
        # overwrite only replaces partitions that have rows under the
        # CURRENT input — if an out_dir is reused with different data or a
        # different schema, a partition with zero rows now would keep the
        # OLD run's summary/violations rows on disk and the report/commit
        # reads would mix two datasets.  Two defenses: (a) when no
        # partition is committed for this lineage (fresh run or lineage
        # change) the output dirs are cleared up front; (b) report totals
        # and wave commits read only rows stamped with this lineage.
        lineage = hashlib.sha256(
            f"{snap}|{shash}|{predicate_set}".encode()
        ).hexdigest()[:16]
        if not done:
            for sub in ("summary", "violations"):
                fs_delete(spark, self._path(sub))

        # The two pipelines below are independent DAGs (the dataset
        # checks read the raw input, not the wave outputs).  Submitting
        # them from separate driver threads lets the scheduler overlap
        # their jobs: at bench scale each job is sub-second of compute
        # behind ~0.5 s of fixed scheduling + parquet-commit overhead,
        # so sequential submission made the orchestration — not the
        # compute — the wall clock.  On a real cluster the same overlap
        # hides the small jobs' latency behind the big scan.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            fut_waves = pool.submit(
                self._run_validation_waves, df.withColumn("_drift", drift_col),
                done, pending, store, snap, shash, predicate_set, lineage,
            ) if pending else None
            fut_ds = pool.submit(self._run_dataset_checks, spark, df, conversations)
            if fut_waves is not None:
                fut_waves.result()
            # fully resumed: zero writes — prior results stay durable
            ds_counts = fut_ds.result()

        # -- report and drift from the durable summary (covers all
        # partitions, this run's and previously committed ones alike)
        rows = self._summary_rows(spark, lineage)
        n_turns, n_failed, n_viol = (
            sum(r[c] or 0 for r in rows if r["key"] is None)
            for c in ("n_rows", "n_failed", "n_violations"))
        return RunReport(
            n_turns=n_turns,
            n_failed=n_failed,
            n_rule_violations=n_viol,
            n_unique_violations=ds_counts.get(E.NOT_UNIQUE.code, 0),
            n_orphan_violations=ds_counts.get(E.ORPHAN_REFERENCE.code, 0),
            n_ordering_violations=ds_counts.get(E.ORDERING_VIOLATION.code, 0),
            drift=self._drift(spark, rows),
            skipped_partitions=len(done),
            n_sequence_violations=ds_counts.get(E.SEQUENCE_VIOLATION.code, 0),
        )

    # ------------------------------------------------------------------

    def _run_validation_waves(self, df, done, pending, store, snap, shash,
                              predicate_set, lineage) -> None:
        cfg = self.config
        spark = df.sparkSession
        n_waves = max(1, min(cfg.waves, len(pending)))
        chunk = -(-len(pending) // n_waves)  # ceil
        waves = [pending[i:i + chunk] for i in range(0, len(pending), chunk)]

        # Fresh single-wave runs (nothing committed, one wave covering
        # every pending partition — the common batch case) write their
        # outputs FLAT: the part_id-dir layout exists so a RESUMED or
        # WAVED run can replace only its own partitions via dynamic
        # overwrite, but with done=[] and one wave that machinery cannot
        # trigger, and the partitioned write costs n_parts tiny files
        # plus a per-dir commit-rename pass (measured ~1 s of the wave
        # wall at 64 parts — guide §6's small-files anti-pattern).  The
        # flat write keeps part_id as a DATA column, so readers see the
        # identical schema either way.  Correctness of the mix: commit
        # is atomic (one appended file), so a later run sees either
        # done=[] (output dirs are cleared up front) or done=committed
        # (its waves carry rows only for never-committed — empty —
        # partitions, and the dynamic path writes nothing for them).
        single_fresh = not done and len(waves) == 1
        keys = list(cfg.key_cols)

        for wave_parts in waves:
            # prune to this wave's partitions; on a file source the
            # part_id filter does not push down (it's computed), but the
            # scan is shared work the wave structure deliberately trades
            # for durable checkpoints — waves=1 scans once.
            if len(wave_parts) < cfg.n_parts:
                wave_df = df.filter(F.col("part_id").isin(wave_parts))
            else:
                wave_df = df

            annotated = self.validator.annotate(wave_df)

            # rule violations (first evaluation of the projection).
            # Repartition on part_id before the partitioned write:
            # without it every scan task opens a writer per part dir
            # (tasks × n_parts small files — measured 7× the CPU at 32
            # cores); with it each output partition is written by ~1
            # task.  Violations are a small fraction of input rows, so
            # this shuffle is cheap; add a second key if one partition's
            # violations ever outgrow a task.
            viol = explode_violations(annotated, keys + ["part_id"])

            def _write_violations():
                if single_fresh:
                    # no repartition either: the flat write streams
                    # straight from the scan tasks (the exchange
                    # existed to align tasks with part dirs)
                    viol.write.mode("overwrite").parquet(
                        self._path("violations"))
                    return
                (viol.repartition("part_id")
                     .write.mode("overwrite")
                     .option("partitionOverwriteMode", "dynamic")
                     .partitionBy("part_id")
                     .parquet(self._path("violations")))

            # per-partition summary (second and last evaluation —
            # failed ROWS can't be recovered from the violations table
            # alone because (conv_id, turn_idx) keys are not unique;
            # that's what the uniqueness check finds).  Each row
            # explodes into its ``_drift`` entries: the NULL-key rows
            # count the partition's rows, failed rows and violations;
            # the profile rows count (key, bucket) and leave n_failed /
            # n_violations NULL (fewer bytes).
            totals = F.col("key").isNull()
            summary = annotated.select(
                "part_id",
                (~F.col("passed")).cast("long").alias("_failed"),
                F.size("violations").cast("long").alias("_n_viol"),
                F.inline("_drift"),
            ).groupBy("part_id", "key", "bucket").agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.when(totals, F.col("_failed"))).alias("n_failed"),
                F.sum(F.when(totals, F.col("_n_viol"))).alias("n_violations"),
            ).withColumn("lineage", F.lit(lineage))

            def _write_summary():
                if single_fresh:
                    summary.write.mode("overwrite").parquet(
                        self._path("summary"))
                    return
                (summary.write.mode("overwrite")
                        .option("partitionOverwriteMode", "dynamic")
                        .partitionBy("part_id")
                        .parquet(self._path("summary")))

            # the two writes are independent evaluations of the same
            # projection — overlap them; the checkpoint commit below
            # waits for BOTH (committed state must describe durable
            # violations AND summary)
            from concurrent.futures import ThreadPoolExecutor as _TPE
            with _TPE(max_workers=2) as wpool:
                fv = wpool.submit(_write_violations)
                fs = wpool.submit(_write_summary)
                fv.result()
                fs.result()

            # checkpoint commit for THIS wave, from the durable files —
            # committed state always describes data that is on disk.
            # A wave with zero rows writes no summary rows; nothing
            # to commit (the empty partitions cost nothing to
            # revisit).
            rows = [r for r in self._summary_rows(spark, lineage, set(wave_parts))
                    if r["key"] is None]
            if rows:
                store.commit_rows(rows, snap, shash, predicate_set)

    def _summary_rows(self, spark, lineage, part_ids=None) -> list[dict]:
        """The durable summary's rows stamped with ``lineage`` (only
        those of ``part_ids`` when given) — ≤ n_parts totals rows (NULL
        ``key``) plus their drift profile rows, read driver-side on
        ``file:`` (``read_rows``)."""
        rows = read_rows(spark, self._path("summary"),
                         ["part_id", "lineage", "key", "bucket", "n_rows",
                          "n_failed", "n_violations"])
        return [r for r in rows
                if r["lineage"] == lineage
                and (part_ids is None or r["part_id"] in part_ids)]

    def _run_dataset_checks(self, spark, df, conversations) -> dict[int, int]:
        cfg = self.config
        keys = list(cfg.key_cols)
        uniq = D.uniqueness_violations(df, keys)
        orphans = (
            D.referential_violations(df, conversations, cfg.conv_col, keys=keys)
            if conversations is not None
            else None
        )
        ordering = D.ordering_violations(
            df, cfg.conv_col, cfg.order_col, cfg.ts_col, keys=keys
        )
        seq = None
        if cfg.sequence_rules:
            from .operators import sequence as S

            seq = S.sequence_violations(
                df, conv_col=cfg.conv_col, idx_col=cfg.order_col,
                ts_col=cfg.ts_col, keys=keys, **cfg.sequence_rules
            )
        ds_viol = uniq
        for extra in (orphans, ordering, seq):
            if extra is not None:
                ds_viol = ds_viol.unionByName(extra)
        # per-check counts ride along on the write job itself
        # (df.observe collects aggregates during the action) — no
        # re-read job, and never a re-execution of the
        # uniqueness/join/window DAGs just for the report
        from pyspark.sql import Observation

        obs = Observation("ds_checks")
        codes = {
            "unique": E.NOT_UNIQUE.code,
            "orphan": E.ORPHAN_REFERENCE.code,
            "ordering": E.ORDERING_VIOLATION.code,
            "sequence": E.SEQUENCE_VIOLATION.code,
        }
        ds_viol = ds_viol.observe(obs, *[
            F.sum((F.col("code") == c).cast("long")).alias(name)
            for name, c in codes.items()
        ])
        ds_viol.write.mode("overwrite").parquet(self._path("dataset_violations"))
        got = obs.get
        return {c: int(got[name] or 0) for name, c in codes.items()}

    def _drift(self, spark, rows) -> list[dict]:
        """KL/PSI of the drift profile folded from the summary ``rows``
        (every partition of this lineage) against ``baseline_stats``.
        Without a baseline, this profile is written as the baseline
        (driver-side on ``file:``, ``write_rows``) and the result is
        []: called only after the last wave has committed, so a failed
        or killed run never leaves a baseline behind."""
        counts = Counter()
        for r in rows:
            if r["key"] is not None:
                counts[r["key"], r["bucket"]] += r["n_rows"]
        per_key = Counter()
        for (key, _), n in counts.items():
            per_key[key] += n
        profile = [(key, bucket, n / per_key[key])
                   for (key, bucket), n in sorted(counts.items())]
        schema = "key string, bucket string, freq double"
        baseline_path = self._path("baseline_stats")
        if fs_exists(spark, baseline_path):
            return D.drift_metrics(rows_df(spark, schema, profile),
                                   spark.read.parquet(baseline_path))
        write_rows(spark, baseline_path, schema, profile)
        return []


def main():  # pragma: no cover — spark-submit entry point
    """spark-submit --py-files cerberus_spark.zip -m cerberus_spark.run"""
    import argparse

    from .sources.transcripts import TURN_SCHEMA, load

    p = argparse.ArgumentParser()
    p.add_argument("--data-dir", required=True)
    p.add_argument("--out-dir", required=True)
    p.add_argument("--n-parts", type=int, default=64)
    args = p.parse_args()

    spark = SparkSession.builder.appName("cerberus_spark.run").getOrCreate()
    t, c = load(spark, args.data_dir)
    run = ValidationRun(TURN_SCHEMA, RunConfig(out_dir=args.out_dir, n_parts=args.n_parts))
    report = run.execute(t, c)
    print(report)


if __name__ == "__main__":  # pragma: no cover
    main()

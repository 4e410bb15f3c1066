"""The benchmark's workloads.  Each is a closed loop with one client:
the next op starts when the previous one has returned.

A workload has ``setup(spark, rep)`` (input generation, compile and
wiring, warm-up), ``op(i)`` (one timed call into the program, returning
its wall time and what the check needs) and ``check(i, res)`` (the
output check, outside the timed region).  ``IngestProbe`` is not a
workload: traced ``nested_rules`` runs call it, untimed, after the loop.
"""

from __future__ import annotations

import dataclasses
import os
import shutil
import time

from common import du
import gen
import oracle

#: warm-up ops per set-up: the first ops of a new session run slow even
#: on a warm JVM
WARMUP_OPS = 2


class FullpassFresh:
    """``ValidationRun(TURN_SCHEMA, RunConfig(n_parts=64, resume=False))
    .execute(transcripts, conversations)`` into a fresh ``out_dir``."""

    name = "fullpass_fresh"
    n_rows = 200_000
    min_ops, max_ops = 3, 40
    #: the jobs of an op that execute the compiled projection (by sink)
    engine_sinks = ("violations", "summary")
    ingest_probe = False

    def __init__(self, work: str, seed: int, tracer):
        self.work, self.seed, self.tracer = work, seed, tracer
        self.expected = None

    def setup(self, spark, rep: int) -> None:
        from cerberus_spark.run import RunConfig, ValidationRun
        from cerberus_spark.sources.transcripts import TURN_SCHEMA, load

        self.data = os.path.join(self.work, "data", f"rep{rep}")
        with self.tracer.span("setup.datagen"):
            self.frames = gen.write_transcripts(self.data, self.n_rows, self.seed)
        self.t_df, self.c_df = load(spark, self.data)
        self.run = ValidationRun(TURN_SCHEMA, RunConfig(
            out_dir=self.work, n_parts=64, resume=False))
        self.base_config = self.run.config
        self.validator = self.run.validator
        for i in range(WARMUP_OPS):
            warm = os.path.join(self.work, f"warm{i}")
            self._execute(warm)
            shutil.rmtree(warm, ignore_errors=True)

    def teardown_rep(self) -> None:
        shutil.rmtree(self.data, ignore_errors=True)

    def _execute(self, out: str, **config):
        """One timed ``execute``; the compiled validator is reused."""
        self.run.config = dataclasses.replace(self.base_config, out_dir=out,
                                              **config)
        t0 = time.time()
        report = self.run.execute(self.t_df, self.c_df)
        wall = time.time() - t0
        return wall, report

    def describe(self) -> dict:
        return {"turns": self.n_rows, "input_bytes": self.input_bytes,
                "n_parts": 64, "loop": "closed, one client"}

    @property
    def input_bytes(self) -> int:
        return du(self.data)[1]

    @property
    def plan_input(self):
        """The frame ``execute`` annotates: the transcripts plus ``part_id``."""
        from cerberus_spark.plans.checkpoint import part_id_col

        cfg = self.base_config
        return self.t_df.withColumn("part_id", part_id_col(cfg.conv_col, cfg.n_parts))

    def op(self, i: int) -> dict:
        out = os.path.join(self.work, "ops", f"op{i}")
        wall, report = self._execute(out)
        files, size = du(out)
        return {"wall": wall, "rows": self.n_rows, "report": report,
                "out_files": files, "out_bytes": size, "in_bytes": self.input_bytes}

    def check(self, i: int, res: dict) -> list[str]:
        if self.expected is None:
            self.expected = oracle.transcripts_report(*self.frames)
        got = oracle.report_counts(res["report"])
        shutil.rmtree(os.path.join(self.work, "ops", f"op{i}"), ignore_errors=True)
        return [] if got == self.expected else [
            f"op {i}: report {got} != recomputed {self.expected}"]

    def kill_check(self, spark) -> dict:
        """Untimed: SIGKILL a waves=8 pass after its first checkpoint
        commit, resume it here, compare with the fresh report."""
        from killcheck import kill_and_resume

        res = kill_and_resume(spark, self.data, os.path.join(self.work, "killed"),
                              self.work)
        if res["ok"]:
            got = oracle.report_counts(res["report"])
            if self.expected is None:
                self.expected = oracle.transcripts_report(*self.frames)
            if got != self.expected:
                res.update(ok=False, error=f"resumed report {got} != fresh "
                           f"{self.expected}")
        return res


class NestedRules:
    """A ``SparkValidator`` compiled once for ``TURN_SCHEMA`` plus the
    FIXTURES.md §4 nested ``meta`` rules; one op is ``validate(df)``,
    a violations write and ``counts()``."""

    name = "nested_rules"
    n_rows = 80_000
    min_ops, max_ops = 3, 40
    #: every job of an op executes the compiled projection: the
    #: violations write and the write-less ``counts()``
    engine_sinks = None
    #: traced runs also probe the streaming corpus ingest (IngestProbe)
    ingest_probe = True

    def __init__(self, work: str, seed: int, tracer):
        self.work, self.seed, self.tracer = work, seed, tracer
        self.expected = None

    def setup(self, spark, rep: int) -> None:
        from cerberus_spark import SparkValidator

        self.data = os.path.join(self.work, "data", f"rep{rep}")
        with self.tracer.span("setup.datagen"):
            self.table = gen.write_nested(self.data, self.n_rows, self.seed)
        self.df = spark.read.parquet(os.path.join(self.data, "nested.parquet"))
        self.validator = SparkValidator(gen.nested_schema(), key_cols=("row_id",))
        for i in range(WARMUP_OPS):
            self._validate(os.path.join(self.work, f"warm{i}"))
            shutil.rmtree(os.path.join(self.work, f"warm{i}"), ignore_errors=True)

    def teardown_rep(self) -> None:
        shutil.rmtree(self.data, ignore_errors=True)

    def _validate(self, out: str):
        res = self.validator.validate(self.df)
        res.violations.write.mode("overwrite").parquet(
            os.path.join(out, "violations"))
        return res, res.counts()

    @property
    def input_bytes(self) -> int:
        return du(self.data)[1]

    @property
    def plan_input(self):
        return self.df

    def describe(self) -> dict:
        return {"rows": self.n_rows, "input_bytes": self.input_bytes,
                "loop": "closed, one client"}

    def op(self, i: int) -> dict:
        out = os.path.join(self.work, "ops", f"op{i}")
        t0 = time.time()
        result, counts = self._validate(out)
        wall = time.time() - t0
        files, size = du(out)
        return {"wall": wall, "rows": self.n_rows, "result": result,
                "counts": counts, "out_files": files, "out_bytes": size,
                "in_bytes": self.input_bytes}

    def check(self, i: int, res: dict) -> list[str]:
        shutil.rmtree(os.path.join(self.work, "ops", f"op{i}"), ignore_errors=True)
        errs = []
        if self.expected is None:
            self.expected = oracle.nested_passed(self.table.to_pandas())
            # per-row pass/fail, once per run (the plan is the same every op)
            got = (res["result"].annotated.select("row_id", "passed")
                   .toPandas().sort_values("row_id")["passed"].to_numpy())
            bad = int((got != self.expected).sum())
            if bad:
                errs.append(f"op {i}: {bad} rows disagree with the recomputed "
                            "pass/fail")
        want = (self.n_rows, int((~self.expected).sum()))
        if tuple(res["counts"]) != want:
            errs.append(f"op {i}: counts {res['counts']} != recomputed {want}")
        return errs


class IngestProbe:
    """Untimed probe of the streaming corpus ingest, run after the timed
    loop of a traced ``nested_rules`` run, in the same session.

    ``corpus_ingest_foreach_batch(validator=…, bench=…, quality_bounds=…,
    dedup_threshold=…)`` is wired once and its callback called directly
    on ``EPOCHS`` generated epochs of ``BATCH`` documents: epoch 0 seeds
    the band store and the corpus, epoch 1 probes the store.  Every
    epoch is checked.  An epoch's cost is set by its job count (about
    175 jobs), not by its documents, so a few hundred documents suffice;
    at about 25 s for the seed epoch and 40 s for a probing one on a
    4-core VM, a second probing epoch would not fit the run's time.
    """

    BATCH = 500
    EPOCHS = 2

    def __init__(self, work: str, seed: int, tracer):
        self.work, self.seed, self.tracer = work, seed, tracer
        self.data = os.path.join(work, "ingest_in")
        self.out = os.path.join(work, "ingest_out")
        self.epochs: list = []

    def run(self, spark) -> list[dict]:
        """Set up, then run and check every epoch.  Returns one dict per
        attempted epoch, with ``errors`` (empty when its check passed)."""
        split = spark.conf.get("spark.sql.files.maxPartitionBytes")
        # the store is hundreds of small files: Spark's default split
        # size packs them into few tasks (the session's small splits
        # exist to spread the loop's scans over every core)
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(128 * 2**20))
        try:
            self.tracer.op = "ingest-setup"
            self._setup(spark)
            out = []
            for e in range(self.EPOCHS):
                self.tracer.op = f"ingest-{e}"
                try:
                    res = self._epoch(spark, e)
                    res["errors"] = self._check(res)
                except Exception as exc:  # counted as a failed epoch
                    res = {"epoch": e, "errors": [f"epoch {e} raised {exc!r}"]}
                out.append(res)
            return out
        finally:
            self.tracer.op = None
            spark.conf.set("spark.sql.files.maxPartitionBytes", split)

    def _setup(self, spark) -> None:
        from cerberus_spark import SparkValidator
        from cerberus_spark.streaming.validate_stream import (
            corpus_ingest_foreach_batch)

        stream = gen.DocumentStream(self.seed, self.BATCH)
        for e in range(self.EPOCHS):
            frame, roles = stream.plan(e)
            path = os.path.join(self.data, f"epoch={e}")
            gen.write_docs(frame, path)
            self.epochs.append((path, frame, roles))
        bench = spark.createDataFrame(stream.bench_frame())
        self.callback = self.tracer.wrap(corpus_ingest_foreach_batch(
            self.out, bench=bench, id_col="doc_id", text_col="text",
            validator=SparkValidator(gen.DOC_SCHEMA, key_cols=("doc_id",)),
            quality_bounds={"tokens": (gen.QUALITY_MIN_TOKENS, None)},
            contamination_n=gen.CONTAMINATION_N,
            dedup_threshold=gen.DEDUP_THRESHOLD), "ingest.epoch")

    def _epoch(self, spark, e: int) -> dict:
        batch = spark.read.parquet(self.epochs[e][0])
        store = os.path.join(self.out, "band_store")
        before = du(store)
        t0 = time.time()
        self.callback(batch, e)
        t1 = time.time()
        after = du(store)
        return {"epoch": e, "t0": t0, "t1": t1, "wall": t1 - t0,
                "store_files": after[0] - before[0],
                "store_bytes": after[1] - before[1]}

    def _check(self, res: dict) -> list[str]:
        """The funnel never increases, ``n_kept`` equals the rows in
        ``corpus/epoch=N``, ``n_valid`` equals the recomputation, and
        the kept ids are exactly the clean documents: no planted invalid,
        short, contaminated or duplicate document is kept."""
        import pyarrow.parquet as pq

        e = res["epoch"]
        _, frame, roles = self.epochs[e]
        stats = pq.read_table(
            os.path.join(self.out, "ingest_stats", f"epoch={e}")).to_pylist()[0]
        kept = set(pq.read_table(os.path.join(self.out, "corpus", f"epoch={e}"),
                                 columns=["doc_id"]).column(0).to_pylist())
        res["funnel"] = stats
        errs = []
        funnel = ["n_in", "n_valid", "n_clean", "n_quality", "n_unique", "n_kept"]
        vals = [stats[k] for k in funnel]
        if any(b > a for a, b in zip(vals, vals[1:])):
            errs.append(f"epoch {e}: funnel increases {dict(zip(funnel, vals))}")
        if stats["n_kept"] != len(kept):
            errs.append(f"epoch {e}: n_kept {stats['n_kept']} != "
                        f"{len(kept)} rows in corpus/epoch={e}")
        n_valid = int(oracle.docs_valid(frame).sum())
        if stats["n_valid"] != n_valid:
            errs.append(f"epoch {e}: n_valid {stats['n_valid']} != recomputed {n_valid}")
        planted = {d for d, r in zip(frame["doc_id"], roles)
                   if r in ("contaminated", "cross_dup")}
        if kept & planted:
            errs.append(f"epoch {e}: {len(kept & planted)} planted contaminated"
                        " or cross-epoch duplicate documents kept")
        expected = gen.DocumentStream.expected_kept(frame, roles)
        if kept != expected:
            errs.append(f"epoch {e}: kept {len(kept)} documents, expected "
                        f"{len(expected)} ({len(kept - expected)} unexpected, "
                        f"{len(expected - kept)} missing)")
        return errs

    def describe(self) -> dict:
        return {"docs_per_epoch": self.BATCH, "epochs": self.EPOCHS,
                "planted_shares": gen.SHARE}


WORKLOADS = {w.name: w for w in (FullpassFresh, NestedRules)}

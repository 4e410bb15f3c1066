"""Dataset-level constraint operators + the full checkpointed run."""

import dataclasses
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from cerberus_spark.operators import dataset as D
from cerberus_spark.run import RunConfig, ValidationRun
from cerberus_spark.sources.transcripts import TURN_SCHEMA, synthesize


@pytest.fixture(scope="module")
def data(spark):
    t, c = synthesize(5000, seed=42)
    return spark.createDataFrame(t), spark.createDataFrame(c)


def test_uniqueness(spark, data):
    t, _ = data
    dupes = D.distinct_violating_keys(t, ["conv_id", "turn_idx"])
    expected = (
        t.groupBy("conv_id", "turn_idx").count().filter(F.col("count") > 1).count()
    )
    assert dupes.count() == expected > 0
    rows = D.uniqueness_violations(t, ["conv_id", "turn_idx"])
    n_rows_in_dup_keys = (
        t.join(t.groupBy("conv_id", "turn_idx").count().filter("count > 1")
               .select("conv_id", "turn_idx"), ["conv_id", "turn_idx"]).count()
    )
    assert rows.count() == n_rows_in_dup_keys
    assert rows.first().code == 0x101


def test_referential(spark, data):
    t, c = data
    orphans = D.referential_violations(t, c, "conv_id", keys=["conv_id", "turn_idx"])
    expected = t.join(c.select("conv_id"), "conv_id", "left_anti").count()
    assert orphans.count() == expected > 0
    assert orphans.first().code == 0x102


def test_ordering(spark, data):
    t, _ = data
    bad = D.ordering_violations(t, "conv_id", "turn_idx", "ts",
                                keys=["conv_id", "turn_idx"])
    assert bad.count() > 0
    assert bad.first().code == 0x103


def test_column_stats(spark, data):
    t, _ = data
    stats = {r["column"]: r.asDict() for r in D.column_stats(t).collect()}
    assert 0 < stats["text"]["null_rate"] < 0.05
    assert stats["turn_idx"]["null_rate"] == 0.0
    assert stats["role"]["n_distinct"] >= 4
    assert len(stats["turn_idx"]["quantiles"]) == 4


def test_drift(spark):
    t1, _ = synthesize(3000, seed=42, drift=False)
    t2, _ = synthesize(3000, seed=42, drift=True)
    df1, df2 = spark.createDataFrame(t1), spark.createDataFrame(t2)
    specs = [("role", "role"), ("text_len", D.length_bucket("text"))]
    p1, p2 = D.multi_profile(df1, specs), D.multi_profile(df2, specs)
    same = D.drift_metrics(p1, p1)
    assert all(abs(m["psi"]) < 1e-9 for m in same)
    moved = {m["key"]: m for m in D.drift_metrics(p2, p1)}
    assert moved["text_len"]["psi"] > 0.2  # drift split doubled text length
    assert moved["role"]["psi"] > 0.01


def test_full_run_and_resume(spark, io_branch):
    # resume lineage requires a file-backed input (in-memory DataFrames
    # have no stable snapshot id — see test_in_memory_input_never_resumes)
    data_dir = tempfile.mkdtemp(prefix="cerbdata_")
    out = tempfile.mkdtemp(prefix="cerbrun_")
    try:
        from cerberus_spark.sources.transcripts import write_dataset, load

        write_dataset(data_dir, 5000, seed=42)
        t, c = load(spark, data_dir)
        cfg = RunConfig(out_dir=out, n_parts=8)
        run = ValidationRun(TURN_SCHEMA, cfg)
        r1 = run.execute(t, c)
        assert r1.n_turns == 5000
        assert r1.n_failed > 0
        assert r1.skipped_partitions == 0
        assert r1.n_unique_violations > 0
        assert r1.n_orphan_violations > 0
        assert r1.n_ordering_violations > 0

        viols = spark.read.parquet(out + "/violations")
        assert viols.count() == r1.n_rule_violations

        # resume: everything already validated → all partitions skipped,
        # and — critically — the prior run's outputs are NOT erased
        r2 = ValidationRun(TURN_SCHEMA, cfg).execute(t, c)
        assert r2.skipped_partitions == 8
        assert r2.n_turns == 5000  # report reflects the durable full-dataset state
        assert r2.n_failed == r1.n_failed
        assert spark.read.parquet(out + "/violations").count() == r1.n_rule_violations
        assert spark.read.parquet(out + "/summary").count() > 0

        # changed schema hash → full revalidation
        schema2 = dict(TURN_SCHEMA)
        schema2["role"] = {"type": "string", "allowed": ["system", "user"]}
        r3 = ValidationRun(schema2, cfg).execute(t, c)
        assert r3.skipped_partitions == 0
        assert r3.n_turns == 5000
    finally:
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(data_dir, ignore_errors=True)


def test_waves_commit_incrementally(spark, io_branch):
    """waves=4 processes partitions in 4 groups, each wave's checkpoint
    rows committed after its outputs land — same final results."""
    data_dir = tempfile.mkdtemp(prefix="cerbdata_")
    out1 = tempfile.mkdtemp(prefix="cerbrun_")
    out2 = tempfile.mkdtemp(prefix="cerbrun_")
    try:
        from cerberus_spark.sources.transcripts import write_dataset, load

        write_dataset(data_dir, 3000, seed=7)
        t, c = load(spark, data_dir)
        r_single = ValidationRun(TURN_SCHEMA, RunConfig(out_dir=out1, n_parts=8)).execute(t, c)
        r_waved = ValidationRun(
            TURN_SCHEMA, RunConfig(out_dir=out2, n_parts=8, waves=4)
        ).execute(t, c)
        assert r_waved.n_turns == r_single.n_turns
        assert r_waved.n_failed == r_single.n_failed
        assert r_waved.n_rule_violations == r_single.n_rule_violations
        # one checkpoint row per non-empty partition, committed 'done'
        # (the summary holds a totals row plus drift profile rows per
        # partition, so count its distinct part_ids)
        ckpt = spark.read.parquet(out2 + "/checkpoint")
        assert ckpt.filter("status = 'done'").count() == \
            spark.read.parquet(out2 + "/summary").select("part_id").distinct().count()
        # a resumed run over the waved output skips everything
        r_resume = ValidationRun(
            TURN_SCHEMA, RunConfig(out_dir=out2, n_parts=8, waves=4)
        ).execute(t, c)
        assert r_resume.skipped_partitions == 8
        assert r_resume.n_failed == r_waved.n_failed
    finally:
        for d in (out1, out2, data_dir):
            shutil.rmtree(d, ignore_errors=True)


def test_reused_out_dir_never_mixes_lineages(spark, io_branch):
    """ADVICE r2 (medium): dynamic partition overwrite leaves partitions
    that have zero rows under a NEW input untouched on disk — reusing an
    out_dir with a different dataset must not mix the old run's
    summary/violations rows into the new report or checkpoint commits.
    The engine clears the output dirs when no partition is committed for
    the current lineage and stamps summary rows with a lineage id."""
    data1 = tempfile.mkdtemp(prefix="cerbdata_")
    data2 = tempfile.mkdtemp(prefix="cerbdata_")
    out = tempfile.mkdtemp(prefix="cerbrun_")
    try:
        from cerberus_spark.sources.transcripts import write_dataset, load

        write_dataset(data1, 5000, seed=42)
        t1, c1 = load(spark, data1)
        cfg = RunConfig(out_dir=out, n_parts=8)
        r1 = ValidationRun(TURN_SCHEMA, cfg).execute(t1, c1)
        assert r1.n_turns == 5000

        # same out_dir, different (much smaller) input → new lineage;
        # several of the 8 part_ids have zero rows now
        write_dataset(data2, 60, seed=9)
        t2, c2 = load(spark, data2)
        r2 = ValidationRun(TURN_SCHEMA, cfg).execute(t2, c2)
        assert r2.skipped_partitions == 0
        assert r2.n_turns == 60  # NOT 5000-contaminated
        viols = spark.read.parquet(out + "/violations")
        assert viols.count() == r2.n_rule_violations
        # checkpoint rows committed under the new lineage describe ≤ 60 turns
        ckpt = spark.read.parquet(out + "/checkpoint")
        from pyspark.sql import functions as SF
        latest = ckpt.groupBy("snapshot_id").agg(SF.sum("n_turns").alias("n"))
        assert {int(r["n"]) for r in latest.collect()} == {5000, 60}
    finally:
        for d in (data1, data2, out):
            shutil.rmtree(d, ignore_errors=True)


def test_in_memory_input_never_resumes(spark, data):
    """In-memory DataFrames share no lineage: a rerun must revalidate
    (the old constant 'in-memory' snapshot id let two DIFFERENT
    datasets share checkpoint state and skip each other's work)."""
    t, c = data
    out = tempfile.mkdtemp(prefix="cerbrun_")
    try:
        cfg = RunConfig(out_dir=out, n_parts=8)
        r1 = ValidationRun(TURN_SCHEMA, cfg).execute(t, c)
        assert r1.skipped_partitions == 0
        r2 = ValidationRun(TURN_SCHEMA, cfg).execute(t, c)
        assert r2.skipped_partitions == 0  # no false resume
        assert r2.n_turns == 5000
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_multi_profile_equals_separate_profiles(spark, data):
    t, _ = data
    merged = {(r["key"], r["bucket"]): r["freq"]
              for r in D.multi_profile(t, [
                  ("role", "role"), ("tool", "tool"),
                  ("text_len", D.length_bucket("text"))]).collect()}
    # one groupBy per spec, normalized on the driver
    separate = {}
    for key, expr in (("role", "role"), ("tool", "tool"),
                      ("text_len", D.length_bucket("text"))):
        col = F.col(expr) if isinstance(expr, str) else expr
        counts = {r["b"]: r["n"] for r in t.groupBy(
            col.cast("string").alias("b")).agg(F.count(F.lit(1)).alias("n")).collect()}
        total = sum(counts.values())
        for b, n in counts.items():
            separate[(key, "<null>" if b is None else b)] = n / total
    assert merged.keys() == separate.keys()
    assert all(abs(merged[k] - separate[k]) < 1e-12 for k in merged)


def test_stats_bound_violations(spark, data):
    t, _ = data
    got = D.stats_bound_violations(t, {
        "text": {"null_rate_max": 0.001},     # data has ~0.5% nulls → fires
        "turn_idx": {"min": 0},               # negatives injected → fires
        "role": {"n_distinct_min": 3,         # ≥3 roles → passes
                 "n_distinct_max": 4},        # 5 (incl. bogus) → fires
        "conv_id": {"null_rate_max": 1.0},    # passes
    }).collect()
    fired = {(r["document_path"][0], r["schema_path"][2]) for r in got}
    assert fired == {("text", "null_rate_max"), ("turn_idx", "min"),
                     ("role", "n_distinct_max")}
    assert all(r["code"] == 0x105 for r in got)


def test_key_counts_equal_counter_fuzz(spark):
    """The one partial-aggregated groupBy behind uniqueness counts
    EXACTLY what a Python Counter counts, for any key distribution
    (including a pathological hot key) and any number of map tasks
    feeding partials — fuzzed over random multiplicities."""
    import random
    from collections import Counter

    rng = random.Random(11)
    rows = []
    for k in range(40):
        mult = rng.choice([1, 1, 1, 2, 3, 7, 500 if k == 0 else 1])
        rows += [(f"k{k}", i % 5) for i in range(mult)]
    want = Counter(rows)
    for n_map in (1, 7, 16):
        df = spark.createDataFrame(rows, "a string, b int").repartition(n_map)
        got = {(r["a"], r["b"]): r["n"]
               for r in D.key_counts(df, ["a", "b"]).collect()}
        assert got == want, n_map


def test_unreadable_summary_fails_the_report(spark, io_branch, tmp_path):
    """Only an absent summary or one without data files reads as empty:
    a corrupt summary part file must fail a fully resumed run's report,
    not report n_turns=0."""
    import os

    from cerberus_spark.sources.transcripts import write_dataset, load

    write_dataset(str(tmp_path / "data"), 500, seed=7)
    t, c = load(spark, str(tmp_path / "data"))
    cfg = RunConfig(out_dir=str(tmp_path / "out"), n_parts=4)
    assert ValidationRun(TURN_SCHEMA, cfg).execute(t, c).n_turns == 500

    summary = tmp_path / "out" / "summary"
    part = next(n for n in sorted(os.listdir(summary)) if n.endswith(".parquet"))
    (summary / part).write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet"):
        ValidationRun(TURN_SCHEMA, cfg).execute(t, c)


def test_resume_after_single_fresh_run(spark, io_branch, tmp_path):
    """A fresh single-wave run writes summary and violations flat.  A
    rerun skips exactly the non-empty partitions, reports the same
    totals, and its waves over the never-committed (empty) partitions
    leave no ``part_id=`` dir beside the flat files."""
    import os

    from cerberus_spark.plans.checkpoint import part_id_col
    from cerberus_spark.sources.transcripts import write_dataset, load

    write_dataset(str(tmp_path / "data"), 60, seed=9)
    t, c = load(spark, str(tmp_path / "data"))
    out = str(tmp_path / "out")
    cfg = RunConfig(out_dir=out, n_parts=64)
    non_empty = t.select(part_id_col("conv_id", 64)).distinct().count()
    assert 0 < non_empty < 64

    r1 = ValidationRun(TURN_SCHEMA, cfg).execute(t, c)
    r2 = ValidationRun(TURN_SCHEMA, cfg).execute(t, c)
    assert (r1.skipped_partitions, r2.skipped_partitions) == (0, non_empty)
    assert r1.n_turns == r2.n_turns == 60
    assert r1.n_failed == r2.n_failed
    for sub in ("summary", "violations"):
        names = os.listdir(f"{out}/{sub}")
        assert any(n.endswith(".parquet") for n in names), sub
        assert not [n for n in names if n.startswith("part_id=")], sub


def test_empty_input_reports_zeros(spark, io_branch, tmp_path):
    """An empty input leaves a summary without data rows: one empty
    part file from the flat single-wave write, only ``_SUCCESS`` from
    the partitioned waved write.  The report reads either as zeros."""
    from cerberus_spark.sources.transcripts import write_dataset, load

    write_dataset(str(tmp_path / "data"), 60, seed=9)
    t, c = load(spark, str(tmp_path / "data"))
    for waves in (1, 4):
        cfg = RunConfig(out_dir=str(tmp_path / f"out{waves}"), n_parts=8,
                        waves=waves)
        r = ValidationRun(TURN_SCHEMA, cfg).execute(t.limit(0), c)
        assert (r.n_turns, r.n_failed, r.n_rule_violations,
                r.skipped_partitions) == (0, 0, 0, 0), waves


def test_failed_waves_do_not_commit_drift_baseline(spark):
    """A run whose validation waves fail must not leave a first-run
    drift baseline behind (r4 ADVICE): later runs would compare against
    the profile of an input that never validated.  After the failure is
    fixed, a clean run commits the baseline normally."""
    import os

    from cerberus_spark.sources.transcripts import write_dataset, load

    data_dir = tempfile.mkdtemp(prefix="cerbdata_")
    out = tempfile.mkdtemp(prefix="cerbrun_")
    try:
        write_dataset(data_dir, 500, seed=7)
        t, c = load(spark, data_dir)
        run = ValidationRun(TURN_SCHEMA, RunConfig(out_dir=out, n_parts=4))

        def boom(*a, **kw):
            raise RuntimeError("forced wave failure")

        run._run_validation_waves = boom
        with pytest.raises(RuntimeError, match="forced wave failure"):
            run.execute(t, c)
        assert not os.path.exists(out + "/baseline_stats"), \
            "failed run committed a drift baseline"

        # clean run afterwards: baseline commits, drift list empty (first run)
        r = ValidationRun(TURN_SCHEMA, RunConfig(out_dir=out, n_parts=4)).execute(t, c)
        assert r.drift == []
        assert os.path.exists(out + "/baseline_stats")
        # second run now has a baseline to compare against
        r2 = ValidationRun(TURN_SCHEMA, RunConfig(out_dir=out, n_parts=4)).execute(t, c)
        assert len(r2.drift) > 0
    finally:
        shutil.rmtree(data_dir, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)



def _baseline_rows(spark, out):
    return sorted(tuple(r) for r in spark.read.parquet(out + "/baseline_stats").collect())


@pytest.mark.parametrize("k", [1, 2, 3])
def test_drift_after_failed_run_equals_fresh(spark, io_branch, tmp_path,
                                             monkeypatch, k):
    """A waves=4 run that fails after its k-th wave commit leaves no
    drift baseline.  Its resumed run merges the committed partitions'
    profile rows with its own, so its drift and baseline equal a fresh
    run's, and so does a later run's drift against that baseline."""
    import os

    from cerberus_spark.plans.checkpoint import CheckpointStore
    from cerberus_spark.sources.transcripts import write_dataset, load

    write_dataset(str(tmp_path / "d1"), 600, seed=7)
    write_dataset(str(tmp_path / "d2"), 600, seed=7, drift=True)
    t1, c1 = load(spark, str(tmp_path / "d1"))
    t2, c2 = load(spark, str(tmp_path / "d2"))
    fresh, failed = str(tmp_path / "fresh"), str(tmp_path / "failed")

    def run(out, t, c):
        return ValidationRun(
            TURN_SCHEMA, RunConfig(out_dir=out, n_parts=8, waves=4)).execute(t, c)

    commit = CheckpointStore.commit_rows
    calls = []

    def commit_then_fail(self, *a, **kw):
        commit(self, *a, **kw)
        calls.append(1)
        if len(calls) == k:
            raise RuntimeError("forced failure after a wave commit")

    monkeypatch.setattr(CheckpointStore, "commit_rows", commit_then_fail)
    with pytest.raises(RuntimeError, match="forced failure"):
        run(failed, t1, c1)
    monkeypatch.setattr(CheckpointStore, "commit_rows", commit)
    assert not os.path.exists(failed + "/baseline_stats")

    r_fresh, r_resumed = run(fresh, t1, c1), run(failed, t1, c1)
    assert r_resumed.skipped_partitions > 0
    assert r_resumed == dataclasses.replace(
        r_fresh, skipped_partitions=r_resumed.skipped_partitions)
    assert r_fresh.drift == []
    assert _baseline_rows(spark, failed) == _baseline_rows(spark, fresh)
    # a drifted input compared against each baseline
    d_fresh, d_resumed = run(fresh, t2, c2).drift, run(failed, t2, c2).drift
    assert d_resumed == d_fresh
    assert {m["key"] for m in d_fresh} == {"role", "tool", "text_len"}
    assert max(m["psi"] for m in d_fresh) > 0.2


def test_no_baseline_at_any_wave_commit(spark, io_branch, tmp_path,
                                        monkeypatch):
    """The drift baseline is written only after the last wave has
    committed: no wave commit of a first run ever sees one."""
    import os

    from cerberus_spark.plans.checkpoint import CheckpointStore
    from cerberus_spark.sources.transcripts import write_dataset, load

    write_dataset(str(tmp_path / "data"), 600, seed=7)
    t, c = load(spark, str(tmp_path / "data"))
    out = str(tmp_path / "out")
    commit = CheckpointStore.commit_rows
    seen = []

    def spy(self, *a, **kw):
        seen.append(os.path.exists(out + "/baseline_stats"))
        commit(self, *a, **kw)

    monkeypatch.setattr(CheckpointStore, "commit_rows", spy)
    r = ValidationRun(TURN_SCHEMA, RunConfig(out_dir=out, n_parts=8,
                                             waves=4)).execute(t, c)
    assert seen == [False] * 4
    assert r.drift == [] and os.path.exists(out + "/baseline_stats")


def test_old_layout_checkpoint_is_not_resumed(spark, io_branch, tmp_path):
    """A checkpoint whose summary has the old one-row-per-partition
    layout (no key/bucket columns) carries another predicate set, so
    the next run does not resume from it and reports correct totals."""
    import json

    from cerberus_spark.plans.checkpoint import CheckpointStore, snapshot_id
    from cerberus_spark.sources.transcripts import write_dataset, load

    write_dataset(str(tmp_path / "data"), 600, seed=7)
    t, c = load(spark, str(tmp_path / "data"))
    out = str(tmp_path / "out")
    cfg = RunConfig(out_dir=out, n_parts=8)
    run = ValidationRun(TURN_SCHEMA, cfg)
    old_predicates = json.dumps(
        {"keys": list(cfg.key_cols), "conv": cfg.conv_col,
         "order": cfg.order_col, "ts": cfg.ts_col, "n_parts": cfg.n_parts},
        sort_keys=True)
    old_rows = [{"part_id": p, "n_rows": 1, "n_failed": 1, "n_violations": 1}
                for p in range(8)]
    spark.createDataFrame(
        [(p, 1, 1, 1, None) for p in range(8)],
        "part_id int, n_rows long, n_failed long, n_violations long, "
        "lineage string").write.parquet(out + "/summary")
    CheckpointStore(spark, out + "/checkpoint").commit_rows(
        old_rows, snapshot_id(t), run.validator.schema_hash, old_predicates)

    r = run.execute(t, c)
    fresh = ValidationRun(TURN_SCHEMA, RunConfig(
        out_dir=str(tmp_path / "fresh"), n_parts=8)).execute(t, c)
    assert r.skipped_partitions == 0
    assert r == fresh and r.n_turns == 600


def test_rollup_profile_matches_duckdb(spark):
    """ROLLUP parity with DuckDB GROUP BY ROLLUP on the sf0.001 events
    table, gid (grouping_id) disambiguating super-aggregate NULLs from
    the table's genuine NULL event_type/ts groups; plan must be ONE
    Expand + hash aggregate (single pass), not one scan per level."""
    import duckdb

    ev_path = "/root/testdata/sf0.001/events.parquet"
    out = D.rollup_profile(
        spark.read.parquet(ev_path),
        [F.col("event_type"), F.to_date(F.col("ts")).alias("day")],
        [F.count(F.lit(1)).alias("n"),
         F.round(F.sum("value"), 3).alias("sum_value")],
    ).select("event_type", "day", "gid", "n", "sum_value")

    def key(t):
        return tuple("~N~" if v is None else str(v) for v in t)

    got = sorted(
        key((r.event_type, r.day, r.gid, r.n, r.sum_value))
        for r in out.collect()
    )
    want = sorted(
        key(t)
        for t in duckdb.sql(f"""
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(GROUPING(event_type, CAST(ts AS DATE)) AS INTEGER) AS gid,
                   COUNT(*) AS n, ROUND(SUM(value), 3) AS sum_value
            FROM '{ev_path}'
            GROUP BY ROLLUP(event_type, CAST(ts AS DATE))
        """).fetchall()
    )
    assert got == want
    # levels present: (type, day)=0, (type)=1, grand total=3
    gids = {r.gid for r in out.collect()}
    assert gids == {0, 1, 3}
    # look at the final plan only (the AQE string repeats the initial plan)
    plan = (
        out._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert plan.count("Expand") == 1
    assert plan.count("FileScan") == 1  # one pass, not one scan per level
    assert "partial_count" in plan  # map-side combine below the exchange


def test_cube_profile_matches_duckdb(spark):
    """kind='cube' emits all 2^d subsets; DuckDB GROUP BY CUBE parity,
    gid set {0,1,2,3} for two dims."""
    import duckdb

    ev_path = "/root/testdata/sf0.001/events.parquet"
    out = D.rollup_profile(
        spark.read.parquet(ev_path),
        [F.col("event_type"), F.to_date(F.col("ts")).alias("day")],
        kind="cube",
    ).select("event_type", "day", "gid", "n")

    def key(t):
        return tuple("~N~" if v is None else str(v) for v in t)

    got = sorted(key((r.event_type, r.day, r.gid, r.n)) for r in out.collect())
    want = sorted(
        key(t)
        for t in duckdb.sql(f"""
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(GROUPING(event_type, CAST(ts AS DATE)) AS INTEGER) AS gid,
                   COUNT(*) AS n
            FROM '{ev_path}'
            GROUP BY CUBE(event_type, CAST(ts AS DATE))
        """).fetchall()
    )
    assert got == want
    assert {r.gid for r in out.collect()} == {0, 1, 2, 3}


def test_run_with_sequence_rules(spark, data):
    """RunConfig.sequence_rules folds the conversation-grammar check
    into the dataset-violations sink and the report; the count must
    equal the standalone operator's on the same input."""
    from cerberus_spark.operators import sequence as S

    t, c = data
    rules = dict(
        first_roles=["system"],
        transitions={"system": ["user"],
                     "user": ["assistant", "tool", "system"],
                     "assistant": ["user", "system"],
                     "tool": ["user", "system"]},
        contiguous=True, monotone_ts=True,
        order_tie=("ts", "role", "text", "tool"),
    )
    expected = S.sequence_violations(t, **rules).count()
    assert expected > 0
    out = tempfile.mkdtemp(prefix="cerbseq_")
    try:
        cfg = RunConfig(out_dir=out, n_parts=8, resume=False,
                        sequence_rules=rules)
        rep = ValidationRun(TURN_SCHEMA, cfg).execute(t, c)
        assert rep.n_sequence_violations == expected
        ds = spark.read.parquet(out + "/dataset_violations")
        assert ds.filter(F.col("code") == 0x107).count() == expected
        # the other dataset checks are unaffected
        assert rep.n_unique_violations > 0
        assert rep.n_ordering_violations > 0
    finally:
        shutil.rmtree(out, ignore_errors=True)

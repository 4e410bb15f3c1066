"""Physical-plan assertions: the engine's scale promises hold."""

from pyspark.sql import functions as F

from cerberus_spark import SparkValidator
from cerberus_spark.plans.explain import assert_shuffle_free, plan_report
from cerberus_spark.sources.transcripts import TURN_SCHEMA, synthesize


def test_validation_is_shuffle_free_codegen(spark, tmp_path):
    t, _ = synthesize(1000, seed=42)
    src = str(tmp_path / "t")
    spark.createDataFrame(t).write.parquet(src)
    df = spark.read.parquet(src)
    annotated = SparkValidator(TURN_SCHEMA).annotate(df)
    assert_shuffle_free(annotated)
    rep = plan_report(annotated)
    assert rep["whole_stage_codegen"]
    assert not rep["python_workers"]  # no pandas UDFs in the flat rule-set


def test_filter_pushdown_reaches_scan(spark, tmp_path):
    t, _ = synthesize(1000, seed=42)
    src = str(tmp_path / "t2")
    spark.createDataFrame(t).write.parquet(src)
    df = spark.read.parquet(src).filter(F.col("role") == "user").select("conv_id", "role")
    rep = plan_report(df)
    assert rep["pushed_filters"]


def test_referential_broadcasts(spark):
    """Default broadcast_dim=False: the PLANNER/AQE still picks a
    broadcast join for a small dim from its statistics (no forced
    hint), and with broadcasting disabled the same plan degrades to a
    shuffled join instead of a forced-broadcast OOM — the safe-at-scale
    default (VERDICT r2 item 4)."""
    from cerberus_spark.operators.dataset import referential_violations

    t, c = synthesize(1000, seed=42)
    df, dim = spark.createDataFrame(t), spark.createDataFrame(c)
    orphans = referential_violations(df, dim, "conv_id", keys=["conv_id", "turn_idx"])
    # no hint, yet the small dim broadcasts (stats-driven)
    assert plan_report(orphans)["broadcast_joins"] >= 1
    n_default = orphans.count()

    # a dim too big to broadcast (simulated via threshold -1) must NOT
    # broadcast under the default — AQE/planner falls back to a shuffled
    # join; a forced hint would have kept the broadcast regardless
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        big = referential_violations(df, dim, "conv_id", keys=["conv_id", "turn_idx"])
        assert plan_report(big)["broadcast_joins"] == 0
        assert big.count() == n_default  # strategy change, same rows
        forced = referential_violations(df, dim, "conv_id",
                                        keys=["conv_id", "turn_idx"],
                                        broadcast_dim=True)
        assert plan_report(forced)["broadcast_joins"] >= 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_text_ops_stay_in_codegen(spark):
    """Regression guard for VERDICT r1 finding #3: the text-analysis
    operators must contain NO higher-order-function CodegenFallback and
    no Python workers — pure whole-stage codegen over the scan."""
    from pyspark.sql import functions as F

    from cerberus_spark.functions import text
    from cerberus_spark.plans.explain import physical_plan, plan_report

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = docs.select(
        text.token_count(F.col("text")).alias("n_tok"),
        text.bpe_token_count(F.col("text")).alias("n_bpe"),
        text.quality_score(F.col("text")).alias("q"),
        text.lang_id(F.col("text")).alias("lang"),
        text.stopword_ratio(F.col("text")).alias("swr"),
        text.mean_word_length(F.col("text")).alias("mwl"),
        text.fingerprint(F.col("text")).alias("fp"),
    )
    rep = plan_report(out)
    plan = physical_plan(out)
    assert rep["whole_stage_codegen"] and not rep["python_workers"]
    assert rep["n_exchanges"] == 0
    # HOF expressions (filter/transform/aggregate lambdas) are
    # CodegenFallback; none may appear in these operators
    for needle in ("ArrayFilter", "ArrayTransform", "ArrayAggregate", "lambdafunction"):
        assert needle not in plan, f"{needle} found:\n{plan[:2000]}"


def test_bucketed_input_runs_shuffle_free(spark, tmp_path):
    """A transcripts table bucketed by conv_id satisfies the clustering
    requirements of uniqueness (groupBy conv_id+turn_idx) and the
    per-conversation ordering window — ZERO exchanges in either plan;
    the same plans over plain parquet need their shuffles."""
    from cerberus_spark.operators import dataset as D
    from cerberus_spark.sources.bucketed import read_bucketed, write_bucketed
    from cerberus_spark.sources.transcripts import synthesize
    from cerberus_spark.plans.explain import plan_report

    t, _ = synthesize(2000, seed=42)
    df = spark.createDataFrame(t)
    write_bucketed(df, "transcripts_bucketed", ["conv_id"], n_buckets=8,
                   sort_cols=["turn_idx"], path=str(tmp_path / "bt"))
    try:
        bt = read_bucketed(spark, "transcripts_bucketed")

        uniq_b = D.distinct_violating_keys(bt, ["conv_id", "turn_idx"])
        ord_b = D.ordering_violations(bt, "conv_id", "turn_idx", "ts")
        assert plan_report(uniq_b)["n_exchanges"] == 0
        assert plan_report(ord_b)["n_exchanges"] == 0

        # control: the un-bucketed frame needs its shuffles
        uniq_p = D.distinct_violating_keys(df, ["conv_id", "turn_idx"])
        ord_p = D.ordering_violations(df, "conv_id", "turn_idx", "ts")
        assert plan_report(uniq_p)["n_exchanges"] > 0
        assert plan_report(ord_p)["n_exchanges"] > 0

        # and the results are identical either way
        assert sorted(map(tuple, uniq_b.collect())) == \
            sorted(map(tuple, uniq_p.collect()))
    finally:
        spark.sql("DROP TABLE IF EXISTS transcripts_bucketed")


def test_ann_hot_paths_stay_on_arrow(spark):
    """Path-selection pins: at production-ish dims the signature/cell
    assignments must run as Arrow batches (ArrowEvalPython in the plan),
    NOT as zip_with+aggregate HOF chains (CodegenFallback — interpreted
    per row per bit, measured 4.5-10x slower at 64 dims)."""
    import numpy as np

    from cerberus_spark.functions import dedup, similarity as S

    rng = np.random.default_rng(5)
    rows = [(i, [float(x) for x in rng.standard_normal(64)]) for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, emb array<double>")

    pairs = dedup.embedding_near_dups(df, "doc_id", "emb", threshold=0.95,
                                      dim=64)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan

    cent = S.train_centroids(df, "emb", n_cells=4, sample=50)
    top = S.ivf_topk(df, "emb", rows[0][1], cent, k=3, id_col="doc_id")
    plan2 = top._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan2

    # tiny plans stay pure-Column (16 dims x 12 bits < budget)
    small = df.select(S.lsh_bucket_auto(
        F.col("emb")[0:16].cast("array<double>")
        if False else F.slice("emb", 1, 16),
        S.hyperplanes(16, 12, 42)).alias("b"))
    plan3 = small._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan3


def test_exact_cosine_auto_path(spark):
    """Exact-cosine scoring path pins (r4 VERDICT item 3): at wide dims
    (>COSINE_DIM_BUDGET) brute-force scans score on the Arrow matmul
    (ArrowEvalPython); at fixture dims (<=64) they stay on the exact
    Column form so oracle float-summation order is unchanged."""
    import numpy as np

    from cerberus_spark.functions import similarity as S

    rng = np.random.default_rng(9)

    def frame(dim, n=30):
        rows = [(i, [float(x) for x in rng.standard_normal(dim)])
                for i in range(n)]
        return rows, spark.createDataFrame(rows, "doc_id long, emb array<double>")

    rows_w, wide = frame(128)
    top = S.brute_force_topk(wide, "emb", rows_w[0][1], k=3)
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan

    rows_n, narrow = frame(64)
    top64 = S.brute_force_topk(narrow, "emb", rows_n[0][1], k=3)
    plan64 = top64._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan64

    # pair scorer: Arrow only when the caller declares a wide dim
    queries = wide.filter(F.col("doc_id") < 2).select(
        F.col("doc_id").alias("query_id"), F.col("emb").alias("q_emb"))
    multi = S.brute_force_topk_multi(wide, "emb", queries, k=2, dim=128)
    assert "ArrowEvalPython" in multi._jdf.queryExecution().executedPlan().toString()
    multi_col = S.brute_force_topk_multi(wide, "emb", queries, k=2)
    assert "ArrowEvalPython" not in multi_col._jdf.queryExecution().executedPlan().toString()

    # both paths rank identically on this corpus
    exact = wide.select(
        "doc_id", S.cosine(F.col("emb"), S._lit_vec(rows_w[0][1])).alias("s")
    ).orderBy(F.col("s").desc(), "doc_id").limit(3)
    assert [r.doc_id for r in top.collect()] == [r.doc_id for r in exact.collect()]


def test_auto_bits_sizing():
    """auto_bits: bucket space exceeds the corpus by the margin factor
    (the live-measured 1M/12-bit occupancy blow-up must be impossible
    with the helper's output)."""
    from cerberus_spark.functions.similarity import auto_bits

    assert auto_bits(1_000_000) == 24          # ceil(log2 1e6)=20, +4
    assert auto_bits(10_000) == 18
    assert auto_bits(1) == 5                   # floor: log2(2)=1, +4
    for n in (100, 10_000, 1_000_000, 10**9):
        assert 2 ** auto_bits(n) >= 8 * n      # occupancy < 1/8 always


def test_pass_fail_consumers_build_no_violations(spark, tmp_path, monkeypatch):
    """``passed`` is the compiled fail predicate, so consumers that only
    need pass/fail never build a violation: over the nested FIXTURES.md
    §4 rule-set the optimized plans of ``counts()`` and ``validated()``
    hold no ``transform``/``flatten`` and no violation struct, while
    ``annotate()`` stays one Project over the scan."""
    from test_rule_twins import NESTED_DDL, NESTED_SCHEMA, nested_rows

    src = str(tmp_path / "nested")
    spark.createDataFrame(nested_rows(200, seed=5), NESTED_DDL).write.parquet(src)
    df = spark.read.parquet(src)
    v = SparkValidator(NESTED_SCHEMA, key_cols=("row_id",))

    # the frame counts() aggregates, captured where it is collected
    frames = []
    cls = type(df)
    first = cls.first
    monkeypatch.setattr(cls, "first",
                        lambda self: frames.append(self) or first(self))
    v.validate(df).counts()
    assert len(frames) == 1
    for frame in (frames[0], v.validated(df)):
        plan = frame._jdf.queryExecution().optimizedPlan().toString()
        for needle in ("transform(", "flatten(", "document_path"):
            assert needle not in plan, f"{needle} found:\n{plan[:3000]}"

    annotated = v.annotate(df)
    plan = annotated._jdf.queryExecution().optimizedPlan()
    assert plan.nodeName() == "Project"
    assert plan.children().apply(0).nodeName() in ("Relation", "LogicalRelation")
    assert "document_path" in plan.toString()  # the violations are there
    assert_shuffle_free(annotated)


def test_violations_frame_builds_each_array_once(spark, tmp_path):
    """A plain ``explode(violations)`` makes Spark infer ``size(
    violations) > 0`` below the generator and push the whole violation
    expression into that Filter, building every row's array twice; the
    violations frame filters after the generator instead."""
    from cerberus_spark.plans.explain import optimized_plan

    t, _ = synthesize(500, seed=42)
    src = str(tmp_path / "t")
    spark.createDataFrame(t).write.parquet(src)
    res = SparkValidator(TURN_SCHEMA, key_cols=("conv_id", "turn_idx")).validate(
        spark.read.parquet(src))
    plan = optimized_plan(res.violations)
    filters = [ln for ln in plan.splitlines()
               if ln.lstrip("+-: ").startswith("Filter")]
    assert filters and not any("size(" in ln for ln in filters), plan[:3000]
    assert res.violations.count() == res.annotated.select(
        F.sum(F.size("violations"))).first()[0]

"""Dataset-level constraints the reference cannot express (SURVEY.md §2.5).

The reference engine validates one document at a time
(/root/reference/cerberus/validator.py:1009-1049) — it has no notion of
uniqueness, referential integrity, column statistics, or distribution
drift.  These operators add them Spark-first:

* uniqueness        — one partial-aggregated groupBy (hot-key skew
                      bounded by map-side partial aggregation)
* referential       — AQE-chosen LEFT ANTI join (broadcast is an opt-in
                      switch)
* ordering          — per-partition window (lag) monotonicity check
* column stats      — one aggregation pass: null rate, HLL distinct,
                      min/max, approximate quantiles (map-side partial
                      aggregation; the result is final numbers, not
                      sketches that later runs could merge)
* drift             — categorical/histogram frequency profiles compared
                      by KL divergence and PSI against a baseline

All violation outputs share the violation-row contract
(cerberus_spark.errors.VIOLATION_STRUCT) keyed by the caller's key
columns, so they union cleanly with per-row rule violations.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, functions as F

from .. import errors as E

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _violation_struct(code_def: E.ErrorDefinition, doc_path: Column, schema_path: list,
                      constraint: str, value: Column, info: Column | None = None) -> Column:
    return F.struct(
        doc_path.alias("document_path"),
        F.array(*[F.lit(p) for p in schema_path]).alias("schema_path"),
        F.lit(code_def.code).cast("int").alias("code"),
        F.lit(code_def.rule).cast("string").alias("rule"),
        F.lit(constraint).cast("string").alias("constraint"),
        value.cast("string").alias("value"),
        (info if info is not None else F.lit(None)).cast("string").alias("info"),
    )


def key_counts(df: DataFrame, keys: list[str]) -> DataFrame:
    """Count per key as one partial-aggregated exchange: each map task
    emits one partial row per key it saw (hash agg before the shuffle),
    so reducer fan-in is bounded at #map-tasks rows per key — the skew
    bound a salted two-stage count would buy, without its second full
    exchange of the partials (guide §2: shuffle fewer bytes via
    map-side aggregation).  Returns (keys..., n)."""
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# uniqueness
# ---------------------------------------------------------------------------


def uniqueness_violations(df: DataFrame, keys: list[str]) -> DataFrame:
    """One violation row per row participating in a duplicated key.

    NOT_UNIQUE (0x101).  Returns (keys..., + violation fields).

    No broadcast hint on the duplicate-key side: a dirty 100 TB source
    can have millions of duplicated keys, and forcing a broadcast would
    OOM the driver.  AQE picks broadcast-hash from runtime stats when
    the dup set is actually small, sort-merge otherwise.

    The count rides map-side partial aggregation (``key_counts`` —
    reducer fan-in is bounded at #map-tasks partial rows per key)."""
    dupes = key_counts(df, keys).filter(F.col("n") > 1)
    joined = df.select(*keys).join(dupes, keys, "inner")
    key_json = F.to_json(F.struct(*[F.col(k) for k in keys]))
    v = _violation_struct(
        E.NOT_UNIQUE,
        F.array(*[F.lit(k) for k in keys]),
        ["__dataset__", "unique"],
        ",".join(keys),
        key_json,
        F.col("n").cast("string"),
    )
    return joined.select(*keys, v.alias("v")).select(*keys, "v.*")


def distinct_violating_keys(df: DataFrame, keys: list[str]) -> DataFrame:
    """(keys..., n) for keys appearing more than once — the compact
    form; the count is one partial-aggregated exchange."""
    return key_counts(df, keys).filter(F.col("n") > 1)


# ---------------------------------------------------------------------------
# referential integrity
# ---------------------------------------------------------------------------


def referential_violations(
    df: DataFrame,
    dim: DataFrame,
    fk: str,
    pk: str | None = None,
    keys: list[str] | None = None,
    broadcast_dim: bool = False,
) -> DataFrame:
    """Rows of ``df`` whose ``fk`` has no match in ``dim.pk`` →
    ORPHAN_REFERENCE (0x102) violation rows.

    Uses LEFT ANTI join; the dim side is distinct-projected first.  The
    safe-at-scale DEFAULT lets AQE pick broadcast vs shuffled join from
    runtime stats (a small dim still broadcasts at runtime — plan-tested
    — while a dim that turns out huge cannot OOM the executors on a
    forced hint).  Pass ``broadcast_dim=True`` to force the hint when
    the dim is known-small and the statistics are known-bad."""
    pk = pk or fk
    keys = keys or [fk]
    dim_keys = dim.select(F.col(pk).alias(fk)).distinct()
    if broadcast_dim:
        dim_keys = F.broadcast(dim_keys)
    orphans = df.select(*dict.fromkeys(keys + [fk])).join(dim_keys, fk, "left_anti")
    v = _violation_struct(
        E.ORPHAN_REFERENCE,
        F.array(F.lit(fk)),
        ["__dataset__", "referential"],
        f"{fk} -> {pk}",
        F.col(fk),
    )
    return orphans.select(*keys, v.alias("v")).select(*keys, "v.*")


# ---------------------------------------------------------------------------
# ordering (per-conversation monotonicity)
# ---------------------------------------------------------------------------


def ordering_violations(
    df: DataFrame,
    partition_by: str,
    order_by: str,
    ts_col: str,
    keys: list[str] | None = None,
) -> DataFrame:
    """Turns whose ``ts`` regresses vs the previous turn (by
    ``order_by``) within a conversation → ORDERING_VIOLATION (0x103).

    The window's required distribution IS the explicit conv_id
    partitioning the north rule asks for — Catalyst inserts the
    hash-partition exchange on ``partition_by`` to satisfy it (AQE
    handles long-tail skew).  No manual ``repartition`` call: it would
    duplicate that requirement and, worse, FORCE a shuffle even when
    the input is already bucketed by ``partition_by`` (a bucketed scan
    satisfies the window's distribution and runs shuffle-free —
    tests/test_plans.py::test_bucketed_input_runs_shuffle_free)."""
    from pyspark.sql import Window as W

    keys = keys or [partition_by, order_by]
    w = W.partitionBy(partition_by).orderBy(order_by)
    narrow = df.select(*dict.fromkeys(keys + [partition_by, order_by, ts_col]))
    lagged = narrow.select(
        *keys, F.col(ts_col), F.lag(ts_col).over(w).alias("_prev_ts")
    )
    bad = lagged.filter(F.col("_prev_ts").isNotNull() & (F.col(ts_col) < F.col("_prev_ts")))
    v = _violation_struct(
        E.ORDERING_VIOLATION,
        F.array(F.lit(ts_col)),
        ["__dataset__", "ordering"],
        f"{ts_col} monotone per {partition_by} (by {order_by})",
        F.col(ts_col),
        F.col("_prev_ts").cast("string"),
    )
    return bad.select(*keys, v.alias("v")).select(*keys, "v.*")


# ---------------------------------------------------------------------------
# column statistics
# ---------------------------------------------------------------------------


def column_stats(df: DataFrame, columns: list[str] | None = None,
                 quantiles: tuple = (0.25, 0.5, 0.75, 0.95)) -> DataFrame:
    """One aggregation pass → long-format stats table:
    (column, null_rate, n_distinct, min, max, quantiles array).

    Everything is partial-aggregatable JVM-side: avg(isnull),
    approx_count_distinct (HLL++), min/max, percentile_approx."""
    columns = columns or df.columns
    dtypes = dict(df.dtypes)
    aggs = [F.count(F.lit(1)).alias("__n")]
    numeric = {"tinyint", "smallint", "int", "bigint", "float", "double"}
    for c in columns:
        aggs.append(F.avg(F.col(c).isNull().cast("double")).alias(f"{c}__null_rate"))
        aggs.append(F.approx_count_distinct(c).alias(f"{c}__n_distinct"))
        aggs.append(F.min(c).cast("string").alias(f"{c}__min"))
        aggs.append(F.max(c).cast("string").alias(f"{c}__max"))
        if dtypes.get(c) in numeric:
            aggs.append(
                F.percentile_approx(c, list(quantiles)).alias(f"{c}__quantiles")
            )
    row = df.agg(*aggs).first().asDict()
    spark = df.sparkSession
    out = []
    for c in columns:
        out.append(
            {
                "column": c,
                "null_rate": float(row[f"{c}__null_rate"] or 0.0),
                "n_distinct": int(row[f"{c}__n_distinct"] or 0),
                "min": row[f"{c}__min"],
                "max": row[f"{c}__max"],
                "quantiles": [float(q) for q in row.get(f"{c}__quantiles") or []],
            }
        )
    return spark.createDataFrame(
        out,
        "column string, null_rate double, n_distinct long, min string, "
        "max string, quantiles array<double>",
    )


# ---------------------------------------------------------------------------
# drift detection (KL divergence + PSI vs a checkpointed baseline)
# ---------------------------------------------------------------------------


def length_bucket(col: str, bucket_width: int = 100, n_buckets: int = 20) -> Column:
    return F.least(
        F.floor(F.coalesce(F.length(F.col(col)), F.lit(-1)) / bucket_width),
        F.lit(n_buckets - 1),
    ).cast("string")


def drift_specs() -> list[tuple[str, Column | str]]:
    """The standard drift profile set: role and tool frequency plus the
    text-length histogram, as ``(key, expr)`` specs for
    ``multi_profile``/``profile_entries``.  A function because a Column
    needs a live session."""
    return [("role", "role"), ("tool", "tool"),
            ("text_len", length_bucket("text"))]


def profile_entries(specs: list[tuple[str, Column | str]]) -> list[Column]:
    """One ``(key, bucket)`` string struct per spec for a row, a NULL
    bucket written as ``<null>``."""
    return [
        F.struct(
            F.lit(key).alias("key"),
            F.coalesce(
                (F.col(expr) if isinstance(expr, str) else expr).cast("string"),
                F.lit("<null>"),
            ).alias("bucket"),
        )
        for key, expr in specs
    ]


def multi_profile(df: DataFrame, specs: list[tuple[str, Column | str]]) -> DataFrame:
    """All requested frequency profiles in ONE scan: each row explodes
    into one (key, bucket) struct per spec, a single groupBy counts
    them, and freqs normalize per key over the tiny aggregated result.
    Replaces one narrow source scan PER profile (3 scans → 1 for the
    standard role/tool/text-length drift set)."""
    from pyspark.sql import Window as W

    counts = (
        df.select(F.explode(F.array(*profile_entries(specs))).alias("e"))
        .groupBy("e.key", "e.bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = F.sum("n").over(W.partitionBy("key"))
    return counts.select("key", "bucket", (F.col("n") / total).alias("freq"))


def rollup_profile(df: DataFrame, dims: list[Column | str],
                   aggs: list[Column] | None = None,
                   kind: str = "rollup") -> DataFrame:
    """Hierarchical summary over ``dims`` via native ROLLUP: one pass
    emits every prefix level (d1,d2,…) → (d1,…) → grand total, with
    ``gid`` (``grouping_id()``) disambiguating super-aggregate NULLs
    from genuine NULL groups — the classic rollup ambiguity, resolved
    the same way DuckDB/ANSI ``GROUPING()`` does so the two engines are
    row-comparable.  Catalyst plans ROLLUP as a single Expand + one
    hash aggregate (partial map-side combine included): cost is
    ``len(dims)+1`` × the input rows pre-combine, NOT one scan per
    level, which is the property that matters at 100 TB.  Default
    measures: row count.  Dims may be arbitrary Columns (e.g.
    ``F.date_trunc('hour', …)``) — alias them for stable output names.

    ``kind='cube'`` emits ALL 2^len(dims) dim subsets instead of the
    prefix hierarchy (Expand factor 2^d vs d+1 — the caller's dial;
    at 100 TB keep d small either way).
    """
    cols = [F.col(d) if isinstance(d, str) else d for d in dims]
    measures = list(aggs) if aggs else [F.count(F.lit(1)).alias("n")]
    if kind not in ("rollup", "cube"):
        raise ValueError(f"rollup_profile: kind must be rollup|cube, got {kind!r}")
    grouped = df.cube(*cols) if kind == "cube" else df.rollup(*cols)
    return grouped.agg(F.grouping_id().cast("int").alias("gid"), *measures)


def drift_metrics_df(current: DataFrame, baseline: DataFrame,
                     eps: float = 1e-6) -> DataFrame:
    """KL(current‖baseline) and PSI per profile key, computed
    DISTRIBUTED: full-outer join of the two (key, bucket, freq)
    profiles on (key, bucket) — a bucket absent on one side contributes
    with the ``eps`` floor exactly like the reference formulation —
    then one per-key aggregation.  Profiles are tiny post-aggregation
    frames, but keeping the math in Columns makes it oracle-checkable
    and composes with arbitrarily many profile keys without driver
    round-trips.  Returns (key, kl, psi)."""
    cur = current.select("key", "bucket", F.col("freq").alias("_p"))
    base = baseline.select("key", "bucket", F.col("freq").alias("_q"))
    joined = cur.join(base, ["key", "bucket"], "full_outer").select(
        "key",
        F.greatest(F.coalesce("_p", F.lit(0.0)), F.lit(eps)).alias("p"),
        F.greatest(F.coalesce("_q", F.lit(0.0)), F.lit(eps)).alias("q"),
    )
    ratio = F.log(F.col("p") / F.col("q"))
    return joined.groupBy("key").agg(
        F.sum(F.col("p") * ratio).alias("kl"),
        F.sum((F.col("p") - F.col("q")) * ratio).alias("psi"),
    )


def drift_metrics(current: DataFrame, baseline: DataFrame, eps: float = 1e-6) -> list[dict]:
    """Driver-side convenience wrapper over ``drift_metrics_df``
    (SURVEY.md §2.5): collects the per-key metrics, sorted by key."""
    rows = drift_metrics_df(current, baseline, eps).orderBy("key").collect()
    return [{"key": r["key"], "kl": float(r["kl"]), "psi": float(r["psi"])}
            for r in rows]


def stats_bound_violations(df: DataFrame, bounds: Mapping) -> DataFrame:
    """Declarative bounds on per-column statistics → STATS_BOUND (0x105)
    violation rows (one per violated bound).  ``bounds`` maps column →
    {constraint: value} with constraints:

    * ``null_rate_max``  — avg(isnull) must not exceed
    * ``min`` / ``max``  — observed min/max must stay within
    * ``n_distinct_min`` / ``n_distinct_max`` — approx distinct count
      (HLL++; use for cardinality sanity, not exact uniqueness)

    One aggregation pass computes every referenced statistic (map-side
    partial aggregation; no per-column scans)."""
    aggs = []
    for col, cons in bounds.items():
        if "null_rate_max" in cons:
            aggs.append(F.avg(F.col(col).isNull().cast("double")).alias(f"{col}__nr"))
        if "min" in cons:
            aggs.append(F.min(col).alias(f"{col}__min"))
        if "max" in cons:
            aggs.append(F.max(col).alias(f"{col}__max"))
        if "n_distinct_min" in cons or "n_distinct_max" in cons:
            aggs.append(F.approx_count_distinct(col).alias(f"{col}__nd"))
    row = df.agg(*aggs).first().asDict()
    out = []

    def violation(col, rule_name, bound, observed):
        out.append({
            "document_path": [col],
            "schema_path": ["__dataset__", "stats", rule_name],
            "code": E.STATS_BOUND.code,
            "rule": E.STATS_BOUND.rule,
            "constraint": f"{rule_name}={bound}",
            "value": str(observed),
            "info": f"{col}.{rule_name}",
        })

    for col, cons in bounds.items():
        if "null_rate_max" in cons and (row[f"{col}__nr"] or 0.0) > cons["null_rate_max"]:
            violation(col, "null_rate_max", cons["null_rate_max"], row[f"{col}__nr"])
        if "min" in cons and row[f"{col}__min"] is not None \
                and row[f"{col}__min"] < cons["min"]:
            violation(col, "min", cons["min"], row[f"{col}__min"])
        if "max" in cons and row[f"{col}__max"] is not None \
                and row[f"{col}__max"] > cons["max"]:
            violation(col, "max", cons["max"], row[f"{col}__max"])
        nd = row.get(f"{col}__nd")
        if "n_distinct_min" in cons and nd is not None and nd < cons["n_distinct_min"]:
            violation(col, "n_distinct_min", cons["n_distinct_min"], nd)
        if "n_distinct_max" in cons and nd is not None and nd > cons["n_distinct_max"]:
            violation(col, "n_distinct_max", cons["n_distinct_max"], nd)
    spark = df.sparkSession
    return (spark.createDataFrame(out, E.VIOLATION_STRUCT) if out
            else spark.createDataFrame([], E.VIOLATION_STRUCT))


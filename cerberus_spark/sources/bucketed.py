"""Bucketed-table IO: co-locate by conversation so the keyed operators
run shuffle-free.

Writing the transcripts table bucketed by ``conv_id`` (the analog of an
Iceberg ``bucket(conv_id, N)`` partition spec — SURVEY.md §4.2) makes
the scan's output partitioning ``HashPartitioning(conv_id)``, which
satisfies every downstream requirement whose clustering keys CONTAIN
conv_id:

* uniqueness groupBy (conv_id, turn_idx)          → no exchange
* per-conversation ordering window                → no exchange
* conv_id equi-joins against equally-bucketed dims → no exchange

At 100 TB those are the three big shuffles of the full pass; bucketing
the source once amortizes them over every validation run.  Verified by
tests/test_plans.py::test_bucketed_input_runs_shuffle_free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(df: DataFrame, table: str, bucket_cols: list[str],
                   n_buckets: int = 64, sort_cols: list[str] | None = None,
                   path: str | None = None, mode: str = "overwrite") -> None:
    """Persist ``df`` as a bucketed table (saveAsTable is required —
    plain parquet paths carry no bucket metadata).  ``sort_cols`` adds
    within-bucket sort (typically turn_idx, so the ordering window also
    skips its sort)."""
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path is not None:
        writer = writer.option("path", path)
    writer.format("parquet").saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table (bucket metadata comes from the catalog;
    ``spark.sql.sources.bucketing.enabled`` is on by default)."""
    return spark.table(table)

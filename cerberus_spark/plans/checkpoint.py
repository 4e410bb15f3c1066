"""Resumable validation runs: per-partition checkpoint + lineage.

North-rule requirement: "resumable from checkpoint with per-partition
lineage + metrics".  Each validation run partitions the input by a
stable hash of the conversation id, records one checkpoint row per
finished partition —

    checkpoint(part_id int, snapshot_id string, rule_schema_hash string,
               predicate_set string, status string, n_turns long,
               n_failed long, n_violations long, finished_ts timestamp)

— and a restart skips partitions already 'done' for the SAME lineage
(snapshot_id + rule_schema_hash + predicate_set).  A changed schema or
changed input invalidates the old rows by construction (lineage
mismatch), which is exactly the reference's schema-hash cache idea
(validator.py:136-140, utils.py:57-84) promoted to a durable table.

Storage is a parquet append-dir (works against any filesystem).
All existence probes go through the Hadoop FileSystem API — os.path
would silently return False for s3a://, hdfs://, abfs:// paths and
quietly degrade resume to a full re-run.

Small artifacts (checkpoint rows, per-partition summaries, meta rows,
the drift baseline) are read and written driver-side with pyarrow when
their filesystem is ``file:`` — a Spark job around a few KB costs
~0.1-0.8 s of pure scheduling — and through Spark everywhere else.
``_local_dir`` is the one place that picks the branch; every helper
below owns both branches, so callers never carry a fallback.
"""

from __future__ import annotations

import glob
import hashlib
import os
import re
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, functions as F

CHECKPOINT_SCHEMA = (
    "part_id int, snapshot_id string, rule_schema_hash string, "
    "predicate_set string, status string, n_turns long, n_failed long, "
    "n_violations long, finished_ts timestamp"
)


def rows_df(spark: SparkSession, schema: str, rows):
    """DataFrame of scalar literal ``rows`` (tuples in ``schema``
    order) built JVM-side (``spark.range`` + casts + ``inline``).
    ``createDataFrame`` on local rows parallelizes a PICKLED Python
    partition, so every action on it — even writing a one-row
    store-meta artifact — pays a Python worker round-trip: measured
    5.7 s vs 0.3 s for the band-store meta row on this sandbox.  Scalar
    columns only (int/long/double/string/boolean); the cast pins each
    column to exactly the type the schema string names, so readers see
    the identical parquet schema."""
    fields = [spec.strip().split(None, 1) for spec in schema.split(",")]
    if not rows:
        return spark.range(0).select(
            *[F.lit(None).cast(t).alias(n) for n, t in fields])
    return spark.range(1).select(F.inline(F.array(*[
        F.struct(*[F.lit(v).cast(t).alias(n)
                   for (n, t), v in zip(fields, row)])
        for row in rows])))


def _fs(spark: SparkSession, path: str):
    """The Hadoop ``(FileSystem, Path)`` pair bound to ``path``'s
    scheme."""
    hpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, hpath


def _local_dir(spark: SparkSession, path: str) -> str | None:
    """The os-level path when ``path``'s filesystem is ``file:``, else
    None — the single decision point between the driver-side pyarrow
    branch and the Spark branch of every helper in this module."""
    fs, _ = _fs(spark, path)
    if fs.getUri().getScheme() != "file":
        return None
    return re.sub(r"^file:(//)?", "", path)


def _arrow_fields(schema: str) -> list[tuple]:
    """``(name, pyarrow type)`` per column of a DDL ``schema`` string;
    the type is None for DDL types outside the scalar set below."""
    import pyarrow as pa

    types = {"int": pa.int32(), "integer": pa.int32(),
             "bigint": pa.int64(), "long": pa.int64(),
             "double": pa.float64(), "float": pa.float32(),
             "string": pa.string(), "boolean": pa.bool_(),
             "timestamp": pa.timestamp("us", tz="UTC")}
    fields = []
    for spec in schema.split(","):
        name, typ = spec.strip().split(None, 1)
        fields.append((name, types.get(typ.strip().lower())))
    return fields


def _write_local_parquet(local: str, table, name: str) -> None:
    """Write ``table`` as ``local/name`` through a hidden tmp file and a
    rename, so readers see the part file whole or not at all.  Stray
    ``.part-*.tmp`` files a crashed earlier write left behind are
    removed first (readers skip them, but they would pile up).  One
    writer per directory: a concurrent writer's tmp file would be
    removed too."""
    import pyarrow.parquet as pq

    os.makedirs(local, exist_ok=True)
    for stray in glob.glob(f"{glob.escape(local)}/.part-*.tmp"):
        os.remove(stray)
    tmp = f"{local}/.part-{uuid.uuid4().hex[:12]}.tmp"
    pq.write_table(table, tmp)
    os.rename(tmp, f"{local}/{name}")


def read_rows(spark: SparkSession, path: str,
              columns: list[str] | None = None) -> list[dict]:
    """Read a SMALL parquet dir (a per-partition summary, a checkpoint
    table, a one-row meta artifact) as a list of dicts — partition dirs
    (``part_id=N``) included as columns, same as a Spark read.  With
    ``columns``, each dict holds exactly those keys; a column the files
    lack reads back as None (a schema'd read's contract).

    Returns [] when ``path`` is absent or holds no data files (an
    empty-input write leaves only ``_SUCCESS``).  Any other read error
    — a corrupt or unreadable part file — raises.

    On ``file:`` the dir is read driver-side with pyarrow: a Spark read
    costs a partition-listing job (above 32 dirs it is distributed)
    plus a scan job — ~0.5-0.8 s of scheduling around a few KB of data
    (measured on the flagship's 64-row summary).  Other schemes take a
    Spark ``collect``.  NOT for big tables: the result materializes on
    the driver."""
    # hidden (``.``/``_``) names are not data — the rule Spark and
    # pyarrow both apply when listing a dataset
    if not any(n[0] not in "._" for n in fs_list(spark, path)):
        return []
    local = _local_dir(spark, path)
    if local is not None:
        import pyarrow.dataset as pads

        ds = pads.dataset(local, format="parquet", partitioning="hive")
        present = ds.schema.names
        rows = ds.to_table(
            columns=None if columns is None
            else [c for c in columns if c in present]).to_pylist()
    else:
        df = spark.read.parquet(path)
        present = df.columns
        if columns is not None:
            df = df.select(*[c for c in columns if c in present])
        rows = [r.asDict() for r in df.collect()]
    if columns is None:
        return rows
    return [{c: r.get(c) for c in columns} for r in rows]


def read_one_row(spark: SparkSession, path: str,
                 schema: str | None = None) -> dict | None:
    """Read a ONE-ROW parquet artifact (store/model meta rows, commit
    markers) as a plain dict (``read_rows``; driver-side on ``file:``).
    With ``schema`` (a DDL string), the dict holds exactly its columns
    and columns the file lacks come back as None.  Returns None for an
    empty artifact."""
    columns = None if schema is None else [n for n, _ in _arrow_fields(schema)]
    rows = read_rows(spark, path, columns)
    return rows[0] if rows else None


def write_rows(spark: SparkSession, path: str, schema: str,
               rows) -> None:
    """Write a SMALL parquet artifact (store/model meta rows, a drift
    baseline) of ``rows`` (tuples in ``schema`` order) with the exact
    column types the DDL ``schema`` names, replacing any previous
    artifact at ``path``.

    On ``file:`` the rows are written driver-side with pyarrow (a Spark
    job for a few rows costs ~0.12 s of pure scheduling) — the file
    parquet-identical in schema to the ``rows_df`` Spark write, so
    either reader works on either artifact.  Other schemes and types
    outside the scalar set take the Spark write.  NOT for commit
    markers: those rely on the Spark committer's ``_SUCCESS`` as the
    commit point."""
    import pyarrow as pa

    fields = _arrow_fields(schema)
    local = _local_dir(spark, path)
    if local is None or any(t is None for _, t in fields):
        rows_df(spark, schema, rows) \
            .coalesce(1).write.mode("overwrite").parquet(path)
        return
    fs_delete(spark, path)
    table = pa.table({n: pa.array([row[i] for row in rows], type=t)
                      for i, (n, t) in enumerate(fields)})
    _write_local_parquet(local, table, "part-00000.parquet")


@contextmanager
def sequential_listing(spark: SparkSession, path: str):
    """Force parquet file listing under ``path`` to run
    sequentially on the driver while the context is open — ONLY when
    the path's filesystem is local.  Spark switches to a distributed
    listing job above ``spark.sql.sources.parallelPartitionDiscovery.
    threshold`` (default 32) paths, which is right for high-latency
    object stores but costs a whole job's scheduling overhead to list
    local dirs (measured 0.42 s vs 0.05 s for 256 local dirs) — an
    uncompacted epoch store with more than 32 epoch dirs is listed
    sequentially.  Not thread-safe: flips a session-level SQL conf for
    the duration (single-threaded probe/compaction paths only)."""
    if _local_dir(spark, path) is None:
        yield
        return
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    try:
        old = spark.conf.get(key)
    except Exception:
        old = None
    spark.conf.set(key, "1000000")
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def fs_exists(spark: SparkSession, path: str) -> bool:
    """Existence probe via the Hadoop FileSystem bound to ``path``'s
    scheme — correct for local, file:, hdfs:, s3a:, abfs:, gs: alike."""
    fs, hpath = _fs(spark, path)
    return bool(fs.exists(hpath))


def fs_delete(spark: SparkSession, path: str) -> None:
    """Recursive delete via the Hadoop FileSystem bound to ``path``'s
    scheme (no-op when the path does not exist)."""
    fs, hpath = _fs(spark, path)
    if fs.exists(hpath):
        fs.delete(hpath, True)


def fs_rename(spark: SparkSession, src: str, dst: str) -> None:
    """Directory rename via the Hadoop FileSystem (atomic on HDFS and
    posix local filesystems; object stores emulate it — callers needing
    true atomicity there should sit behind a table catalog).  Raises if
    the rename is refused (e.g. destination exists)."""
    fs, hsrc = _fs(spark, src)
    _, hdst = _fs(spark, dst)
    if not fs.rename(hsrc, hdst):
        raise IOError(f"rename {src} -> {dst} refused by the filesystem")


def fs_list(spark: SparkSession, path: str) -> list[str]:
    """Child names (not full paths) of a directory; [] if absent."""
    fs, hpath = _fs(spark, path)
    if not fs.exists(hpath):
        return []
    return [st.getPath().getName() for st in fs.listStatus(hpath)]


def part_id_col(conv_col: str = "conv_id", n_parts: int = 64):
    """Stable partition id: pmod(xxhash64(conv_id), n_parts).

    Hash-bucketing by conversation keeps all turns of one conversation
    in one partition (so per-partition pass/fail is conversation-complete)
    and matches an Iceberg `bucket(conv_id, n)` partition spec."""
    return F.pmod(F.xxhash64(F.col(conv_col)), F.lit(n_parts)).cast("int")


def snapshot_id(df: DataFrame) -> str | None:
    """Lineage id of the input: Iceberg snapshot when available, else a
    hash of the sorted input-file list.  Returns None for purely
    in-memory DataFrames — two different in-memory datasets are
    indistinguishable, so they must never share resume lineage (the
    caller disables resume and stamps commits with an ephemeral id)."""
    try:
        files = sorted(df.inputFiles())
    except Exception:
        files = []
    if not files:
        return None
    return hashlib.sha256("\n".join(files).encode()).hexdigest()[:16]


class CheckpointStore:
    """The checkpoint table at ``path``: one 'done' row per finished
    partition (CHECKPOINT_SCHEMA), appended per wave.

    ``commit_rows`` writes driver-side with pyarrow on ``file:`` and
    through ``commit``'s Spark append elsewhere.  The two branches store
    ``finished_ts`` differently: pyarrow writes INT64 (UTC micros),
    Spark writes INT96 — a per-write ``outputTimestampType`` option does
    not reach the parquet writer (the footer still reads INT96), and
    the session conf is not flipped from the pool thread the commit
    runs on.  Both read back as the same timestamp column, and the
    branch follows the dir's filesystem, so one dir holds one kind."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def done_partitions(self, snapshot: str, schema_hash: str,
                        predicate_set: str = "") -> list[int]:
        """Sorted part_ids committed 'done' under this lineage, read
        with ``read_rows`` (driver-side on ``file:``, no Spark job)."""
        lineage = (snapshot, schema_hash, predicate_set)
        rows = read_rows(self.spark, self.path,
                         ["part_id", "status", "snapshot_id",
                          "rule_schema_hash", "predicate_set"])
        return sorted({r["part_id"] for r in rows if r["status"] == "done"
                       and (r["snapshot_id"], r["rule_schema_hash"],
                            r["predicate_set"]) == lineage})

    def commit_rows(self, rows: list[dict], snapshot: str,
                    schema_hash: str, predicate_set: str = "") -> None:
        """Append 'done' rows for ``rows`` (dicts with part_id, n_rows,
        n_failed, n_violations — per-partition summary rows).  The row
        count is the partition count (≤ n_parts), so on ``file:`` the
        append is one driver-side parquet file with the
        CHECKPOINT_SCHEMA types; elsewhere the rows go through
        ``commit`` (a pickled ``createDataFrame`` is cheap at this
        size)."""
        local = _local_dir(self.spark, self.path)
        if local is None:
            summary = self.spark.createDataFrame(
                [(r["part_id"], r["n_rows"], r["n_failed"], r["n_violations"])
                 for r in rows],
                "part_id int, n_rows long, n_failed long, n_violations long")
            self.commit(summary, snapshot, schema_hash, predicate_set)
            return
        from datetime import datetime, timezone

        import pyarrow as pa

        now = datetime.now(timezone.utc)
        table = pa.Table.from_pylist(
            [{"part_id": r["part_id"], "snapshot_id": snapshot,
              "rule_schema_hash": schema_hash,
              "predicate_set": predicate_set, "status": "done",
              "n_turns": r["n_rows"], "n_failed": r["n_failed"],
              "n_violations": r["n_violations"], "finished_ts": now}
             for r in rows],
            schema=pa.schema(_arrow_fields(CHECKPOINT_SCHEMA)))
        _write_local_parquet(local, table,
                             f"part-{uuid.uuid4().hex[:12]}.parquet")

    def commit(self, per_part_summary: DataFrame, snapshot: str, schema_hash: str,
               predicate_set: str = "") -> None:
        """Append 'done' rows from a summary df (part_id, n_rows, n_failed,
        n_violations)."""
        out = per_part_summary.select(
            F.col("part_id").cast("int"),
            F.lit(snapshot).alias("snapshot_id"),
            F.lit(schema_hash).alias("rule_schema_hash"),
            F.lit(predicate_set).alias("predicate_set"),
            F.lit("done").alias("status"),
            F.col("n_rows").cast("long").alias("n_turns"),
            F.col("n_failed").cast("long"),
            F.col("n_violations").cast("long"),
            F.current_timestamp().alias("finished_ts"),
        )
        out.write.mode("append").parquet(self.path)

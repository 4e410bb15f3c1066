"""The small-artifact IO layer (plans/checkpoint.py) on both of its
branches: driver-side pyarrow on ``file:`` and Spark elsewhere."""

from cerberus_spark.plans import checkpoint
from cerberus_spark.plans.checkpoint import (CheckpointStore, read_one_row,
                                             write_rows)

#: the branch decision that reads the other branch's artifacts
_OTHER_BRANCH = {"local": lambda spark, path: None,
                 "spark": checkpoint._local_dir}


def _summary_row(part_id):
    return {"part_id": part_id, "n_rows": 10, "n_failed": 1,
            "n_violations": 2}


def test_commit_rows_removes_stray_tmp_files(spark, io_branch, tmp_path):
    """A driver-side commit that crashed mid-write leaves a hidden
    ``.part-*.tmp`` file in the checkpoint dir.  Readers skip it on
    both branches; the next ``file:`` commit (the only branch that
    writes such files) removes it."""
    store = CheckpointStore(spark, str(tmp_path / "checkpoint"))
    store.commit_rows([_summary_row(0), _summary_row(1)], "snap", "hash")
    stray = tmp_path / "checkpoint" / ".part-dead.tmp"
    stray.write_bytes(b"half-written")
    assert store.done_partitions("snap", "hash") == [0, 1]

    store.commit_rows([_summary_row(2)], "snap", "hash")
    assert store.done_partitions("snap", "hash") == [0, 1, 2]
    assert stray.exists() == (io_branch == "spark")


def test_one_row_meta_reads_identically_across_io_branches(
        spark, io_branch, tmp_path, monkeypatch):
    """A one-row meta artifact written on either branch reads back the
    same on both, and a ``schema=`` column the file lacks reads back as
    None."""
    schema = "k int, seed bigint, ratio double, name string, residual boolean"
    values = (3, 2**40 + 1, 0.25, "minhash", True)
    want = dict(zip(["k", "seed", "ratio", "name", "residual"], values))
    path = str(tmp_path / "meta")
    write_rows(spark, path, schema, [values])
    assert read_one_row(spark, path) == want

    monkeypatch.setattr(checkpoint, "_local_dir", _OTHER_BRANCH[io_branch])
    assert read_one_row(spark, path) == want
    assert read_one_row(spark, path, schema + ", hash_buckets int") == \
        {**want, "hash_buckets": None}


def test_done_partitions_runs_no_spark_job_on_local_dirs(spark, io_branch, tmp_path):
    """``done_partitions`` reads the checkpoint driver-side on ``file:``
    (no Spark job) and through Spark elsewhere; both return the same
    part_ids, only those of the asked lineage."""
    store = CheckpointStore(spark, str(tmp_path / "checkpoint"))
    store.commit_rows([_summary_row(2), _summary_row(0)], "snap", "hash", "p")
    store.commit_rows([_summary_row(1)], "other", "hash", "p")
    store.commit_rows([_summary_row(3)], "snap", "hash", "q")

    sc = spark.sparkContext
    group = f"done-partitions-{io_branch}"
    sc.setJobGroup(group, "done_partitions")
    try:
        done = store.done_partitions("snap", "hash", "p")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert done == [0, 2]
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert (len(jobs) > 0) == (io_branch == "spark")

"""Kill-and-resume check: a killed full pass restarts only the
partitions it had not validated.

The parent starts this file as a child process running a ``waves=8``
pass over the workload's transcripts, SIGKILLs the child's whole
process group (Python driver, JVM, Python workers) as soon as the first
checkpoint commit is on disk, then resumes the same pass in its own
session and compares the report with a fresh run's.

Child usage: ``python3 perfbench/killcheck.py <data_dir> <out_dir>``.
"""

from __future__ import annotations

import glob
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WAVES, N_PARTS = 8, 64


def _config(out_dir: str):
    from cerberus_spark.run import RunConfig

    return RunConfig(out_dir=out_dir, n_parts=N_PARTS, waves=WAVES, resume=True)


def kill_and_resume(spark, data_dir: str, out_dir: str, work: str,
                    timeout: float = 150.0) -> dict:
    """Returns {"ok", "skipped_partitions", "resume_s", "report", "error"}."""
    from cerberus_spark.run import ValidationRun
    from cerberus_spark.sources.transcripts import TURN_SCHEMA, load

    ckpt = os.path.join(out_dir, "checkpoint")
    child = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), data_dir, out_dir, work],
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        start_new_session=True)
    deadline = time.time() + timeout
    committed = False
    try:
        while time.time() < deadline and child.poll() is None:
            if glob.glob(os.path.join(ckpt, "part-*.parquet")):
                committed = True
                break
            time.sleep(0.02)
    finally:
        if child.poll() is None:
            os.killpg(child.pid, signal.SIGKILL)
        child.wait()
        _wait_group_gone(child.pid)
    if not committed:
        return {"ok": False, "error": "child ended or timed out before its "
                f"first checkpoint commit (exit {child.returncode})"}
    t_df, c_df = load(spark, data_dir)
    t0 = time.time()
    report = ValidationRun(TURN_SCHEMA, _config(out_dir)).execute(t_df, c_df)
    return {"ok": report.skipped_partitions > 0,
            "skipped_partitions": report.skipped_partitions,
            "resume_s": time.time() - t0, "report": report,
            "error": None if report.skipped_partitions > 0
            else "resumed run skipped no partition"}


def _wait_group_gone(pgid: int, timeout: float = 30.0) -> None:
    """Wait until every process of the child's group (its JVM and Python
    workers included) has ended, killing stragglers."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def main() -> None:
    data_dir, out_dir, work = sys.argv[1:4]
    sys.path.insert(0, os.path.dirname(HERE))
    from common import scratch_env, start_session

    scratch_env(os.path.join(work, "child"))
    from cerberus_spark.run import ValidationRun
    from cerberus_spark.sources.transcripts import TURN_SCHEMA, load

    spark = start_session(os.path.join(work, "child"))
    t_df, c_df = load(spark, data_dir)
    ValidationRun(TURN_SCHEMA, _config(out_dir)).execute(t_df, c_df)


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    main()

"""Regenerate ``data/eventlog_v2_tiny``: a real Spark event log of two
tiny jobs, reduced to the events and fields ``eventlog.py`` reads, with
local paths replaced by ``file:/out/...``.

    python3 perfbench/tests/make_tiny_log.py    # from the repository root

Job set: a pandas-UDF projection aggregated by key and written to
``/out/summary`` (one shuffle Exchange, one Python-eval node), then a ``count()`` that
writes nothing.  The rolling log is split into two parts so the test
also covers part ordering.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
KEEP_EVENTS = {
    "SparkListenerJobStart", "SparkListenerJobEnd", "SparkListenerTaskEnd",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
}
KEEP_PROPS = ("spark.sql.execution.id", "spark.sql.execution.root.id",
              "spark.jobGroup.id")
KEEP_ACC = ("time to run Python workers", "data sent to Python workers")


def _plan(node: dict, scrub) -> dict:
    return {"nodeName": node["nodeName"],
            "simpleString": scrub(node.get("simpleString", "")),
            "children": [_plan(c, scrub) for c in node.get("children", ())]}


def reduce_event(e: dict, scrub) -> dict | None:
    kind = e["Event"]
    if kind not in KEEP_EVENTS:
        return None
    if kind == "SparkListenerJobStart":
        props = e.get("Properties") or {}
        return {"Event": kind, "Job ID": e["Job ID"],
                "Submission Time": e["Submission Time"],
                "Stage IDs": e["Stage IDs"],
                "Properties": {k: props[k] for k in KEEP_PROPS if k in props}}
    if kind == "SparkListenerJobEnd":
        return {"Event": kind, "Job ID": e["Job ID"],
                "Completion Time": e["Completion Time"]}
    if kind == "SparkListenerTaskEnd":
        info, m = e["Task Info"], e.get("Task Metrics") or {}
        rd, wr = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
        return {"Event": kind, "Stage ID": e["Stage ID"],
                "Task Info": {
                    "Launch Time": info["Launch Time"],
                    "Finish Time": info["Finish Time"],
                    "Accumulables": [
                        {"Name": a["Name"], "Update": a["Update"]}
                        for a in info.get("Accumulables", ())
                        if a.get("Name") in KEEP_ACC]},
                "Task Metrics": {
                    k: m[k] for k in ("Executor Run Time", "Executor CPU Time",
                                      "JVM GC Time", "Memory Bytes Spilled",
                                      "Disk Bytes Spilled") if k in m} | {
                    "Shuffle Read Metrics": {
                        k: rd.get(k, 0) for k in ("Remote Bytes Read",
                                                  "Local Bytes Read")},
                    "Shuffle Write Metrics": {
                        "Shuffle Bytes Written": wr.get("Shuffle Bytes Written", 0)}}}
    out = {"Event": kind, "executionId": e["executionId"]}
    for k in ("rootExecutionId", "time"):
        if k in e:
            out[k] = e[k]
    if "sparkPlanInfo" in e:
        out["sparkPlanInfo"] = _plan(e["sparkPlanInfo"], scrub)
    return out


def _str_len(s: pd.Series) -> pd.Series:
    return s.str.len()


def main() -> None:
    sys.path.insert(0, os.path.dirname(HERE))
    from common import scratch_env, start_session, stop_jvm
    from eventlog import read_events

    scratch = os.path.join(os.getcwd(), ".perfbench_work")
    os.makedirs(scratch, exist_ok=True)
    work = tempfile.mkdtemp(prefix="tinylog-", dir=scratch)
    try:
        scratch_env(work)
        spark = start_session(work, os.path.join(work, "ev"))
        from pyspark.sql import functions as F

        str_len = F.pandas_udf(_str_len, "long")
        df = spark.range(0, 400, numPartitions=2).select(
            (F.col("id") % 4).alias("k"),
            str_len(F.col("id").cast("string")).alias("n"))
        (df.groupBy("k").agg(F.sum("n").alias("n"))
         .write.mode("overwrite").parquet(os.path.join(work, "out", "summary")))
        spark.range(0, 100, numPartitions=2).count()
        spark.stop()

        prefix = re.compile(re.escape("file:" + work) + r"|" + re.escape(work))

        def scrub(text: str) -> str:
            return prefix.sub("file:", text).replace("file:file:", "file:")

        events = [r for r in (reduce_event(e, scrub)
                              for e in read_events(os.path.join(work, "ev")))
                  if r is not None]
        dest = os.path.join(HERE, "data", "eventlog_v2_tiny")
        shutil.rmtree(dest, ignore_errors=True)
        os.makedirs(dest)
        half = len(events) // 2
        for part, chunk in ((1, events[:half]), (2, events[half:])):
            with open(os.path.join(dest, f"events_{part}_tiny"), "w") as f:
                for e in chunk:
                    f.write(json.dumps(e, sort_keys=True) + "\n")
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

"""Spark event-log parser: folds a (rolling) event log into jobs,
stages, tasks and SQL executions, and sums counters over a time window.

Spark 4 writes ``spark.eventLog.dir/eventlog_v2_<app>/events_<n>_<app>``
(one JSON event per line; ``spark.eventLog.compress=false``).  A job is
assigned to a benchmark op by its submission time, and to a layer by
the output path of the write its SQL execution (or that execution's
root) performs: job groups set on the calling thread do not reach the
program's own worker threads, so they cannot be used.
"""

from __future__ import annotations

import glob
import json
import os
import re

#: output-path components that name a layer's sink, in match order
SINKS = ("dataset_violations", "violations", "summary", "baseline_stats",
         "checkpoint", "corpus", "band_store", "ingest_stats")

#: physical-plan node names that evaluate Python (UDFs, pandas/arrow maps)
PY_NODE = re.compile(r"EvalPython|InPandas|InArrow|PythonUDTF")
_WRITE = re.compile(r"InsertIntoHadoopFsRelationCommand\s+(\S+?),")
_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
_SQL_AQE = ("org.apache.spark.sql.execution.ui."
            "SparkListenerSQLAdaptiveExecutionUpdate")


def event_files(log_dir: str) -> list[str]:
    """Every events file under ``log_dir``: rolling ``eventlog_v2_*``
    directories (parts in index order) and single-file logs."""
    out = []
    for app in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(app):
            parts = glob.glob(os.path.join(app, "events_*"))
            out += sorted(parts, key=lambda p: int(
                os.path.basename(p).split("_")[1]))
        else:
            out.append(app)
    return out


def read_events(log_dir: str):
    for path in event_files(log_dir):
        with open(path, encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _walk(node: dict):
    yield node
    for c in node.get("children", ()):
        yield from _walk(c)


def _sink(path: str | None) -> str:
    if not path:
        return "other"
    parts = path.rstrip("/").split("/")
    for name in SINKS:
        if name in parts:
            return name
    return "other"


class EventLog:
    """Folded event log.  Times are epoch seconds; byte counts bytes."""

    def __init__(self, events):
        self.jobs: dict[int, dict] = {}
        self.tasks: list[dict] = []
        self.execs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        for e in events:
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                ex = props.get("spark.sql.execution.id")
                root = props.get("spark.sql.execution.root.id", ex)
                self.jobs[e["Job ID"]] = {
                    "submit": e["Submission Time"] / 1000.0, "end": None,
                    "stages": list(e.get("Stage IDs", ())),
                    "exec": int(ex) if ex is not None else None,
                    "root": int(root) if root is not None else None,
                    "group": props.get("spark.jobGroup.id")}
                for s in e.get("Stage IDs", ()):
                    stage_job.setdefault(s, e["Job ID"])
            elif kind == "SparkListenerJobEnd":
                if e["Job ID"] in self.jobs:
                    self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                self.tasks.append(self._task(e, stage_job.get(e["Stage ID"])))
            elif kind in (_SQL_START, _SQL_AQE):
                ex = self.execs.setdefault(e["executionId"], {
                    "root": e.get("rootExecutionId", e["executionId"]),
                    "start": None, "end": None})
                if kind == _SQL_START:
                    ex["start"] = e["time"] / 1000.0
                self._plan(ex, e.get("sparkPlanInfo") or {})
            elif kind == _SQL_END:
                if e["executionId"] in self.execs:
                    self.execs[e["executionId"]]["end"] = e["time"] / 1000.0
        for job in self.jobs.values():
            job["sink"] = self._job_sink(job)

    @staticmethod
    def _task(e: dict, job: int | None) -> dict:
        info = e.get("Task Info") or {}
        m = e.get("Task Metrics") or {}
        rd = m.get("Shuffle Read Metrics") or {}
        wr = m.get("Shuffle Write Metrics") or {}
        acc = {}
        for a in info.get("Accumulables", ()):
            name = a.get("Name")
            if name in ("time to run Python workers",
                        "data sent to Python workers"):
                acc[name] = acc.get(name, 0) + int(a.get("Update") or 0)
        return {
            "job": job, "stage": e.get("Stage ID"),
            "launch": info.get("Launch Time", 0) / 1000.0,
            "finish": info.get("Finish Time", 0) / 1000.0,
            "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
            "run_s": m.get("Executor Run Time", 0) / 1000.0,
            "gc_s": m.get("JVM GC Time", 0) / 1000.0,
            "shuffle_read_bytes": (rd.get("Remote Bytes Read", 0)
                                   + rd.get("Local Bytes Read", 0)),
            "shuffle_write_bytes": wr.get("Shuffle Bytes Written", 0),
            "spill_bytes": (m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0)),
            "python_worker_s": acc.get("time to run Python workers", 0) / 1000.0,
            "python_bytes_sent": acc.get("data sent to Python workers", 0),
        }

    @staticmethod
    def _plan(ex: dict, info: dict) -> None:
        """Keep the latest plan's node counts (an adaptive update
        replaces the initial plan) and the write path, if any."""
        if info:
            nodes = list(_walk(info))
            names = [n.get("nodeName", "") for n in nodes]
            ex["nodes"] = len(names)
            ex["exchanges"] = sum(1 for n in names if n == "Exchange")
            ex["python_nodes"] = sum(1 for n in names if PY_NODE.search(n))
            ex["scans"] = sum(1 for n in names if n.startswith("Scan "))
            for n in nodes:
                m = _WRITE.search(n.get("simpleString", ""))
                if m:
                    ex["path"] = m.group(1)
                    break

    def _job_sink(self, job: dict) -> str:
        for key in ("exec", "root"):
            ex = self.execs.get(job[key]) if job[key] is not None else None
            if ex is not None and ex.get("path"):
                return _sink(ex["path"])
        return "other"

    # ------------------------------------------------------------------

    def counters(self, t0: float, t1: float,
                 sinks: tuple[str, ...] | None = None) -> dict:
        """Sums over the jobs submitted in [t0, t1] (optionally only
        those writing one of ``sinks``) and their tasks."""
        jobs = {j for j, v in self.jobs.items()
                if t0 <= v["submit"] <= t1
                and (sinks is None or v["sink"] in sinks)}
        tasks = [t for t in self.tasks if t["job"] in jobs]
        out = {k: 0.0 for k in ("cpu_s", "run_s", "gc_s",
                                "shuffle_read_bytes", "shuffle_write_bytes",
                                "spill_bytes", "python_worker_s",
                                "python_bytes_sent")}
        for t in tasks:
            for k in out:
                out[k] += t[k]
        execs = {self.jobs[j]["exec"] for j in jobs} - {None}
        out["jobs"] = len(jobs)
        out["stages"] = len({t["stage"] for t in tasks})
        out["tasks"] = len(tasks)
        for k in ("exchanges", "python_nodes", "scans"):  # plan node counts
            out[k] = sum(self.execs[x].get(k, 0) for x in execs if x in self.execs)
        if jobs:
            out["first_submit"] = min(self.jobs[j]["submit"] for j in jobs)
            out["last_end"] = max(self.jobs[j]["end"] or self.jobs[j]["submit"]
                                  for j in jobs)
        else:
            out["first_submit"] = out["last_end"] = t0
        out["busy_s"] = _covered(
            [(t["launch"], t["finish"]) for t in tasks], t0, t1)
        return out


def _covered(intervals: list[tuple[float, float]], t0: float, t1: float) -> float:
    """Length of the union of ``intervals`` clipped to [t0, t1]."""
    total, end = 0.0, t0
    for a, b in sorted((max(a, t0), min(b, t1)) for a, b in intervals):
        if b <= a:
            continue
        if a > end:
            total += b - a
        elif b > end:
            total += b - end
        end = max(end, b)
    return total

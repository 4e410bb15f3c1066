"""Layer attribution of layers.py on the tiny checked-in event log: a
workload whose engine jobs are named by sink counts only those, and one
that names none (``nested_rules``) also counts the write-less
``count()`` job."""

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from common import Tracer  # noqa: E402
from eventlog import EventLog, read_events  # noqa: E402
from layers import _op_metrics  # noqa: E402


@pytest.fixture(scope="module")
def log():
    return EventLog(read_events(os.path.join(HERE, "data")))


def _op(log):
    t1 = max(j["end"] for j in log.jobs.values()) + 1
    return {"op": 0, "t0": 0.0, "t1": t1, "out_files": 0, "out_bytes": 0}


def test_engine_counts_only_named_sinks(log):
    m = _op_metrics(log, Tracer(True), _op(log), ("violations", "summary"))
    summary = log.counters(0, float("inf"), ("summary",))
    assert m["engine.tasks"] == summary["tasks"] == 3
    assert m["engine.task_cpu_s"] == pytest.approx(summary["cpu_s"])
    assert m["run.jobs"] == 4


def test_engine_without_sinks_counts_write_less_jobs(log):
    m = _op_metrics(log, Tracer(True), _op(log), None)
    every = log.counters(0, float("inf"))
    assert m["engine.tasks"] == every["tasks"] == 6
    assert m["engine.task_cpu_s"] == pytest.approx(every["cpu_s"])
    assert m["engine.python_worker_s"] == pytest.approx(3.773)

"""Parse test of eventlog.py on a tiny checked-in Spark 4 rolling event
log (regenerate with make_tiny_log.py).

The log holds two SQL executions.  Execution 0 is a pandas-UDF
projection aggregated by key and written to ``file:/out/summary``: two
jobs (the map stage, then the reduce and write), one shuffle Exchange,
one Python-eval node.  Execution 1 is a ``count()`` that writes nothing.
Its two jobs sit in the second part of the rolling log.
"""

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from eventlog import EventLog, _covered, event_files, read_events  # noqa: E402

LOG = os.path.join(HERE, "data")


@pytest.fixture(scope="module")
def log():
    return EventLog(read_events(LOG))


def test_rolling_parts_are_read_in_index_order():
    names = [os.path.basename(p) for p in event_files(LOG)]
    assert names == ["events_1_tiny", "events_2_tiny"]


def test_jobs_map_to_executions_and_sinks(log):
    assert sorted(log.jobs) == [0, 1, 2, 3]
    assert [log.jobs[j]["exec"] for j in range(4)] == [0, 0, 1, 1]
    assert [log.jobs[j]["sink"] for j in range(4)] == [
        "summary", "summary", "other", "other"]
    assert all(j["end"] >= j["submit"] for j in log.jobs.values())
    # job groups set on the calling thread are absent here, as they are
    # for jobs the program submits from its own worker threads
    assert {j["group"] for j in log.jobs.values()} == {None}


def test_plan_node_counts(log):
    assert log.execs[0]["path"] == "file:/out/summary"
    assert (log.execs[0]["exchanges"], log.execs[0]["python_nodes"]) == (1, 1)
    assert (log.execs[1]["exchanges"], log.execs[1]["python_nodes"]) == (1, 0)
    assert "path" not in log.execs[1]


def test_counters_fold_task_and_sql_metrics(log):
    every = log.counters(0, float("inf"))
    assert (every["jobs"], every["stages"], every["tasks"]) == (4, 4, 6)
    assert every["exchanges"] == 2 and every["python_nodes"] == 1
    assert every["cpu_s"] == pytest.approx(1.259117504)
    assert every["run_s"] == pytest.approx(5.16)
    assert every["gc_s"] == pytest.approx(0.111)
    assert every["shuffle_write_bytes"] == every["shuffle_read_bytes"] == 510
    assert every["spill_bytes"] == 0
    assert every["python_worker_s"] == pytest.approx(3.773)
    assert every["python_bytes_sent"] == 3096

    summary = log.counters(0, float("inf"), ("summary",))
    assert (summary["jobs"], summary["tasks"]) == (2, 3)
    assert summary["python_worker_s"] == every["python_worker_s"]
    assert summary["shuffle_write_bytes"] == 392


def test_window_selects_jobs_by_submission_time(log):
    t_second = log.jobs[2]["submit"]
    late = log.counters(t_second, float("inf"))
    assert late["jobs"] == 2 and late["python_nodes"] == 0
    assert log.counters(0, log.jobs[0]["submit"] - 1)["jobs"] == 0


def test_covered_is_the_clipped_union():
    assert _covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert _covered([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == pytest.approx(2.0)
    assert _covered([], 0, 1) == 0

"""Tests for the event-log reducer (perfbench/eventlog.py).

Run from the repository root: ``python -m pytest perfbench/tests -q``.

``data/eventlog_v2_local-1/`` is a real Spark 4.1 event log, recorded with
``spark.eventLog.compress=false`` from a ten-superstep PageRank over a
k=3 chain graph run under job group ``call``, followed by a parquet write
under ``call#out``; the adaptive-execution plan updates and the bulky plan
and property fields were stripped, and the log was split over three
rolling files. The other tests build events by hand.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import eventlog as ev  # noqa: E402

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
SQL = "org.apache.spark.sql.execution.ui."


def job(jid, group, start, end, stage, name, execution=None):
    props = {"spark.jobGroup.id": group}
    if execution is not None:
        props["spark.sql.execution.id"] = str(execution)
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": start,
         "Stage Infos": [{"Stage ID": stage, "Stage Name": name}], "Stage IDs": [stage],
         "Properties": props},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": stage},
         "Properties": props},
        {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Info": {},
         "Task Metrics": {"Executor Run Time": 4, "Executor CPU Time": 3_000_000,
                          "JVM GC Time": 1, "Input Metrics": {"Bytes Read": 0}}},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end},
    ]


def execution(eid, start, end, desc="", root=None):
    return (
        {"Event": SQL + "SparkListenerSQLExecutionStart", "executionId": eid,
         "rootExecutionId": eid if root is None else root, "description": desc,
         "time": start},
        {"Event": SQL + "SparkListenerSQLExecutionEnd", "executionId": eid, "time": end},
    )


def test_union_of_overlapping_intervals():
    assert ev.union_ms([(0, 10), (5, 15), (20, 25)]) == 20
    assert ev.union_ms([(0, 10), (2, 3), (10, 12)]) == 12
    assert ev.union_ms([]) == 0


def test_job_time_is_the_union_and_driver_gap_the_rest():
    # two overlapping jobs (0-10 ms, 5-15 ms) and one alone (20-25 ms)
    events = job(0, "g", 1000, 1010, 0, "count at x.py:1") + job(
        1, "g", 1005, 1015, 1, "count at x.py:2") + job(2, "g", 1020, 1025, 2, "count at x.py:3")
    events += job(3, "other", 1000, 1030, 3, "count at y.py:1")
    f = ev.call_figures(ev.reduce_events(events), "g", 1000, 1030)
    assert f.jobs == 3 and f.tasks == 3 and f.stages == 3
    assert f.wall_s == pytest.approx(0.030)
    assert f.job_s == pytest.approx(0.020)
    assert f.driver_gap_s == pytest.approx(0.010)
    assert f.task_cpu_s == pytest.approx(0.009)


def test_job_intervals_are_clipped_to_the_call_span():
    events = job(0, "g", 900, 1010, 0, "count at x.py:1")
    f = ev.call_figures(ev.reduce_events(events), "g", 1000, 1020)
    assert f.job_s == pytest.approx(0.010)


@pytest.mark.parametrize("name, cls", [
    ("localCheckpoint at NativeMethodAccessorImpl.java:0", ev.CHECKPOINT),
    ("count at NativeMethodAccessorImpl.java:0", ev.SIZING),
    ("collectToPython at NativeMethodAccessorImpl.java:0", ev.CONVERGENCE),
    ("first at /x/algorithms.py:90", ev.CONVERGENCE),
    ("parquet at NativeMethodAccessorImpl.java:0", ev.WRITE),
    ("save at NativeMethodAccessorImpl.java:0", ev.WRITE),
    ("$anonfun$withThreadLocalCaptured$2 at QueryStageExec.scala:1", ev.OTHER),
])
def test_action_classification_by_result_stage(name, cls):
    assert ev.classify(name) == cls


def test_actions_take_the_class_of_their_named_job():
    events = list(execution(7, 1000, 1050, desc="localCheckpoint at a:0"))
    events[1:1] = (job(0, "g", 1001, 1010, 0, "$anonfun$withThreadLocalCaptured$2 at b:1", 7)
                   + job(1, "g", 1011, 1040, 1, "localCheckpoint at a:0", 7))
    events += execution(8, 1060, 1100, desc="count at a:0")
    events += job(2, "g", 1061, 1090, 2, "count at a:0", 8)
    events += execution(9, 1061, 1062, root=8)  # a sub-execution is not an action
    tr = ev.reduce_events(events)
    assert tr.actions[7].cls == ev.CHECKPOINT and tr.actions[7].jobs == [0, 1]
    assert tr.actions[8].cls == ev.SIZING and tr.actions[8].group == "g"
    assert 9 not in tr.actions
    f = ev.call_figures(tr, "g", 1000, 1100)
    assert (f.actions, f.supersteps, f.sizing_actions) == (2, 1, 1)
    assert f.checkpoint_s == pytest.approx(0.050)


def test_superstep_interval_and_idle_gap():
    events = []
    for i, (lo, hi) in enumerate([(0, 100), (150, 300), (320, 400)]):
        s, e = execution(i, 1000 + lo, 1000 + hi, desc="localCheckpoint at a:0")
        events += [s, *job(i, "g", 1000 + lo, 1000 + hi, i, "localCheckpoint at a:0", i), e]
    f = ev.call_figures(ev.reduce_events(events), "g", 1000, 1400)
    assert f.supersteps == 3
    assert f.superstep_ms == [200, 100]
    assert f.superstep_gap_ms == [50, 20]


def test_output_group_counts_time_but_not_convergence():
    events = list(execution(0, 1000, 1010, desc="collectToPython at a:0"))
    events[1:1] = job(0, "g#out", 1000, 1010, 0, "collectToPython at a:0", 0)
    f = ev.call_figures(ev.reduce_events(events), "g", 1000, 1020, output_group="g#out")
    assert (f.jobs, f.actions, f.convergence_actions) == (1, 1, 0)


def test_file_scans_and_python_time():
    scan, cached = job(0, "g", 1000, 1010, 0, "collectToPython at a:0"), job(
        1, "g", 1010, 1020, 1, "collectToPython at a:0")
    scan[1]["Stage Info"]["RDD Info"] = [{"Name": "FileScanRDD"}]
    for events, ms in ((scan, 7), (cached, 0)):
        events[2]["Task Metrics"]["Input Metrics"]["Bytes Read"] = 2**20
        events[2]["Task Info"]["Accumulables"] = [
            {"Name": "time to run Python workers", "Update": str(ms)}]
    f = ev.call_figures(ev.reduce_events(scan + cached), "g", 1000, 1020)
    # cached-block reads carry input bytes too; only the file scan counts
    assert f.input_mb == pytest.approx(1.0)
    assert f.scan_task_s == pytest.approx(0.004)
    assert f.python_s == pytest.approx(0.007)


def test_rolling_files_are_read_in_index_order():
    files = ev.event_files(DATA)
    assert [os.path.basename(p).split("_")[1] for p in files] == ["1", "2", "10"]


def test_recorded_pagerank_log():
    tr = ev.read_trace(DATA)
    groups = {j.group for j in tr.jobs.values()}
    assert groups == {"call", "call#out"}
    start = min(j.start for j in tr.jobs.values())
    end = max(j.end for j in tr.jobs.values())
    main = ev.call_figures(tr, "call", start, end)
    # one cut for the initial vector, then one per superstep
    assert main.supersteps == 11
    # the edge count sizes the partitions, the node count gives N
    assert main.sizing_actions == 2
    assert main.convergence_actions == 0
    assert 0 < main.job_s <= main.wall_s
    assert len(main.superstep_ms) == 10 and all(m > 0 for m in main.superstep_ms)
    assert all(0 <= g <= m for g, m in zip(main.superstep_gap_ms, main.superstep_ms))
    assert main.checkpoint_mb > 0
    out = ev.call_figures(tr, "call#out", start, end)
    assert out.actions == 1 and out.output_mb > 0
    assert tr.actions[max(tr.actions)].cls == ev.WRITE

"""Tests of the event-log parser on a small recorded log.

``testdata/eventlog-small.jsonl`` is a Spark 4.1 event log of two queries on
the sf0.001 fixture, ``o1_apply_udf`` (three jobs, one Arrow UDF stage) and
``st1_stream_resample`` (one micro-batch), with the fields the parser does
not read removed. Run from the repository root:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os

import pytest

from perfbench import eventlog

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata", "eventlog-small.jsonl")
MB = 1024 * 1024

# wall-clock windows of the two queries, in epoch seconds
O1 = (1792172717.0, 1792172723.1)
ST1 = (1792172723.1, 1792172726.5)


@pytest.fixture(scope="module")
def log():
    return eventlog.parse(LOG)


def test_jobs_stages_and_tasks(log):
    assert sorted(log.jobs) == [0, 1, 2, 3, 4, 5]
    assert log.jobs[0].description == "bench:rec:o1_apply_udf"
    assert log.jobs[4].description.startswith("ss_")  # a micro-batch names its stream
    assert log.jobs[4].stages == [4, 5]
    assert len(log.completed_stages) == 7
    assert len(log.tasks) == 13


def test_window_counts(log):
    o1, st1 = eventlog.window_metrics(log, [O1, ST1])
    assert (o1["jobs"], o1["stages"], o1["tasks"]) == (3, 3, 3)
    # the micro-batch job runs on the stream's thread; its time places it
    assert (st1["jobs"], st1["stages"], st1["tasks"]) == (3, 4, 10)


def test_driver_gap_is_window_minus_job_union(log):
    o1, st1 = eventlog.window_metrics(log, [O1, ST1])
    # o1 jobs: [717.778, 718.353], [720.183, 720.655], [720.965, 723.043]
    busy_o1 = 0.575 + 0.472 + 2.078
    assert o1["driver_gap_s"] == pytest.approx((O1[1] - O1[0]) - busy_o1, abs=1e-6)
    # st1 jobs: [723.114, 723.182], [724.979, 725.980], [726.311, 726.370]
    busy_st1 = 0.068 + 1.001 + 0.059
    assert st1["driver_gap_s"] == pytest.approx((ST1[1] - ST1[0]) - busy_st1, abs=1e-6)


def test_python_worker_accumulables(log):
    o1, st1 = eventlog.window_metrics(log, [O1, ST1])
    assert o1["run_s"] == pytest.approx(1.926)
    assert o1["boot_s"] == pytest.approx(1.267)
    assert o1["init_s"] == pytest.approx(0.335)
    assert o1["sent_mb"] == pytest.approx(48896 / MB)
    assert o1["recv_mb"] == pytest.approx(48144 / MB)
    assert st1["run_s"] == 0.0


def test_streaming_progress_fields(log):
    o1, st1 = eventlog.window_metrics(log, [O1, ST1])
    assert o1["batches"] == 0
    assert st1["batches"] == 1
    assert st1["trigger_ms"] == 2414
    assert st1["add_batch_ms"] == 1733
    assert st1["commit_ms"] == 41 + 189  # walCommit + commitOffsets
    assert st1["plan_ms"] == 351
    assert st1["state_rows"] == 868


def test_events_outside_every_window_are_dropped(log):
    (only,) = eventlog.window_metrics(log, [(O1[0], 1792172720.0)])
    assert only["jobs"] == 1 and only["tasks"] == 1 and only["batches"] == 0


def test_union_merges_overlaps_and_nesting():
    assert eventlog.union_s([]) == 0.0
    assert eventlog.union_s([(0, 1), (2, 3)]) == 2.0
    assert eventlog.union_s([(0, 2), (1, 3), (1.5, 1.6), (5, 6)]) == 4.0


def test_jobs_repeat_compares_per_query_jobs_with_an_earlier_run():
    from perfbench import trace

    now = {"a": {"jobs": 3, "tasks": 4}, "b": {"jobs": 1, "tasks": 1}}
    assert trace.jobs_repeat(now, {"a": {"jobs": 3, "tasks": 9}, "b": {"jobs": 1}}) == 1.0
    assert trace.jobs_repeat(now, {"a": {"jobs": 2}, "b": {"jobs": 1}}) == 0.0
    assert trace.jobs_repeat(now, {"a": {"jobs": 3}}) == 0.0
    assert trace.jobs_repeat(now, None) == -1.0

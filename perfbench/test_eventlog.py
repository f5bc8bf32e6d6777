"""Unit tests of the event-log parser.

    python3 -m pytest perfbench/test_eventlog.py -q

``testdata/eventlog_v2_local-1`` is a recorded Spark 4.1 rolling event
log of two queries (job groups ``q1_pricing_summary`` and
``text_stats``) on 4 cores, cut down to the events and accumulables the
parser reads and split over two parts.
"""

from __future__ import annotations

import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402

RECORDED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata")
MB = 2**20


def test_recorded_rolling_log_sums_stages_by_job_group():
    log = eventlog.parse(RECORDED)
    q1 = log.groups["q1_pricing_summary"]
    # three jobs; job 12 lists stage 13, which was skipped and never completed
    assert (q1.jobs, q1.stages, q1.tasks, q1.failed_tasks) == (3, 3, 3, 0)
    assert math.isclose(q1.executor_run_s, (12 + 377 + 40) / 1e3)
    assert math.isclose(q1.executor_cpu_s, (2012395 + 359474785 + 40625289) / 1e9)
    assert math.isclose(q1.gc_s, 0.014)
    assert math.isclose(q1.single_task_stage_s, (48 + 396 + 62) / 1e3)
    assert math.isclose(q1.shuffle_write_mb, 845 / MB)
    assert math.isclose(q1.shuffle_read_mb, 845 / MB)
    assert q1.python_run_s == 0.0

    ts = log.groups["text_stats"]
    assert (ts.jobs, ts.stages, ts.tasks) == (2, 2, 2)
    assert math.isclose(ts.python_init_s, 1.429)
    assert math.isclose(ts.python_run_s, 0.168)
    assert math.isclose(ts.python_sent_mb, 148088 / MB)
    assert math.isclose(ts.python_returned_mb, 15632 / MB)
    assert math.isclose(ts.executor_run_s, (3 + 175) / 1e3)


def test_rolling_parts_are_read_in_index_order():
    files = eventlog.event_files(RECORDED)
    assert [os.path.basename(f) for f in files] == ["events_1_local-1", "events_2_local-1"]


def test_total_sums_matching_groups():
    log = eventlog.parse(RECORDED)
    both = log.total(lambda g: g in ("q1_pricing_summary", "text_stats"))
    assert both.jobs == 5
    assert math.isclose(both.executor_run_s, 0.429 + 0.178)


def _stage(sid, accs, tasks=2):
    return {
        "Event": "SparkListenerStageCompleted",
        "Stage Info": {
            "Stage ID": sid,
            "Number of Tasks": tasks,
            "Submission Time": 0,
            "Completion Time": 10,
            "Accumulables": [{"ID": i, "Name": n, "Value": v} for i, n, v in accs],
        },
    }


def test_plain_file_failed_tasks_and_shared_sql_metric(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "g"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task End Reason": {"Reason": "Success"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task End Reason": {"Reason": "ExceptionFailure"}},
        # one SQL metric reported by two stages as a running total: 300, then 500
        _stage(1, [(7, "time to run Python workers", "300")]),
        _stage(2, [(7, "time to run Python workers", "500"),
                   (8, "internal.metrics.diskBytesSpilled", MB)]),
        {"Event": "SparkListenerJobStart", "Stage IDs": [3], "Properties": {}},
        _stage(3, [(9, "internal.metrics.executorRunTime", 1000)]),
    ]
    (tmp_path / "local-123").write_text("".join(json.dumps(e) + "\n" for e in events))
    log = eventlog.parse(str(tmp_path))
    g = log.groups["g"]
    assert (g.jobs, g.stages, g.tasks, g.failed_tasks) == (1, 2, 4, 1)
    assert math.isclose(g.python_run_s, 0.5)
    assert math.isclose(g.spill_mb, 1.0)
    assert g.single_task_stage_s == 0.0
    # jobs without a group land under ""
    assert math.isclose(log.groups[""].executor_run_s, 1.0)

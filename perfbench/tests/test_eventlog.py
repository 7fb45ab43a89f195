"""Event-log parsing on a hand-written log."""

from __future__ import annotations

import json

import pytest

import eventlog


def _task(stage, run_ms, ok=True, attempt=0, accs=()):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
        "Task Info": {"Attempt": attempt,
                      "Accumulables": [{"ID": i, "Name": n, "Update": u} for i, n, u in accs]},
        "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": run_ms * 10**6 // 2,
                         "JVM GC Time": 10, "Peak Execution Memory": run_ms,
                         "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
                         "Shuffle Read Metrics": {"Remote Bytes Read": 5, "Local Bytes Read": 7},
                         "Input Metrics": {"Bytes Read": 1000, "Records Read": 4}},
    }


PLAN = {"nodeName": "Execute InsertIntoHadoopFsRelationCommand", "simpleString": "", "metrics": [],
        "children": [
            {"nodeName": "BroadcastHashJoin", "simpleString": "", "metrics": [], "children": [
                {"nodeName": "ArrowEvalPython", "simpleString": "", "children": [], "metrics": [
                    {"name": "data sent to Python workers", "accumulatorId": 7, "metricType": "size"},
                    {"name": "time to run Python workers", "accumulatorId": 8, "metricType": "timing"},
                ]},
                {"nodeName": "Exchange", "simpleString": "Exchange hashpartitioning(doc_id, 4)",
                 "children": [], "metrics": []},
            ]},
        ]}

EVENTS = [
    {"Event": "SparkListenerApplicationStart", "Timestamp": 0},
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
     "executionId": 0, "description": "parquet", "time": 500,
     "physicalPlanDescription": "plan text /out/data", "sparkPlanInfo": PLAN},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1],
     "Properties": {"spark.sql.execution.id": "0"}},
    {"Event": "SparkListenerStageCompleted",
     "Stage Info": {"Stage ID": 0, "Submission Time": 1000, "Completion Time": 3000, "Number of Tasks": 2}},
    {"Event": "SparkListenerStageCompleted",
     "Stage Info": {"Stage ID": 1, "Submission Time": 2000, "Completion Time": 4000, "Number of Tasks": 3}},
    _task(0, 1000, accs=[(7, "data sent to Python workers", 300), (8, "time to run Python workers", 40)]),
    _task(0, 3000, accs=[(7, "data sent to Python workers", 200)]),
    _task(1, 100), _task(1, 100), _task(1, 400, ok=False, attempt=1),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 4000},
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd", "executionId": 0, "time": 4500},
    {"Event": "SparkListenerApplicationEnd", "Timestamp": 10000},
]


@pytest.fixture()
def log(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    (d / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in EVENTS) + "\n")
    return eventlog.EventLog(eventlog.load(tmp_path))


def test_engine_totals(log):
    m = log.engine(cores=2)
    assert (m["spark.jobs"], m["spark.stages"], m["spark.tasks"]) == (1, 2, 5)
    assert m["spark.task_run_s"] == pytest.approx(4.6)
    assert m["spark.task_cpu_s"] == pytest.approx(2.3)
    assert m["spark.gc_s"] == pytest.approx(0.05)
    assert m["spark.shuffle_write_bytes"] == 500
    assert m["spark.shuffle_read_bytes"] == 60
    assert m["spark.peak_exec_mem_bytes"] == 3000
    assert (m["spark.failed_tasks"], m["spark.retried_tasks"]) == (1, 1)
    # stages cover [1, 4] s of the [0, 10] s application
    assert m["spark.driver_gap_s"] == pytest.approx(7.0)
    assert m["spark.core_util"] == pytest.approx(4.6 / (10 * 2))


def test_python_udf_metrics_come_from_the_plan_accumulators(log):
    udf = log.python_udf()
    assert udf["bytes_sent"] == 500
    assert udf["python_ms"] == 40
    assert udf["bytes_received"] == 0


def test_plan_facts_and_execution_timing(log):
    ex = log.executions[0]
    assert ex["end"] - ex["start"] == pytest.approx(4.0)
    facts = eventlog.plan_facts(ex["plan_info"])
    assert facts["BroadcastHashJoin"] == 1
    assert facts["ShuffledHashJoin"] == 0
    assert facts["exchange.hash"] == 1
    assert facts["ArrowEvalPython"] == 1


def test_driver_gap_merges_overlapping_intervals():
    assert eventlog.driver_gap([(1, 3), (2, 4), (6, 7)], 0, 10) == pytest.approx(6.0)
    assert eventlog.driver_gap([], 0, 5) == pytest.approx(5.0)


def test_task_skew_is_max_over_median():
    assert eventlog.task_skew([100, 100, 400]) == pytest.approx(4.0)
    assert eventlog.task_skew([10, 30]) == pytest.approx(1.5)
    assert eventlog.task_skew([]) == 0.0

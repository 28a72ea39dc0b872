"""The event-log parser attributes a known job to its span and fails
loudly on logs it cannot account for.

    python -m pytest perfbench/tests/test_trace.py -q
"""

from __future__ import annotations

import copy
import json

import pytest

from perfbench import trace

SQL = "org.apache.spark.sql.execution.ui."
PLAN = {
    "nodeName": "MapInPandas",
    "metrics": [
        {"name": trace.PYTHON_TIME, "accumulatorId": 7, "metricType": "nsTiming"},
        {"name": "data sent to Python workers", "accumulatorId": 9, "metricType": "size"},
    ],
    "children": [{
        "nodeName": "Scan parquet ",
        "metrics": [{"name": "size of files read", "accumulatorId": 8, "metricType": "size"}],
        "children": [],
    }],
}
EVENTS = [
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Properties": {"spark.jobGroup.id": "pb-1"}},
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0},
     "Properties": {"spark.jobGroup.id": "pb-1"}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Stage Attempt ID": 0,
     "Task End Reason": {"Reason": "Success"},
     "Task Info": {"Accumulables": [
         {"ID": 7, "Update": "3000000000", "Metadata": "sql"},
         {"ID": 8, "Update": "4096", "Metadata": "sql"},
         {"ID": 9, "Update": "512", "Metadata": "sql"}]},
     "Task Metrics": {"Executor CPU Time": 2_000_000_000, "JVM GC Time": 100, "Result Size": 50,
                      "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 10,
                      "Shuffle Write Metrics": {"Shuffle Bytes Written": 123}}},
    {"Event": "SparkListenerStageCompleted",
     "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0,
                    "Submission Time": 1_000_500, "Completion Time": 1_001_500}},
    {"Event": SQL + "SparkListenerSQLExecutionStart", "executionId": 0, "time": 1_000_400,
     "jobGroupId": "pb-1", "sparkPlanInfo": PLAN,
     "physicalPlanDescription": "Project [from_json(payload)]"},
    {"Event": "SparkListenerApplicationEnd", "Timestamp": 1_003_000},
]


def spans() -> list[trace.Span]:
    root = trace.Span("pb-0", trace.PASS, "w", None, 0, False, 1000.0, 1002.0)
    sink = trace.Span("pb-1", "sinks", "submit_features", "pb-0", 0, True, 1000.2, 1001.8)
    return [root, sink]


def write(tmp_path, events) -> str:
    path = tmp_path / "app"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    return str(path)


def test_known_job_is_attributed_to_its_span(tmp_path):
    table = trace.layer_table(spans(), trace.EventLog(write(tmp_path, EVENTS)))
    assert table["sinks.jobs"] == 1
    assert table["sinks.tasks"] == 1
    assert table["sinks.exec_cpu_s"] == pytest.approx(2.0)
    assert table["sinks.gc_s"] == pytest.approx(0.1)
    assert table["sinks.shuffle_bytes"] == 123
    assert table["sinks.spill_bytes"] == 10
    assert table["sinks.python_s"] == pytest.approx(3.0)
    assert table["sinks.wall_s"] == pytest.approx(1.6)
    assert table["sinks.driver_s"] == pytest.approx(0.6)  # 1.0 s of it is the stage
    assert table["sinks.python_bytes_sent"] == 512
    assert table["bench.jobs_per_pass"] == 1
    assert table["io.scans"] == 1 and table["io.scan_bytes"] == 4096
    assert table["ingest.wildweb.json_decodes"] == 1
    assert table["operators.dedup.jobs"] == 0  # a layer the pass never called


def test_python_node_without_python_time_raises(tmp_path):
    events = copy.deepcopy(EVENTS)
    events[4]["sparkPlanInfo"]["metrics"] = events[4]["sparkPlanInfo"]["metrics"][1:]
    with pytest.raises(trace.TraceError, match="time to run Python workers"):
        trace.layer_table(spans(), trace.EventLog(write(tmp_path, events)))


def test_sql_execution_without_job_group_inside_a_pass_raises(tmp_path):
    events = copy.deepcopy(EVENTS)
    events[4]["jobGroupId"] = "None"
    with pytest.raises(trace.TraceError, match="no job group"):
        trace.layer_table(spans(), trace.EventLog(write(tmp_path, events)))


def test_action_span_without_jobs_raises(tmp_path):
    events = [e for e in EVENTS if e["Event"] != "SparkListenerJobStart"]
    with pytest.raises(trace.TraceError, match="ran no Spark job"):
        trace.layer_table(spans(), trace.EventLog(write(tmp_path, events)))


def test_unreadable_or_unfinished_log_raises(tmp_path):
    with pytest.raises(trace.TraceError, match="unreadable"):
        trace.EventLog(str(tmp_path / "missing"))
    with pytest.raises(trace.TraceError, match="no application end"):
        trace.EventLog(write(tmp_path, EVENTS[:-1]))
    (tmp_path / "torn").write_text("{not json\n")
    with pytest.raises(trace.TraceError, match="line 1"):
        trace.EventLog(str(tmp_path / "torn"))

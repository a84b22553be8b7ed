import json

import pytest

from sparklog import EventLog


def _events():
    plan = {
        "nodeName": "MapInPandas",
        "metrics": [
            {"name": "time to start Python workers", "accumulatorId": 7, "metricType": "timing"},
            {"name": "data sent to Python workers", "accumulatorId": 8, "metricType": "size"},
        ],
        "children": [],
    }
    task = lambda stage, boot, shuffle: {  # noqa: E731
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Accumulables": [{"ID": 7, "Update": str(boot)}, {"ID": 8, "Update": "100"}]},
        "Task Metrics": {
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Memory Bytes Spilled": 5, "Disk Bytes Spilled": 1,
        },
    }
    return [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Properties": {"spark.jobGroup.id": "g"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": {"spark.jobGroup.id": "g"}},
        task(0, 10, 50),  # before the plan metadata: resolved at the end
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "sparkPlanInfo": plan},
        task(0, 30, 0),
        # a job outside any benchmark span is ignored
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Properties": {}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1}, "Properties": {}},
        task(1, 99, 99),
    ]


def test_counters_charged_to_job_group(tmp_path):
    p = tmp_path / "app"
    p.write_text("\n".join(json.dumps(e) for e in _events()))
    c = EventLog(str(p)).counters(["g", "missing"])
    assert c["spark.jobs"] == 1 and c["spark.stages"] == 1 and c["spark.tasks"] == 2
    assert c["shuffle.bytes_written"] == 50
    assert c["spill.bytes"] == 12
    assert c["python.boot_ms"] == 40
    assert c["python.data_sent_bytes"] == 200
    assert c["python.total_ms"] == 0


def test_from_dir_requires_one_log(tmp_path):
    (tmp_path / "a").write_text("")
    (tmp_path / "b").write_text("")
    with pytest.raises(RuntimeError):
        EventLog.from_dir(str(tmp_path))

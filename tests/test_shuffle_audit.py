"""tools/shuffle_audit.py parser: event-log lines must attribute task
metrics to the owning query via the job-group property, fold local +
remote shuffle reads, and route group-less stages to _unattributed."""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from tools.shuffle_audit import parse_event_log  # noqa: E402


def _write_log(tmp_path, events):
    p = tmp_path / "events_1_app"
    p.write_text("\n".join(json.dumps(e) for e in events))
    return str(p)


def _task_end(stage_id, write=0, remote=0, local=0, inp=0, spill_mem=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage_id,
        "Task Metrics": {
            "Shuffle Write Metrics": {"Shuffle Bytes Written": write},
            "Shuffle Read Metrics": {
                "Remote Bytes Read": remote,
                "Local Bytes Read": local,
            },
            "Input Metrics": {"Bytes Read": inp},
            "Output Metrics": {"Bytes Written": 0},
            "Memory Bytes Spilled": spill_mem,
            "Disk Bytes Spilled": 0,
        },
    }


def test_attributes_metrics_to_job_group(tmp_path):
    events = [
        {
            "Event": "SparkListenerJobStart",
            "Properties": {"spark.jobGroup.id": "q1"},
            "Stage Infos": [{"Stage ID": 0}, {"Stage ID": 1}],
        },
        _task_end(0, write=100, inp=50),
        _task_end(1, remote=40, local=60),
        _task_end(1, local=10, spill_mem=7),
    ]
    out = parse_event_log(_write_log(tmp_path, events))
    q1 = out["q1"]
    assert q1["shuffle_write_bytes"] == 100
    assert q1["shuffle_read_bytes"] == 110  # remote 40 + local 70
    assert q1["input_bytes"] == 50
    assert q1["memory_spill_bytes"] == 7


def test_shared_stage_keeps_first_attribution(tmp_path):
    events = [
        {
            "Event": "SparkListenerJobStart",
            "Properties": {"spark.jobGroup.id": "first"},
            "Stage Infos": [{"Stage ID": 5}],
        },
        {
            "Event": "SparkListenerJobStart",
            "Properties": {"spark.jobGroup.id": "second"},
            "Stage Infos": [{"Stage ID": 5}, {"Stage ID": 6}],
        },
        _task_end(5, write=11),
        _task_end(6, write=22),
    ]
    out = parse_event_log(_write_log(tmp_path, events))
    assert out["first"]["shuffle_write_bytes"] == 11
    assert out["second"]["shuffle_write_bytes"] == 22


def test_groupless_stage_goes_unattributed(tmp_path):
    events = [
        {
            "Event": "SparkListenerJobStart",
            "Properties": {},
            "Stage Infos": [{"Stage ID": 0}],
        },
        _task_end(0, write=9),
        _task_end(42, write=5),  # stage never announced by any job
        "not json at all",
    ]
    p = tmp_path / "events_raw"
    p.write_text(
        "\n".join(
            e if isinstance(e, str) else json.dumps(e) for e in events
        )
    )
    out = parse_event_log(str(p))
    assert out["_unattributed"]["shuffle_write_bytes"] == 14

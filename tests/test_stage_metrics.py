"""tools/stage_metrics.py keeps the stages of separate event logs apart:
stage ids restart at 0 in every Spark application, so two runs' logs
must never merge into one entry."""

from __future__ import annotations

import importlib.util
import json
import os

_TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools",
    "stage_metrics.py",
)


def _load_tool():
    spec = importlib.util.spec_from_file_location("stage_metrics", _TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _write_log(path, events):
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text("".join(json.dumps(e) + "\n" for e in events))


def _task_end(run_ms, shuffle_bytes):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": 0,
        "Stage Attempt ID": 0,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_bytes},
        },
    }


def _stage_done(name, wall_ms):
    return {
        "Event": "SparkListenerStageCompleted",
        "Stage Info": {
            "Stage ID": 0,
            "Stage Attempt ID": 0,
            "Stage Name": name,
            "Submission Time": 1000,
            "Completion Time": 1000 + wall_ms,
        },
    }


def test_same_stage_id_in_two_logs_stays_separate(tmp_path):
    sm = _load_tool()
    # app A: the usual order, two tasks then the stage completion
    _write_log(
        tmp_path / "app-a" / "events",
        [_task_end(10, 100), _task_end(20, 200), _stage_done("collect at a", 50)],
    )
    # app B: the completion lands BEFORE its task end — the order that
    # raised KeyError when both logs shared one (stage, attempt) entry
    _write_log(
        tmp_path / "app-b" / "events",
        [_stage_done("count at b", 70), _task_end(5, 7)],
    )
    _write_log(tmp_path / "app-b" / "appstatus_b", [_task_end(999, 999)])
    logs = sm.event_logs(str(tmp_path))
    assert len(logs) == 2
    stages = sm.rollup(logs)
    a = stages[(str(tmp_path / "app-a" / "events"), 0, 0)]
    b = stages[(str(tmp_path / "app-b" / "events"), 0, 0)]
    assert len(stages) == 2
    assert (a["n"], a["run"], a["sw_b"], a["wall"]) == (2, 30, 300, 50)
    assert (b["n"], b["run"], b["sw_b"], b["wall"]) == (1, 5, 7, 70)
    assert a["name"] == "collect at a" and b["name"] == "count at b"

"""``tools/job_decomp.py`` flags the stages that run Python-worker tasks."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

import job_decomp  # noqa: E402


def _stage(sid: int, rdds: list[str]) -> dict:
    return {
        "Event": "SparkListenerStageCompleted",
        "Stage Info": {
            "Stage ID": sid,
            "Stage Name": f"collect at x.py:{sid}",
            "Number of Tasks": 2,
            "Submission Time": 1000,
            "Completion Time": 3000,
            "RDD Info": [{"RDD ID": i, "Name": n} for i, n in enumerate(rdds)],
        },
    }


def _task(sid: int, run_ms: int) -> dict:
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": sid,
        "Task Metrics": {"Executor Run Time": run_ms},
    }


def test_python_rdd_stages_are_flagged_and_summed(tmp_path, capsys, monkeypatch):
    events = [
        {
            "Event": "SparkListenerJobStart",
            "Job ID": 0,
            "Submission Time": 1000,
            "Stage Infos": [{"Stage ID": 0}, {"Stage ID": 1}],
            "Properties": {"spark.job.description": "verdicts"},
        },
        _stage(0, ["MapPartitionsRDD", "PythonRDD", "ParallelCollectionRDD"]),
        _stage(1, ["ShuffledRowRDD", "MapPartitionsRDD"]),
        _task(0, 1500),
        _task(0, 500),
        _task(1, 250),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 4000},
    ]
    log = tmp_path / "events"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    monkeypatch.setattr(sys, "argv", ["job_decomp.py", str(log)])
    assert job_decomp.main() == 0
    out = capsys.readouterr().out
    assert "s0 [py]" in out and "s1 [py]" not in out
    assert "PythonRDD stages: 1 of 2, executor run time 2.00s of 2.25s" in out

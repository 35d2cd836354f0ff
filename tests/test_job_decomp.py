"""``tools/job_decomp.py`` flags the stages that run Python-worker tasks and
groups unlabelled jobs by SQL execution."""

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


def _job(jid: int, sid: int, props: dict) -> list[dict]:
    return [
        {
            "Event": "SparkListenerJobStart",
            "Job ID": jid,
            "Submission Time": 1000,
            "Stage Infos": [{"Stage ID": sid}],
            "Properties": props,
        },
        _stage(sid, ["MapPartitionsRDD"]),
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": 2000},
    ]


def _plan(name: str, *children: dict) -> dict:
    return {"nodeName": name, "simpleString": name, "children": list(children)}


def test_unlabelled_jobs_group_by_sql_execution(tmp_path, capsys, monkeypatch):
    sql = "org.apache.spark.sql.execution.ui."
    events = [
        {
            "Event": sql + "SparkListenerSQLExecutionStart",
            "executionId": 7,
            "description": "collect at dedup.py:580",
            "sparkPlanInfo": _plan("AdaptiveSparkPlan", _plan("HashAggregate")),
        },
        {
            "Event": sql + "SparkListenerSQLAdaptiveExecutionUpdate",
            "executionId": 7,
            "sparkPlanInfo": _plan(
                "AdaptiveSparkPlan",
                _plan("ResultQueryStage", _plan("WholeStageCodegen (2)", _plan("CollectLimit"))),
            ),
        },
        {
            "Event": sql + "SparkListenerSQLExecutionStart",
            "executionId": 8,
            "description": "count at run.py:10",
            "sparkPlanInfo": _plan("HashAggregate"),
        },
        *_job(0, 0, {"spark.sql.execution.id": "7"}),
        *_job(1, 1, {"spark.sql.execution.id": "7"}),
        *_job(2, 2, {"spark.sql.execution.id": "8"}),
        *_job(3, 3, {}),
        *_job(4, 4, {"spark.job.description": "verdicts", "spark.sql.execution.id": "8"}),
    ]
    log = tmp_path / "events"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    monkeypatch.setattr(sys, "argv", ["job_decomp.py", str(log)])
    assert job_decomp.main() == 0
    out = capsys.readouterr().out
    assert "== (none) sql 7: collect at dedup.py:580 [CollectLimit]  jobs=2" in out
    assert "== (none) sql 8: count at run.py:10 [HashAggregate]  jobs=1" in out
    assert "== (none)  jobs=1" in out
    assert "== verdicts  jobs=1" in out

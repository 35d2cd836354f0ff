"""Per-job / per-stage decomposition of a Spark event-log directory, grouped
by job description (``setJobDescription``). Jobs without a description are
grouped by their SQL execution (``spark.sql.execution.id``), each headed by
the execution's description (its call site unless one was set) and the root
operator of its final physical plan; only jobs outside any SQL execution
stay under "(none)". Companion to stage_scaling.py for
single-run analysis: which jobs a query runs, their wall times, and the
slowest stages inside each. Stages whose RDD lineage contains a
``PythonRDD`` run Python-worker tasks (e.g. any read of a table built by
``spark.createDataFrame`` from Python rows); they are marked ``[py]`` and
counted, with their executor run time, in a closing summary line.

Usage:
    python tools/job_decomp.py <evlog_dir_or_file> [desc_filter]

Handles Spark 4 rolling logs; .zstd files are decompressed via the zstd CLI
into a temp dir when no zstandard module is available.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import tempfile
from collections import defaultdict


def event_files(root: str) -> list[str]:
    if os.path.isfile(root):
        paths = [root]
    else:
        paths = [
            p
            for p in glob.glob(root + "/**", recursive=True)
            if os.path.isfile(p) and "appstatus" not in os.path.basename(p)
        ]
    out = []
    tmp = None
    for p in sorted(paths):
        if p.endswith(".zstd"):
            if tmp is None:
                tmp = tempfile.mkdtemp(prefix="evlog_")
            dst = os.path.join(tmp, os.path.basename(p)[: -len(".zstd")])
            subprocess.run(["zstd", "-d", "-f", p, "-o", dst], check=True,
                           capture_output=True)
            out.append(dst)
        else:
            out.append(p)
    return out


#: plan nodes that wrap the operator a query actually ends in
_WRAPPERS = ("AdaptiveSparkPlan", "ResultQueryStage", "WholeStageCodegen", "InputAdapter")


def root_operator(plan: dict) -> str:
    """Name of the first plan node below the AQE / codegen wrappers."""
    while plan.get("nodeName", "").startswith(_WRAPPERS) and plan.get("children"):
        plan = plan["children"][0]
    return plan.get("nodeName", "?")


def load(root: str):
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    task_time: dict[int, float] = defaultdict(float)
    executions: dict[int, dict] = {}
    for path in event_files(root):
        with open(path) as fh:
            for line in fh:
                if '.SparkListenerSQLExecutionStart"' in line:
                    ev = json.loads(line)
                    executions[ev["executionId"]] = {
                        "desc": ev.get("description", ""),
                        "root": root_operator(ev.get("sparkPlanInfo") or {}),
                    }
                elif '.SparkListenerSQLAdaptiveExecutionUpdate"' in line:
                    # the final adaptive plan supersedes the initial one
                    ev = json.loads(line)
                    if ev["executionId"] in executions:
                        executions[ev["executionId"]]["root"] = root_operator(
                            ev.get("sparkPlanInfo") or {}
                        )
                elif '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    props = ev.get("Properties") or {}
                    eid = props.get("spark.sql.execution.id")
                    jobs[ev["Job ID"]] = {
                        "desc": props.get("spark.job.description", ""),
                        "execution": None if eid is None else int(eid),
                        "start": ev["Submission Time"],
                        "end": None,
                        "stages": [s["Stage ID"] for s in ev["Stage Infos"]],
                    }
                elif '"SparkListenerJobEnd"' in line:
                    ev = json.loads(line)
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif '"SparkListenerStageCompleted"' in line:
                    ev = json.loads(line)
                    info = ev["Stage Info"]
                    stages[info["Stage ID"]] = {
                        "name": info["Stage Name"].split("\n")[0],
                        "tasks": info["Number of Tasks"],
                        "python": any(
                            r.get("Name") == "PythonRDD"
                            for r in info.get("RDD Info") or []
                        ),
                        "wall": (
                            info.get("Completion Time", 0)
                            - info.get("Submission Time", 0)
                        )
                        / 1000.0,
                    }
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    m = ev.get("Task Metrics") or {}
                    task_time[ev["Stage ID"]] += m.get("Executor Run Time", 0) / 1000.0
    return jobs, stages, task_time, executions


def group_name(job: dict, executions: dict[int, dict]) -> str:
    if job["desc"]:
        return job["desc"]
    eid = job["execution"]
    if eid is None:
        return "(none)"
    ex = executions.get(eid, {})
    return f"(none) sql {eid}: {ex.get('desc', '?')} [{ex.get('root', '?')}]"


def main() -> int:
    root = sys.argv[1]
    flt = sys.argv[2] if len(sys.argv) > 2 else None
    jobs, stages, task_time, executions = load(root)
    bydesc: dict[str, list] = defaultdict(list)
    seen: set[int] = set()
    for jid, j in sorted(jobs.items()):
        if j["end"] is None:
            continue
        bydesc[group_name(j, executions)].append((jid, j))
    for desc, js in bydesc.items():
        if flt and flt not in desc:
            continue
        wall = sum((j["end"] - j["start"]) / 1000.0 for _, j in js)
        print(f"\n== {desc}  jobs={len(js)} wall_sum={wall:.2f}s")
        for jid, j in js:
            jw = (j["end"] - j["start"]) / 1000.0
            run_stages = [
                (sid, stages[sid]) for sid in j["stages"] if sid in stages
            ]
            seen.update(sid for sid, _ in run_stages)
            run_stages.sort(key=lambda s: -s[1]["wall"])
            top = "; ".join(
                f"s{sid}{' [py]' if st['python'] else ''} {st['wall']:.2f}s/{st['tasks']}t "
                f"tt={task_time[sid]:.1f} {st['name'][:40]}"
                for sid, st in run_stages[:3]
            )
            print(f"  job {jid:4d} wall={jw:6.2f}s  {top}")
    py = [sid for sid in seen if stages[sid]["python"]]
    print(
        f"\nPythonRDD stages: {len(py)} of {len(seen)}, executor run time "
        f"{sum(task_time[sid] for sid in py):.2f}s of {sum(task_time[sid] for sid in seen):.2f}s"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Traced mode: spans around layer calls, a Spark event-log reader, and the
per-layer metrics computed from both.

Spans are recorded in memory (name, start, end, parent, repetition) and
written out when the run ends. The benchmark opens spans around its own
calls into the engine; ``instrument`` additionally wraps the public
functions the engine calls internally (rule lint and compile, the ordering,
referential and profiler builders, checkpoint, table IO, ``validate``), so
each layer's driver time is measured where it is spent. Engine files are not
modified: the wrappers are installed on the imported modules for the traced
part of a run only, and removed afterwards.

Jobs from the event log are attributed to the innermost span open when they
were submitted; task counters follow their stage's job.
"""

from __future__ import annotations

import contextlib
import glob
import inspect
import json
import os
import statistics
import subprocess
import threading
import time
from collections import defaultdict


class NoTrace:
    """Stand-in used for untraced repetitions: spans cost nothing."""

    def span(self, name: str):
        return contextlib.nullcontext()


NO_TRACE = NoTrace()


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.rep: int | None = None
        self._root: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        #: DataFrames captured from wrapped calls, counted after the
        #: repetition (outside its timed span) into ``counts[rep]``
        self.captured: dict[str, object] = {}
        self.counts: dict[int, dict[str, int]] = {}

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": stack[-1] if stack else self._root,
            "rep": self.rep,
        }
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.time()
            stack.pop()

    @contextlib.contextmanager
    def repetition(self, rep: int):
        self.rep = rep
        with self.span("repetition"):
            self._root = len(self.spans) - 1
            try:
                yield
            finally:
                self._root = None

    def write(self, path: str) -> None:
        """Write the spans, each with its self time."""
        out = [{**s, "self_s": t} for s, t in zip(self.spans, self_times(self.spans))]
        with open(path, "w") as fh:
            json.dump(out, fh)


# -- instrumentation -----------------------------------------------------------


def _public_functions(module) -> list[str]:
    return [
        name
        for name, fn in vars(module).items()
        if inspect.isfunction(fn) and fn.__module__ == module.__name__ and not name.startswith("_")
    ]


def instrument(tracer: Tracer):
    """Wrap the engine's internal layer entry points with spans. Returns a
    function that restores the originals."""
    from safedata_validator_spark.engine import checkpoint, ordering, profiler, referential
    from safedata_validator_spark.engine import validator as validator_mod
    from safedata_validator_spark.functions import dedup
    from safedata_validator_spark.rules import registry
    from safedata_validator_spark.sources import tables

    targets = [
        (registry, "lint_ruleset", "rules.lint"),
        (validator_mod, "compile_row_rule", "rules.compile"),
        (validator_mod.ValidationEngine, "validate", "validator.validate"),
        (checkpoint, "pending_partitions", "checkpoint.pending"),
        (checkpoint.CheckpointManifest, "record", "checkpoint.record"),
        (tables, "load_table", "tables.load"),
        # one span per output: write_violations, write_verdicts, write_stats
        (tables, "write_results", lambda a, kw: "tables.write_" + os.path.basename(a[1].rstrip("/"))),
    ]
    for module in (ordering, referential, profiler):
        layer = module.__name__.rsplit(".", 1)[1]
        targets += [(module, name, f"{layer}.build") for name in _public_functions(module)]

    originals = []

    def wrap(owner, attr, name):
        orig = getattr(owner, attr)
        name_of = name if callable(name) else (lambda a, kw: name)

        def traced(*args, **kwargs):
            with tracer.span(name_of(args, kwargs)):
                return orig(*args, **kwargs)

        originals.append((owner, attr, orig))
        setattr(owner, attr, traced)

    for owner, attr, name in targets:
        wrap(owner, attr, name)

    # candidate pairs are an internal DataFrame of the LSH pipeline (which
    # persists it); keep a handle so the run can count it after the
    # repetition
    orig_cand = dedup.lsh_candidate_pairs

    def capture_candidates(*args, **kwargs):
        out = orig_cand(*args, **kwargs)
        tracer.captured["dedup.candidate_pairs"] = out
        return out

    originals.append((dedup, "lsh_candidate_pairs", orig_cand))
    dedup.lsh_candidate_pairs = capture_candidates

    def restore():
        for owner, attr, orig in reversed(originals):
            setattr(owner, attr, orig)

    return restore


# -- event log -----------------------------------------------------------------


def _event_lines(root: str):
    for path in sorted(glob.glob(os.path.join(root, "**"), recursive=True)):
        if not os.path.isfile(path) or os.path.basename(path).startswith("appstatus"):
            continue
        if path.endswith(".zstd"):
            # Spark 4 compresses event logs with zstd by default
            proc = subprocess.run(["zstd", "-dc", path], check=True, capture_output=True, text=True)
            yield from proc.stdout.splitlines()
        else:
            with open(path) as fh:
                yield from fh


def read_event_log(root: str) -> dict:
    """Jobs (submission time, stages), stages (wall) and per-task counters
    from every event log under ``root``."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_wall: dict[int, float] = {}
    tasks: list[dict] = []
    for line in _event_lines(root):
        if '"SparkListenerJobStart"' in line:
            ev = json.loads(line)
            jobs[ev["Job ID"]] = {"submitted": ev["Submission Time"] / 1000.0}
            for sid in ev["Stage IDs"]:
                stage_job.setdefault(sid, ev["Job ID"])  # a reused stage ran in its first job
        elif '"SparkListenerStageCompleted"' in line:
            info = json.loads(line)["Stage Info"]
            if "Submission Time" in info and "Completion Time" in info:
                stage_wall[info["Stage ID"]] = (info["Completion Time"] - info["Submission Time"]) / 1000.0
        elif '"SparkListenerTaskEnd"' in line:
            ev = json.loads(line)
            m = ev.get("Task Metrics") or {}
            tasks.append({
                "stage": ev["Stage ID"],
                "run_s": m.get("Executor Run Time", 0) / 1000.0,
                "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                "records_in": (m.get("Input Metrics") or {}).get("Records Read", 0),
                "shuffle_bytes": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                "spill_bytes": m.get("Disk Bytes Spilled", 0),
                "bytes_out": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
            })
    return {"jobs": jobs, "stage_job": stage_job, "stage_wall": stage_wall, "tasks": tasks}


# -- per-layer metrics ---------------------------------------------------------


def _union_s(intervals) -> float:
    """Seconds covered by the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def self_times(spans: list[dict]) -> list[float]:
    """Each span's duration minus the part of it its child spans cover."""
    children: dict[int, list] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    return [
        (s["end"] - s["start"]) - _union_s(children[i]) if s["end"] is not None else 0.0
        for i, s in enumerate(spans)
    ]


def _skew(run_times: list[float]) -> float:
    return max(run_times) / max(statistics.median(run_times), 1e-3) if run_times else 0.0


MB = 1024 * 1024


def rep_metrics(spans: list[dict], rep: int, log: dict, cores: int, table_rows: int, pending_rows: int) -> dict:
    """Per-layer metrics of one traced repetition."""
    mine = [(i, s) for i, s in enumerate(spans) if s["rep"] == rep and s["end"] is not None]
    root = next(s for _, s in mine if s["name"] == "repetition")
    by_name: dict[str, list] = defaultdict(list)
    for _, s in mine:
        by_name[s["name"]].append((s["start"], s["end"]))

    def layer_s(name: str) -> float:
        return _union_s(by_name.get(name, []))

    def inside(name: str, t: float) -> bool:
        return any(s <= t <= e for s, e in by_name.get(name, []))

    job_span: dict[int, str] = {}
    for jid, job in log["jobs"].items():
        t = job["submitted"]
        if root["start"] <= t <= root["end"]:
            innermost = max((s for _, s in mine if s["start"] <= t <= s["end"]), key=lambda s: s["start"])
            job_span[jid] = innermost["name"]
    rep_jobs = set(job_span)
    tasks = [t for t in log["tasks"] if log["stage_job"].get(t["stage"]) in rep_jobs]
    wall = root["end"] - root["start"]

    def task_sum(key: str, span_prefix: str | None = None) -> float:
        return sum(
            t[key]
            for t in tasks
            if span_prefix is None or job_span[log["stage_job"][t["stage"]]].startswith(span_prefix)
        )

    stages = {t["stage"] for t in tasks}
    slowest = max(stages, key=lambda s: log["stage_wall"].get(s, 0.0), default=None)
    skew = _skew([t["run_s"] for t in tasks if t["stage"] == slowest])
    records = task_sum("records_in")

    out = {
        "validator.return_s": layer_s("validator.validate"),
        "validator.violations_s": layer_s("validator.violations"),
        "validator.verdicts_s": layer_s("validator.verdicts"),
        "validator.stats_s": layer_s("validator.stats"),
        "rules.lint_s": layer_s("rules.lint"),
        "rules.compile_s": layer_s("rules.compile"),
        "ordering.build_s": layer_s("ordering.build"),
        "referential.build_s": layer_s("referential.build"),
        "profiler.build_s": layer_s("profiler.build"),
        "checkpoint.pending_s": layer_s("checkpoint.pending"),
        "checkpoint.record_s": layer_s("checkpoint.record"),
        "tables.load_s": layer_s("tables.load"),
        "tables.write_violations_s": layer_s("tables.write_violations"),
        "tables.write_verdicts_s": layer_s("tables.write_verdicts"),
        "tables.write_stats_s": layer_s("tables.write_stats"),
        "tables.written_mb": task_sum("bytes_out", "tables.write") / MB,
        "dedup.lsh_s": layer_s("dedup.lsh"),
        "dedup.cluster_s": layer_s("dedup.cluster"),
        "dedup.materialize_s": layer_s("dedup.materialize"),
    }
    cli_spans = [i for i, s in mine if s["name"] == "cli.main"]
    self_s = self_times(spans)
    out["cli.self_s"] = sum(self_s[i] for i in cli_spans)
    if "validator.validate" in by_name:
        out.update({
            "validator.jobs": len(rep_jobs),
            "validator.eager_jobs": sum(inside("validator.validate", log["jobs"][j]["submitted"]) for j in rep_jobs),
            "validator.input_records": records,
            "validator.fact_reads": records / table_rows,
            "validator.shuffle_mb": task_sum("shuffle_bytes") / MB,
            "validator.spill_mb": task_sum("spill_bytes") / MB,
            "validator.gc_s": task_sum("gc_s"),
            "validator.busy_ratio": task_sum("run_s") / (wall * cores),
            "validator.max_task_skew": skew,
        })
    if cli_spans:
        out["checkpoint.pending_rows"] = pending_rows
        out["checkpoint.read_amplification"] = records / pending_rows
    if "dedup.lsh" in by_name:
        out.update({
            "dedup.jobs": len(rep_jobs),
            "dedup.shuffle_mb": task_sum("shuffle_bytes") / MB,
            "dedup.max_task_skew": skew,
        })
    return out


def layer_metrics(tracer: Tracer, log: dict, cores: int, table_rows: int, pending_rows: int) -> dict:
    """Median over traced repetitions of each per-repetition metric."""
    reps = sorted({s["rep"] for s in tracer.spans if s["rep"] is not None})
    per_rep = []
    for r in reps:
        m = rep_metrics(tracer.spans, r, log, cores, table_rows, pending_rows)
        counts = tracer.counts.get(r, {})
        m.update(counts)
        if counts.get("dedup.candidate_pairs"):
            m["dedup.verify_yield"] = counts["dedup.verified_pairs"] / counts["dedup.candidate_pairs"]
        per_rep.append(m)
    keys = {k for m in per_rep for k in m}
    return {k: statistics.median(m.get(k, 0.0) for m in per_rep) for k in keys}

"""Per-stage scaling decomposition from Spark event logs — the diagnostic
behind the 10M-doc MinHash N→4N windows (VERDICT r04 §next 4: "quote
per-level shuffle-bytes to declare the socket limit definitively").

Given two event-log directories from the SAME job run at two parallelism
levels (``SDV_EVLOG=<dir> python bench.py scaling dedup`` writes one per
level under <dir>; each level's record in the JSON names its ``app_id``,
and its directory is the one whose name holds that id), align stages by
(name, total input volume rank) and report, per stage: wall time, summed
task time, shuffle read/write bytes, spill bytes, and the wall-time
scaling efficiency between the levels. The stage whose efficiency is far below the others
is the scaling bottleneck; if its task-time ratio is ~1 while its wall
ratio is poor, the residual is scheduler/overlap, not plan shape.

Usage:
    python tools/stage_scaling.py <evlog_dir_N> <coresN> <evlog_dir_4N> <cores4N>
"""

from __future__ import annotations

import glob
import json
import os
import sys
from collections import defaultdict


def load_stages(evlog_dir: str) -> list[dict]:
    """Aggregate stage records from all event-log files in a directory
    (Spark 4 rolling logs: one subdir per app, events_* files inside)."""
    paths = [
        p
        for p in glob.glob(evlog_dir + "/**", recursive=True)
        if os.path.isfile(p) and "appstatus" not in os.path.basename(p)
    ]
    stages: dict[tuple, dict] = {}
    task_time: dict[tuple, float] = defaultdict(float)
    task_metrics: dict[tuple, dict] = defaultdict(lambda: defaultdict(int))
    for path in paths:
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerStageCompleted"' in line:
                    ev = json.loads(line)
                    info = ev["Stage Info"]
                    key = (info["Stage ID"], info["Stage Attempt ID"])
                    stages[key] = {
                        "stage_id": info["Stage ID"],
                        "name": info["Stage Name"].split("\n")[0],
                        "num_tasks": info["Number of Tasks"],
                        "wall_sec": (
                            info.get("Completion Time", 0)
                            - info.get("Submission Time", 0)
                        )
                        / 1000.0,
                    }
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    key = (ev["Stage ID"], ev["Stage Attempt ID"])
                    m = ev.get("Task Metrics") or {}
                    task_time[key] += (
                        m.get("Executor Run Time", 0) / 1000.0
                    )
                    tm = task_metrics[key]
                    tm["mem_spill"] += m.get("Memory Bytes Spilled", 0)
                    tm["disk_spill"] += m.get("Disk Bytes Spilled", 0)
                    tm["shuffle_write"] += (
                        (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        )
                    )
                    sr = m.get("Shuffle Read Metrics") or {}
                    tm["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    tm["gc_ms"] += m.get("JVM GC Time", 0)
    out = []
    for key, st in sorted(stages.items()):
        st["task_sec"] = round(task_time.get(key, 0.0), 2)
        st["gc_sec"] = round(task_metrics[key]["gc_ms"] / 1000.0, 2)
        for f in ("mem_spill", "disk_spill", "shuffle_write", "shuffle_read"):
            st[f] = task_metrics[key][f]
        out.append(st)
    return out


def align(a: list[dict], b: list[dict]) -> list[tuple[dict, dict]]:
    """Pair stages across the two runs by stage name occurrence order —
    the same job produces the same stage DAG, so the k-th stage with a
    given name at level N is the k-th with that name at level 4N.
    Unmatched stages (e.g. level-dependent retries) are reported alone."""
    by_name_a: dict[str, list[dict]] = defaultdict(list)
    by_name_b: dict[str, list[dict]] = defaultdict(list)
    for s in a:
        by_name_a[s["name"]].append(s)
    for s in b:
        by_name_b[s["name"]].append(s)
    pairs = []
    for name, la in by_name_a.items():
        lb = by_name_b.get(name, [])
        for i, sa in enumerate(la):
            pairs.append((sa, lb[i] if i < len(lb) else None))
    for name, lb in by_name_b.items():
        la = by_name_a.get(name, [])
        for j in range(len(la), len(lb)):
            pairs.append((None, lb[j]))
    pairs.sort(key=lambda p: (p[0] or p[1])["stage_id"])
    return pairs


def gb(n: int) -> str:
    return f"{n / 1e9:.2f}G" if n else "0"


def main() -> int:
    ev_lo, c_lo, ev_hi, c_hi = (
        sys.argv[1],
        int(sys.argv[2]),
        sys.argv[3],
        int(sys.argv[4]),
    )
    ratio = c_hi / c_lo
    lo, hi = load_stages(ev_lo), load_stages(ev_hi)
    print(
        f"{'stage':58s} {'tasks':>6s} {'wall_lo':>8s} {'wall_hi':>8s} {'eff':>6s} "
        f"{'task_lo':>8s} {'task_hi':>8s} {'gc_lo':>6s} {'gc_hi':>6s} "
        f"{'spill_hi':>9s} {'shW_lo':>8s} {'shW_hi':>8s}"
    )
    tot_lo = tot_hi = 0.0
    rows = []
    for sa, sb in align(lo, hi):
        name = (sa or sb)["name"][:58]
        ntasks = (sa or sb)["num_tasks"]
        if sa and sb:
            eff = (
                (sa["wall_sec"] / sb["wall_sec"]) / ratio
                if sb["wall_sec"] > 0
                else float("inf")
            )
            tot_lo += sa["wall_sec"]
            tot_hi += sb["wall_sec"]
            rows.append(
                f"{name:58s} {ntasks:6d} {sa['wall_sec']:8.1f} {sb['wall_sec']:8.1f} "
                f"{eff:6.2f} {sa['task_sec']:8.1f} {sb['task_sec']:8.1f} "
                f"{sa['gc_sec']:6.1f} {sb['gc_sec']:6.1f} "
                f"{gb(sb['mem_spill'] + sb['disk_spill']):>9s} "
                f"{gb(sa['shuffle_write']):>8s} {gb(sb['shuffle_write']):>8s}"
            )
        else:
            side = "lo-only" if sa else "hi-only"
            s = sa or sb
            rows.append(
                f"{name:58s} {s['num_tasks']:6d} [{side}] wall={s['wall_sec']:.1f} "
                f"task={s['task_sec']:.1f}"
            )
    print("\n".join(rows))
    if tot_hi:
        print(
            f"\nTOTAL paired wall: {tot_lo:.1f}s -> {tot_hi:.1f}s  "
            f"eff={(tot_lo / tot_hi) / ratio:.3f}  (target 0.8)"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())

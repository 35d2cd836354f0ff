"""Benchmark of the validation engine: one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout (the engine is imported from there). The
run builds a SparkSession at local[<cores>], loads or generates its seeded
inputs, sets up, then repeats the workload in a closed loop with one client
until ``--seconds`` have passed (at least ``MIN_REPS`` repetitions); every
repetition's outputs are checked. The last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs half the
time untraced and half traced (spans plus Spark's event log) and reports the
per-layer metrics. See perfbench/README.md.
"""

from __future__ import annotations

import time

_PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, ROOT)

from perfbench.trace import NO_TRACE  # noqa: E402

#: repetitions measured at least, whatever ``--seconds`` says. One: a
#: warm incremental_dirty repetition alone takes longer than the
#: BENCHMARK.json run time on a 4-core box (see README.md, "Budget")
MIN_REPS = 1
#: driver JVM heap: small enough to fill in every run, so the JVM's peak
#: RSS is steady from run to run
DRIVER_MEM = "1g"


def metric_units(kind: str) -> dict[str, str]:
    """{name: unit} of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def isolate_environment() -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # every JVM, the spark-submit launcher's included: no /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


class Session:
    """The benchmark's SparkSession, built through the engine's
    ``build_session``; can be rebuilt (same JVM) with extra configuration."""

    def __init__(self, cores: int):
        self.cores = cores
        self.spark = None

    def build(self, extra: dict | None = None):
        from safedata_validator_spark.session import build_session

        if self.spark is not None:
            self.spark.stop()
        self.spark = build_session(
            app_name="perfbench",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                # a fixed, pre-touched heap: peak RSS does not depend on how
                # far the heap happened to grow
                "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
                **(extra or {}),
            },
        )
        return self.spark

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM not found")

    def shutdown(self) -> None:
        """Stop Spark and wait for the gateway JVM (and its Python workers)
        to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


class Loop:
    """Closed loop, one client: a repetition starts when the previous one
    has finished and its outputs were checked."""

    def __init__(self, workload, spark):
        self.workload = workload
        self.spark = spark
        self.attempted = 0
        self.failed = 0

    def once(self, tracer=None, rep: int = 0) -> tuple[float | None, bool]:
        """One checked repetition: (wall seconds of its timed part, ok)."""
        w = self.workload
        w.before()
        self.attempted += 1
        out = dt = None
        try:
            with tracer.repetition(rep) if tracer else contextlib.nullcontext():
                t0 = time.perf_counter()
                out = w.run(self.spark, tracer or NO_TRACE)
                dt = time.perf_counter() - t0
            if tracer:
                count_captured(tracer, out)
            problems = w.check(self.spark, out)
        except Exception:
            problems = [traceback.format_exc()]
        finally:
            if out is not None:
                w.release(self.spark, out)
        if problems:
            self.failed += 1
            log(f"{w.name}: repetition failed:\n  " + "\n  ".join(problems))
        return dt, not problems

    def measure(self, seconds: float, tracer=None) -> list[float]:
        """Wall times of the repetitions started within ``seconds`` (at
        least MIN_REPS): the successful ones, or all timed ones if none
        succeeded."""
        results = []
        deadline = time.perf_counter() + seconds
        while len(results) < MIN_REPS or time.perf_counter() < deadline:
            results.append(self.once(tracer, len(results)))
        times = [dt for dt, ok in results if ok] or [dt for dt, _ in results if dt is not None]
        if not times:
            raise SystemExit(f"{self.workload.name}: no repetition completed")
        return times


def count_captured(tracer, out) -> None:
    """Counts taken only in traced runs, after the timed part."""
    cand = tracer.captured.pop("dedup.candidate_pairs", None)
    if cand is not None:
        tracer.counts[tracer.rep] = {
            "dedup.candidate_pairs": cand.count(),
            "dedup.verified_pairs": out[0].count(),
        }


def main(argv=None) -> int:
    args = parse_args(argv)
    isolate_environment()
    # import the engine first: a checkout without it fails here, before any
    # Spark process starts
    import safedata_validator_spark

    if not safedata_validator_spark.__file__.startswith(ROOT + os.sep):
        raise SystemExit(f"engine imported from {safedata_validator_spark.__file__}, not from {ROOT}")

    from perfbench import gen
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    workload = WORKLOADS[args.workload]()
    cores = len(os.sched_getaffinity(0))
    session = Session(cores)
    try:
        return run(args, workload, session, gen.InputCache(os.path.join(WORK, "inputs")))
    finally:
        session.shutdown()


def run(args, workload, session: Session, cache) -> int:
    from perfbench import trace

    t0 = time.perf_counter()
    workload.prepare(cache, args.seed)
    gen_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    spark = session.build()
    build_s = time.perf_counter() - t0
    workload.load(spark)
    loop = Loop(workload, spark)
    t0 = time.perf_counter()
    loop.once()  # full-size warm-up; a failure counts as a failed attempt
    warm_s = time.perf_counter() - t0
    setup_s = time.perf_counter() - _PROCESS_START - gen_s
    log(f"{workload.name}: inputs {gen_s:.2f}s, session {build_s:.2f}s, warm-up {warm_s:.2f}s")

    if not args.trace:
        times = loop.measure(args.seconds)
        run_s = statistics.median(times)
        metrics = {
            "run_s": run_s,
            "rows_per_s": workload.rows / run_s,
            "setup_s": setup_s,
            "peak_rss_mb": session.jvm_peak_rss_mb(),
        }
        units = metric_units("end_to_end")
    else:
        plain = loop.measure(args.seconds / 2)
        trace_dir = os.path.join(WORK, "trace", workload.name)
        shutil.rmtree(trace_dir, ignore_errors=True)
        os.makedirs(os.path.join(trace_dir, "events"))
        tracer = trace.Tracer()
        loop.spark = session.build({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(trace_dir, "events"),
            "spark.eventLog.compress": "false",
        })
        workload.load(loop.spark)
        restore = trace.instrument(tracer)
        try:
            traced = loop.measure(args.seconds / 2, tracer=tracer)
        finally:
            restore()
        session.spark.stop()  # flushes and closes the event log
        session.spark = None
        tracer.write(os.path.join(trace_dir, "spans.json"))
        layers = trace.layer_metrics(
            tracer, trace.read_event_log(os.path.join(trace_dir, "events")),
            session.cores, workload.table_rows, workload.rows,
        )
        layers["session.build_s"] = build_s
        layers["session.warm_s"] = warm_s
        plain_s, traced_s = statistics.median(plain), statistics.median(traced)
        layers["trace.overhead_s"] = traced_s - plain_s
        log(f"{workload.name}: untraced run_s {plain_s:.3f} ({len(plain)} reps), "
            f"traced run_s {traced_s:.3f} ({len(traced)} reps); trace in {trace_dir}")
        units = metric_units("per_layer")
        metrics = {k: float(layers.get(k, 0.0)) for k in units}
        times = traced

    summary = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
    print(
        f"{workload.name}: repetitions {[round(t, 3) for t in times]}, fail_ratio "
        f"{loop.failed / loop.attempted:.3f} ({loop.failed}/{loop.attempted}), gen_s {gen_s:.2f}",
        flush=True,
    )
    print(json.dumps({
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": summary,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Benchmark harness for the validation engine and the query catalog. The
first argument picks the mode; every mode prints ONE JSON line on stdout
(progress goes to stderr):

    python bench.py                     headline suite (below)
    python bench.py flagship            the flagship validate run alone
    python bench.py queries [name ...]  each query alone (default: all of
                                        HEADLINE + CURATION)
    python bench.py scaling FAMILY      one job on identical input at several
                                        local[n] levels: validate, dedup, cc
                                        or hygiene
    python bench.py cluster FAMILY      the same job across executor JVMs of a
                                        standalone cluster on this host:
                                        validate or dedup

The headline suite runs the HEADLINE queries at $SPARK_GRAFT_SF_DIR
(default: the sf0.1 test data) on local[$SPARK_GRAFT_CPUS], plus the
transcript validation engine at a scale proportional to the sf:
{"metric": "headline_suite_sec", "value": <total sec>, "unit": "sec",
 "queries": {name: sec, ...}, "curation_queries": {...}, "sf": ...,
 "turns_per_sec": ..., ...}. Materialisation uses the noop sink (full
computation, no output cost).

Settings (environment):
    SDV_BENCH_REPEATS       timed runs per query (flagship, queries) or
                            interleaved rounds of all levels (scaling, cluster)
    SDV_BENCH_LEVELS        comma list of levels; a cluster level is the
                            total cores of its executors (spark.cores.max)
    SDV_BENCH_PAIRS         N-4N pairs such as 1-4,2-8; a pair that names an
                            absent level is dropped
    SDV_BENCH_DOCS          input rows: turns (validate), documents (dedup,
                            hygiene) or edges (cc)
    SDV_BENCH_JOBS          comma list of the family's jobs (dedup, hygiene)
    SDV_BENCH_EXEC_CORES    cores per executor JVM (cluster)
    SDV_BENCH_MEM_PER_CORE  heap GB per core: executor heap = this x executor
                            cores (cluster); local levels get a driver heap of
                            this x level (unset: the session default)
    SDV_EVLOG               write Spark event logs under this directory; level
                            records then carry their spill and shuffle bytes
    SDV_PLANS_DIR           queries: write each query's formatted plan here

Scaling protocol (learned in rounds 1-5):
* one materialized parquet table is read by every level (written once,
  untimed, cached under the temp dir and keyed by the generator's source
  hash; a cached table is used only if it holds the expected row count);
* a fresh JVM per level, a codegen warm-up on a slice before timing (compile
  cost is fixed per JVM and would bias the ratio against wide levels);
* shuffle partitions and scan splits are sized by data volume, never by core
  count, the rule a real cluster deployment uses;
* the host is shared and drifts up to ~2.4x between windows, so all levels
  run interleaved per round; efficiency (T_N/T_4N)/4 pairs times from the
  SAME round and reports the best round;
* register-bound (spin) and memory-streaming ceilings (fixed work per
  process, no Spark) are measured at the same instant: on the 32-thread
  reference host the memory system saturates near 8 cores, so Spark's
  ratios are read against them.
"""

from __future__ import annotations

import glob
import hashlib
import inspect
import json
import multiprocessing as mp
import os
import re
import socket
import subprocess
import sys
import tempfile
import time
from contextlib import contextmanager, nullcontext
from typing import Callable, NamedTuple

HERE = os.path.dirname(os.path.abspath(__file__))

HEADLINE = [
    "profile_lineitem",
    "sequential_lineitem",
    "unique_key_orders",
    "ref_integrity_events",
    "monotone_events",
    "grammar_events",
    "drift_psi_lineitem",
    "pricing_summary",
    "top_revenue_orders",
    "dedup_ngram_jaccard",
    "curate_corpus",
    "minhash_lsh_docs",
    "simhash_docs",
    "embedding_topk",
    "lsh_ann_topk",
]

#: round-3 curation/hygiene operators, timed separately from HEADLINE so the
#: headline_suite_sec metric keeps its round-over-round composition
CURATION = [
    "decontaminate_docs",
    "dedup_clusters_docs",
    "repetition_docs",
    "mixture_resample_docs",
    "pack_sequences_docs",
    "corpus_split_docs",
    "pii_audit_docs",
]

#: transcript-validation bench size per scale factor (turns)
TURNS_PER_SF = 40_000_000  # sf0.1 → 4M turns, sf1 → 40M

#: a measurement window is declared CONTENDED when the 100MB-streaming
#: probe's wall time drifts by more than this factor between the before and
#: after probes — the r4 contaminated window showed 6.6× (2.48 s → 16.34 s)
#: while clean windows stay within ~1.2×. Spark scan/shuffle work is
#: bandwidth-bound, so a drifting stream probe means the suite timings mix
#: two different machines' worth of memory bandwidth.
CONTENTION_RATIO = 1.5
#: bounded retries: rerun the whole suite at most this many times total
#: while the window keeps coming back contended, then stamp it honestly
MAX_ATTEMPTS = 2

#: fixed work per process for the register-bound host probe
SPIN_N = 30_000_000

#: local scaling defaults per family: input rows, levels, pairs, jobs.
#: 1→4 and 2→8 sit where a 32-thread host's memory system is NOT yet
#: saturated (the analogue of adding executor nodes, each with its own
#: memory controllers); 8→32 crosses the single-socket saturation point.
SCALING = {
    "validate": (40_000_000, "1,2,4,8,32", "1-4,2-8,8-32", ""),
    "dedup": (10_000_000, "1,2,4,8,32", "1-4,2-8,8-32", "minhash,curate"),
    "cc": (10_000_000, "1,2,4,8", "1-4,2-8", "cc"),
    "hygiene": (1_000_000, "1,2,4,8", "1-4,2-8", "url,pii,repetition"),
}

#: standalone-cluster defaults per family: input rows, levels, pairs, jobs,
#: rounds, cores per executor, heap GB per core, pre-touched heaps.
#: validate: 1 vs 4 eight-core executors (4g heaps; a same-window A/B in
#: round 5 measured the 4×2-core level at 133 s with 4g vs 288 s with 8g, as
#: four big AlwaysPreTouch'd heaps re-trigger the reference VM's lazy-fault
#: pathology). dedup: 1 vs 4 one-core executors with 8g each, the
#: memory-proportional model at which 10M-doc minhash spills nothing; no
#: pre-touch at 8g for the same reason.
CLUSTER = {
    "validate": (40_000_000, "8,32", "8-32", "", 2, 8, 0.5, True),
    "dedup": (10_000_000, "1,4", "1-4", "minhash", 1, 1, 8.0, False),
}
MASTER_URL = "spark://127.0.0.1:7077"


# ------------------------------------------------------------- shared parts


def materialize(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _sink(df) -> None:
    """Materialize, then free what a dedup/curation pipeline persisted on
    behalf of ``df`` (a no-op for other frames)."""
    from safedata_validator_spark.functions.dedup import release

    materialize(df)
    release(df)


def session(app: str, master: str, partitions: int, conf: dict | None = None):
    """The bench's SparkSession, with an event log under $SDV_EVLOG when set."""
    from safedata_validator_spark.session import build_session

    conf = dict(conf or {})
    evlog = os.environ.get("SDV_EVLOG")
    if evlog:
        os.makedirs(evlog, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.abspath(evlog),
                "spark.eventLog.compress": "false",
            }
        )
    return build_session(
        app_name=app, master=master, shuffle_partitions=partitions, extra_conf=conf
    )


def cache_path(name: str, n_rows: int, generator=None) -> str:
    """Cache location of a bench input table; the generator's source hash is
    part of the key, so a changed generator never benchmarks stale data."""
    tag = ""
    if generator is not None:
        tag = "_" + hashlib.sha256(inspect.getsource(generator).encode()).hexdigest()[:8]
    return os.path.join(tempfile.gettempdir(), f"sdv_bench_{name}_{n_rows}{tag}_c64")


def cached_parquet(spark, path: str, n_rows: int, build):
    """Read the parquet table at ``path``, writing ``build()`` there first
    unless it holds exactly ``n_rows``: 'read succeeds' is not enough, since
    a partially written directory from a crashed run reads fine with rows
    missing."""
    try:
        if spark.read.parquet(path).count() == n_rows:
            return spark.read.parquet(path)
    except Exception:
        pass
    build().write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def transcripts_input(spark, n_turns: int) -> str:
    """Path of the cached n_turns transcripts table, or
    $SPARK_GRAFT_TRANSCRIPTS as is: a user-given table is read whatever its
    size and never written. Layout _c64: 64 files hash-partitioned by
    conv_id, conversations sorted contiguously within each — many even files
    AND write-clustering (so RLE compression works); the generator's own
    4-file layout capped the scan at ~8 skewed splits."""
    from safedata_validator_spark.data.synth import transcripts_scaled

    user_path = os.environ.get("SPARK_GRAFT_TRANSCRIPTS")
    if user_path:
        return user_path
    path = cache_path("transcripts", n_turns, transcripts_scaled)
    cached_parquet(
        spark,
        path,
        n_turns,
        lambda: transcripts_scaled(spark, n_turns)
        .repartition(64, "conv_id")
        .sortWithinPartitions("conv_id", "turn_idx"),
    )
    return path


def validate_samples(spark, df, repeats: int) -> list[float]:
    """Wall seconds of ``repeats`` full transcript validate() runs over
    ``df`` with violations, verdicts and stats materialized. The plans'
    whole-stage codegen is warmed first on a 50k-row slice: generated
    classes are keyed by source, so the timed runs reuse them, and compile
    time is a fixed JVM cost a production-scale job amortizes to nothing."""
    from safedata_validator_spark.data.synth import dims
    from safedata_validator_spark.engine.validator import ValidationEngine
    from safedata_validator_spark.rules.presets import transcript_ruleset

    engine, rs, d = ValidationEngine(), transcript_ruleset(), dims(spark)
    warm = engine.validate(df.limit(50_000), rs, d, with_stats=True)
    for frame in (warm.violations, warm.verdicts, warm.stats):
        materialize(frame)
    warm.unpersist()  # RunResult.unpersist is blocking
    samples = []
    for i in range(repeats):
        spark.sparkContext.setJobDescription(f"flagship run {i}")
        t0 = time.perf_counter()
        res = engine.validate(df, rs, d, with_stats=True)
        res.violations.persist()
        materialize(res.violations)  # verdicts reuse the cached violations
        materialize(res.verdicts)
        materialize(res.stats)
        samples.append(time.perf_counter() - t0)
        res.violations.unpersist(blocking=True)
        res.unpersist()
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(None)
        print(f"validate run {i}: {samples[-1]:.3f}s", file=sys.stderr)
    return samples


def warm_queries(spark, sf_dir: str) -> None:
    """JVM/codegen warm-up so the first timed query isn't charged for it.
    The dedup/doc pipelines get their own warm pass over a tiny slice: their
    generated classes (normalize/shingle/signature codegen) are disjoint from
    the relational queries', and no timed query inherits a predecessor's
    warm cache, so without it the first dedup timing would measure the
    compiler. One tiny pandas-UDF job spawns a Python worker per core (with
    numpy imported), a fixed cost the UDF queries (embedding_topk,
    lsh_ann_topk) would otherwise pay; ``spark.python.worker.reuse``
    (default true) keeps the workers for them."""
    import pandas as pd
    from pyspark.sql import functions as F

    from safedata_validator_spark.functions import dedup as dd
    from safedata_validator_spark.queries import BENCH_QUERIES

    def plus_zero(s):
        import numpy as np

        return s + np.int64(0)

    # real classes, not strings: pandas_udf resolves type hints against
    # module globals, and this module's postponed annotations would leave
    # the locally imported pd unresolved
    plus_zero.__annotations__ = {"s": pd.Series, "return": pd.Series}
    n = spark.sparkContext.defaultParallelism
    spark.range(0, n, 1, n).select(F.pandas_udf(plus_zero, "long")("id")).collect()
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    materialize(BENCH_QUERIES["pricing_summary"](spark, sf_dir))
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(300)
    _sink(dd.minhash_lsh_dedup(docs, "doc_id", "text", max_df=20))
    _sink(dd.ngram_jaccard_pairs(docs, "doc_id", "text", max_df=20))
    _sink(dd.simhash_near_pairs(docs, "doc_id", "text"))


def time_query(spark, sf_dir: str, name: str) -> float:
    """Wall seconds of one catalog query, materialized; its persisted
    intermediates are released afterwards so repeated runs in one
    long-lived session don't accumulate cached blocks."""
    from safedata_validator_spark.functions.dedup import release
    from safedata_validator_spark.queries import BENCH_QUERIES

    spark.sparkContext.setJobDescription(f"bench query: {name}")
    t0 = time.perf_counter()
    q = BENCH_QUERIES[name](spark, sf_dir)
    materialize(q)
    dt = time.perf_counter() - t0
    release(q)
    spark.sparkContext.setJobDescription(None)
    return dt


def _spin(n: int) -> int:
    s = 0
    for i in range(n):
        s += i * i
    return s


def _stream(_) -> float:
    """Fixed streaming work: sums of a 100MB array, far beyond LLC."""
    import numpy as np

    a = np.empty(100_000_000 // 8, dtype=np.float64)
    a.fill(1.0)
    s = 0.0
    for _ in range(30):
        s += a.sum()
    return s


def _pool_wall(fn, args: list) -> float:
    t0 = time.perf_counter()
    with mp.Pool(len(args)) as p:
        p.map(fn, args)
    return time.perf_counter() - t0


def host_probe(procs: int) -> dict:
    """Same-instant hardware probes at ``procs`` processes: a register-bound
    spin and a 100MB-streaming sum, as absolute wall times. Quoted alongside
    a run, they put two windows on one scale (normalize by stream_sec: Spark
    scan/shuffle work is bandwidth-bound)."""
    spin = _pool_wall(_spin, [SPIN_N] * procs)
    stream = _pool_wall(_stream, list(range(procs)))
    return {"procs": procs, "spin_sec": round(spin, 3), "stream_sec": round(stream, 3)}


def ceilings(pairs) -> dict:
    """Hardware ceilings per low→high pair: probe wall at low / at high. The
    work per process is fixed, so ideal hardware scores 1.0; the membw
    ceiling, not the cpu one, bounds a scan/shuffle workload."""
    probes = {c: host_probe(c) for c in sorted({c for pair in pairs for c in pair})}
    return {
        f"{lo}->{hi}": {
            "cpu": round(probes[lo]["spin_sec"] / probes[hi]["spin_sec"], 3),
            "membw": round(probes[lo]["stream_sec"] / probes[hi]["stream_sec"], 3),
        }
        for lo, hi in pairs
    }


def probe_drift(before: dict, after: dict) -> float:
    a, b = before["stream_sec"], after["stream_sec"]
    return round(max(a, b) / max(min(a, b), 1e-9), 3)


def window_stamp(drift: float) -> str:
    return "clean" if drift <= CONTENTION_RATIO else "contended"


def parse_levels(text: str) -> tuple[int, ...]:
    return tuple(int(x) for x in text.split(",") if x.strip())


def parse_pairs(text: str, levels) -> tuple[tuple[int, int], ...]:
    """``lo-hi`` pairs; empty items and pairs naming an absent level drop."""
    pairs = []
    for item in text.split(","):
        lo, _, hi = item.partition("-")
        if lo.strip() and hi.strip() and int(lo) in levels and int(hi) in levels:
            pairs.append((int(lo), int(hi)))
    return tuple(pairs)


def best_runs(rounds: list[list[dict]], levels, key: str) -> dict:
    """Per level, the record with the least ``key`` across rounds."""
    return {
        c: min((rd[i] for rd in rounds), key=lambda r: r[key])
        for i, c in enumerate(levels)
    }


def same_round_efficiency(rounds: list[list[dict]], levels, pairs, key: str) -> dict:
    """Scaling efficiency (T_lo/T_hi)/(hi/lo) per pair, from times of the
    SAME round (one few-minute host window), best round. Mixing each level's
    min across rounds compares different drift windows and can distort
    either way."""
    by_round = [dict(zip(levels, rd)) for rd in rounds]
    return {
        (lo, hi): max((rd[lo][key] / rd[hi][key]) / (hi / lo) for rd in by_round)
        for lo, hi in pairs
    }


def _heap(gb: float) -> str:
    return f"{gb:g}g" if float(gb).is_integer() else f"{round(gb * 1024)}m"


def _sf(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1).rstrip(".")) if m else 0.1


def _settings() -> tuple[str, int]:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    return sf_dir, int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 8)


def _repeats(default: int) -> int:
    return int(os.environ.get("SDV_BENCH_REPEATS") or default)


# ------------------------------------------------------------ headline suite


def flagship_samples(spark, sf_dir: str, repeats: int) -> tuple[int, list[float]]:
    """The flagship metric: validate() over a materialized parquet table
    (written once, untimed, deterministic) sized by the sf, so the timed job
    exercises the production scan path — columnar IO with per-pass column
    pruning — exactly as it would against Iceberg. Returns (turns, samples)."""
    from safedata_validator_spark.session import tune_scan_splits

    n_turns = max(int(TURNS_PER_SF * _sf(sf_dir)), 100_000)
    src = transcripts_input(spark, n_turns)
    # scan-split sizing by data volume (see session.tune_scan_splits): the
    # default 128 MB split + 4 MB open cost planned the 75 MB in-suite
    # flagship table as THREE scan splits, capping the fused single-scan
    # rule evaluation at 3-way parallelism. Applied before any timed query;
    # re-read so the flagship scan picks up the new split plan.
    tune_scan_splits(spark, sf_dir, src)
    return n_turns, validate_samples(spark, spark.read.parquet(src), repeats)


def run_suite(spark, sf_dir: str) -> dict:
    warm_queries(spark, sf_dir)
    # The flagship runs FIRST: after 14 other queries the single shared JVM
    # carries enough heap fragmentation / broadcast garbage to inflate a
    # large job ~2-3× — measured, not hypothetical. The shared host's
    # background load drifts ±40% between minutes, so it runs twice and
    # reports the min.
    n_turns, samples = flagship_samples(spark, sf_dir, 2)
    dt = min(samples)
    timings = {"transcript_validate": round(dt, 3)}

    for name in HEADLINE:
        timings[name] = round(time_query(spark, sf_dir, name), 3)
    # timed SEPARATELY so the headline metric stays comparable
    # round-over-round (same 16-query composition)
    curation = {name: round(time_query(spark, sf_dir, name), 3) for name in CURATION}
    return {"timings": timings, "curation": curation, "n_turns": n_turns, "validate_sec": dt}


def headline() -> None:
    sf_dir, cpus = _settings()
    spark = session("sdv-bench-headline", f"local[{cpus}]", cpus)
    # contention-aware protocol: probe host memory bandwidth before and
    # after the suite; if the window drifted, the numbers are not the
    # engine's — rerun (bounded), else stamp the JSON "window": "contended"
    # so a bad artifact can never masquerade as a code regression. The best
    # (least-drifted) attempt is reported.
    attempts = []
    best = None
    for attempt in range(1, MAX_ATTEMPTS + 1):
        before = host_probe(cpus)
        out = run_suite(spark, sf_dir)
        after = host_probe(cpus)
        drift = probe_drift(before, after)
        rec = {"out": out, "before": before, "after": after, "drift": drift}
        attempts.append(
            {
                "attempt": attempt,
                "stream_before": before["stream_sec"],
                "stream_after": after["stream_sec"],
                "drift": drift,
            }
        )
        if best is None or drift < best["drift"]:
            best = rec
        if window_stamp(drift) == "clean":
            break
        print(
            f"bench window contended (stream probe drift {drift}x > "
            f"{CONTENTION_RATIO}x), attempt {attempt}/{MAX_ATTEMPTS}",
            file=sys.stderr,
        )
    out = best["out"]
    print(
        json.dumps(
            {
                "metric": "headline_suite_sec",
                "value": round(sum(out["timings"].values()), 3),
                "unit": "sec",
                "queries": out["timings"],
                "curation_queries": out["curation"],
                "curation_suite_sec": round(sum(out["curation"].values()), 3),
                "sf": _sf(sf_dir),
                "turns_per_sec": round(out["n_turns"] / out["validate_sec"], 1),
                "validated_turns": out["n_turns"],
                "cpus": cpus,
                "host_probe_before": best["before"],
                "host_probe_after": best["after"],
                "window": window_stamp(best["drift"]),
                "probe_drift_ratio": best["drift"],
                "contention_ratio_threshold": CONTENTION_RATIO,
                "attempts": attempts,
            }
        )
    )


# ----------------------------------------------------- flagship and queries


def flagship() -> None:
    """The headline's flagship validate block alone (same cached table, scan
    splits, warm pass and materializations), for decomposing it with
    $SDV_EVLOG without running the whole suite."""
    sf_dir, cpus = _settings()
    spark = session("sdv-bench-flagship", f"local[{cpus}]", cpus)
    n_turns, samples = flagship_samples(spark, sf_dir, _repeats(2))
    samples = [round(s, 3) for s in samples]
    print(
        json.dumps(
            {
                "metric": "flagship_validate_sec",
                "value": min(samples),
                "samples": samples,
                "n_turns": n_turns,
                "turns_per_sec": round(n_turns / min(samples), 1),
                "cpus": cpus,
            }
        )
    )


def queries(names: list[str]) -> None:
    """Each query timed alone with the headline's warm-up, min of repeats;
    with $SDV_PLANS_DIR, each query's formatted plan is written there."""
    from safedata_validator_spark.functions.dedup import release
    from safedata_validator_spark.queries import BENCH_QUERIES

    sf_dir, cpus = _settings()
    plans_dir = os.environ.get("SDV_PLANS_DIR")
    repeats = _repeats(2)
    spark = session("sdv-bench-queries", f"local[{cpus}]", cpus)
    warm_queries(spark, sf_dir)
    timings: dict[str, list[float]] = {}
    for name in names or HEADLINE + CURATION:
        if plans_dir:
            os.makedirs(plans_dir, exist_ok=True)
            q = BENCH_QUERIES[name](spark, sf_dir)
            plan = q._sc._jvm.PythonSQLUtils.explainString(
                q._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(plans_dir, f"{name}.txt"), "w") as fh:
                fh.write(plan)
            release(q)
        timings[name] = [round(time_query(spark, sf_dir, name), 3) for _ in range(repeats)]
        print(f"{name}: {timings[name]}", file=sys.stderr)
    print(
        json.dumps(
            {
                "metric": "bench_extra_per_query_sec",
                "queries_min": {k: min(v) for k, v in timings.items()},
                "samples": timings,
                "sf_dir": sf_dir,
                "cpus": cpus,
            }
        )
    )


# --------------------------------------------------- scaling-family inputs


def _transcripts(spark, n: int):
    from safedata_validator_spark.session import tune_scan_splits

    src = transcripts_input(spark, n)
    # scan splits from the table's bytes ONLY (level-independent, like the
    # shuffle-partition rule): the default planned the 673 MB 40M-turn
    # table as EIGHT splits, capping the fused rule scan at 8-way
    # parallelism; ~128 splits here, native behavior at production volume
    tune_scan_splits(spark, src)
    return spark.read.parquet(src)


def _documents(spark, n: int):
    """documents_scaled: 20 hash-drawn tokens per doc, planted near-dup
    pairs (Jaccard ≈ 0.8) every 50 docs."""
    from safedata_validator_spark.data.synth import documents_scaled

    return cached_parquet(
        spark,
        cache_path("docs", n, documents_scaled),
        n,
        lambda: documents_scaled(spark, n).repartition(64, "doc_id"),
    )


def _hygiene_documents(spark, n: int):
    """documents_scaled enriched with URL/PII-looking spans on every fifth
    doc, so the regex paths do real work."""
    from pyspark.sql import functions as F

    from safedata_validator_spark.data.synth import documents_scaled

    def build():
        k = F.col("doc_id")
        span = F.concat(
            F.lit(" visit https://sub"), (k % 97).cast("string"),
            F.lit(".example"), (k % 13).cast("string"),
            F.lit(".com/path mail bob"), (k % 31).cast("string"),
            F.lit("@mail.net from 10.0."), (k % 200).cast("string"),
            F.lit(".7"),
        )
        return documents_scaled(spark, n).select(
            "doc_id",
            F.concat(F.col("text"), F.when(k % 5 == 0, span).otherwise(F.lit(""))).alias("text"),
        ).repartition(64, "doc_id")

    return cached_parquet(spark, cache_path("docs_hyg", n, documents_scaled), n, build)


def _edges(spark, n: int):
    """A duplicate-pair-shaped graph: size-10 chain clusters over the id
    space plus one path of n/100 nodes wired through ids offset by 10^12 —
    the adversarial diameter case star contraction exists for."""
    from pyspark.sql import functions as F

    path_nodes = n // 100

    def build():
        k = F.col("id")
        chains = spark.range(n - path_nodes).select(
            k.alias("id_a"), F.when(k % 10 != 9, k + 1).otherwise(k - 9).alias("id_b")
        )
        path = spark.range(path_nodes).select(
            (k + F.lit(10**12)).alias("id_a"), (k + F.lit(10**12) + 1).alias("id_b")
        )
        return chains.unionByName(path).repartition(64)

    return cached_parquet(spark, cache_path("cc_edges", n), n, build)


# ----------------------------------------------------- scaling-family jobs


def _minhash(d) -> None:
    # adaptive_cut: the hot-list aggregation still runs (and is timed), but
    # the |shingles|-row repack shuffle is skipped when it proves no
    # shingle exceeds max_df
    from safedata_validator_spark.functions import dedup as dd

    _sink(dd.minhash_lsh_dedup(d, "doc_id", "text", threshold=0.5, max_df=10_000, adaptive_cut=True))


def _curate(d) -> None:
    from safedata_validator_spark.functions.pipeline import curate_documents

    _sink(
        curate_documents(
            d, "doc_id", "text", method="minhash", langs=("und",),
            min_quality=0.3, near_dup_threshold=0.5,
        )
    )


def _eval_split(d):
    """A 0.5% eval slice and the rest: the realistic benchmark-suite vs
    training-corpus ratio."""
    return d.where(d.doc_id % 200 != 0), d.where(d.doc_id % 200 == 0)


def _decon(d) -> None:
    from safedata_validator_spark.functions import dedup as dd

    _sink(dd.decontaminate(*_eval_split(d), "doc_id", "text", n=3))


def _dspans(d) -> None:
    from safedata_validator_spark.functions import spans

    _sink(spans.decontaminated_spans(*_eval_split(d), "doc_id", "text", n=8))


def _url(d) -> None:
    from safedata_validator_spark.functions import urls

    _sink(urls.url_audit(d, "doc_id", "text"))


def _pii(d) -> None:
    from safedata_validator_spark.functions import pii

    _sink(pii.pii_audit(d, "doc_id", "text"))


def _repetition(d) -> None:
    from safedata_validator_spark.functions import repetition

    _sink(repetition.repetition_profile(d, "doc_id", "text"))


def _spans(d) -> None:
    # not row-local (window-hash groupBy + position re-join); n=8 so the
    # ~20-token docs carry ~13 windows each
    from safedata_validator_spark.functions import spans

    _sink(spans.duplicated_spans(d, "doc_id", "text", n=8))


def _lm(d) -> None:
    from safedata_validator_spark.functions import lm_quality

    _sink(lm_quality.bigram_cross_entropy(d, "doc_id", "text"))


def _cc(d) -> dict:
    from safedata_validator_spark.functions.dedup import connected_components

    tracker = d.sparkSession.sparkContext.statusTracker()
    j0 = len(tracker.getJobIdsForGroup(None))
    stats: dict = {}
    _sink(connected_components(d, stats=stats))
    return {"rounds": stats.get("rounds"), "spark_jobs": len(tracker.getJobIdsForGroup(None)) - j0}


class Family(NamedTuple):
    unit: str  # what an input row is
    partitions: Callable[[int, int], int]  # shuffle partitions from (rows, level)
    conf: dict
    read_input: Callable  # (spark, rows) -> DataFrame
    jobs: dict | None  # name -> job(df); None: the validate run
    warm_rows: int


#: Shuffle partitions follow data volume only (validate: ~1M rows each;
#: dedup/hygiene: ~50k docs → ~1M-row blocks after the shingle explode), so
#: every level plans the same shuffles.
#: dedup scans in 32 MB splits at every level: the default 128 MB packed
#: the 10M-doc table into ~11 splits, and the shingle → signature → band
#: stages (which run inside the scan stage) then idled in ragged waves.
FAMILIES = {
    "validate": Family("turns", lambda n, c: max(c, n // 1_000_000), {}, _transcripts, None, 50_000),
    "dedup": Family(
        "docs",
        lambda n, c: max(32, n // 50_000),
        {"spark.sql.files.maxPartitionBytes": str(32 * 1024 * 1024)},
        _documents,
        {"minhash": _minhash, "curate": _curate, "decon": _decon},
        50_000,
    ),
    "cc": Family("edges", lambda n, c: max(32, n // 500_000), {}, _edges, {"cc": _cc}, 100_000),
    "hygiene": Family(
        "docs",
        lambda n, c: max(32, n // 50_000),
        {},
        _hygiene_documents,
        {
            "url": _url, "pii": _pii, "repetition": _repetition,
            "spans": _spans, "lm": _lm, "dspans": _dspans,
        },
        20_000,
    ),
}


# -------------------------------------------------- per-level subprocesses


def event_log_totals(evlog: str, app_id: str) -> dict:
    """Spill and shuffle-write bytes summed over one application's task-end
    events (warm-up included: a small slice against the timed job)."""
    totals = {"memory_spill_bytes": 0, "disk_spill_bytes": 0, "shuffle_write_bytes": 0}
    for path in glob.glob(os.path.join(evlog, "**"), recursive=True):
        if not os.path.isfile(path) or app_id not in path or "appstatus" in os.path.basename(path):
            continue
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                m = json.loads(line).get("Task Metrics") or {}
                totals["memory_spill_bytes"] += m.get("Memory Bytes Spilled", 0)
                totals["disk_spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                totals["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
    return totals


def worker(spec: dict) -> None:
    """One level of a scaling or cluster run in a fresh JVM: build the
    family's input, warm its jobs on a slice, time them, print the record."""
    family, level, n = spec["family"], spec["level"], spec["n"]
    exec_cores, mem = spec["exec_cores"], spec["mem_per_core"]
    fam = FAMILIES[family]
    conf = dict(fam.conf)
    rec: dict = {"cores": level}
    if exec_cores:
        os.environ["PYSPARK_PYTHON"] = sys.executable
        master = MASTER_URL
        rec["executors"] = level // exec_cores
        # fixed-width executors: cores.max picks HOW MANY executor JVMs the
        # job gets, the north rule's N→4N axis. On one host every executor
        # is equally local; the default 3 s locality wait instead chased
        # cached blocks onto the executor that materialized them.
        conf.update(
            {
                "spark.executor.cores": str(exec_cores),
                "spark.executor.memory": _heap(mem * exec_cores),
                "spark.locality.wait": "0s",
                "spark.cores.max": str(level),
            }
        )
        if spec["pretouch"]:
            # modest heaps + pre-touch move a VM's lazy memory faulting
            # to JVM start, outside the timed window
            conf["spark.executor.extraJavaOptions"] = "-XX:+AlwaysPreTouch"
    else:
        master = f"local[{level}]"
        if mem:
            # heap proportional to cores, the real-cluster model: a fixed
            # single-JVM heap shrinks per-task memory 4x at the wide level
            os.environ["SPARK_DRIVER_MEM"] = _heap(mem * level)
    spark = session(f"sdv-bench-{family}-{level}", master, fam.partitions(n, level), conf)
    df = fam.read_input(spark, n)
    if fam.jobs is None:
        dt = validate_samples(spark, df, 1)[0]
        rec.update({"sec": dt, "turns_per_sec": n / dt})
    else:
        for name in spec["jobs"]:
            fam.jobs[name](df.limit(fam.warm_rows))
        for name in spec["jobs"]:
            t0 = time.perf_counter()
            extra = fam.jobs[name](df) or {}
            dt = time.perf_counter() - t0
            rec.update({f"{name}_sec": dt, f"{name}_{fam.unit}_per_sec": n / dt, **extra})
    evlog = os.environ.get("SDV_EVLOG")
    if evlog:
        app_id = spark.sparkContext.applicationId
        spark.stop()  # flushes the event log
        rec.update(app_id=app_id, **event_log_totals(evlog, app_id))
    print(json.dumps(rec))


def run_level(spec: dict) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "_worker", json.dumps(spec)],
        capture_output=True, text=True, timeout=7200,
    )
    if out.returncode != 0:
        raise RuntimeError(out.stderr[-3000:])
    return json.loads(out.stdout.strip().splitlines()[-1])


def interleaved_rounds(spec: dict, levels, repeats: int) -> list[list[dict]]:
    rounds = []
    for rep in range(repeats):
        rd = []
        for c in levels:
            rd.append(run_level({**spec, "level": c}))
            print(f"# round {rep} level {c}: {json.dumps(rd[-1])}", file=sys.stderr, flush=True)
        rounds.append(rd)
    return rounds


@contextmanager
def standalone_cluster(n_workers: int, exec_cores: int):
    """A master and ``n_workers`` worker JVMs of ``exec_cores`` cores on
    this host, stopped on exit (also when startup fails)."""
    import pyspark

    home = os.path.dirname(pyspark.__file__)
    logs = os.path.join(tempfile.gettempdir(), "sdv_cluster_logs")
    os.makedirs(logs, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=home, SPARK_NO_DAEMONIZE="1", SPARK_LOG_DIR=logs)
    spark_class = os.path.join(home, "bin", "spark-class")
    procs = []

    def start(log_name: str, *args: str) -> None:
        with open(os.path.join(logs, f"{log_name}.log"), "w") as log:
            procs.append(
                subprocess.Popen([spark_class, *args], stdout=log, stderr=subprocess.STDOUT, env=env)
            )

    try:
        start(
            "master", "org.apache.spark.deploy.master.Master",
            "--host", "127.0.0.1", "--port", "7077", "--webui-port", "8099",
        )
        for _ in range(60):
            with socket.socket() as s:
                if s.connect_ex(("127.0.0.1", 7077)) == 0:
                    break
            time.sleep(1)
        else:
            raise RuntimeError("master did not bind :7077")
        for i in range(n_workers):
            start(
                f"worker_{i}", "org.apache.spark.deploy.worker.Worker", MASTER_URL,
                "--cores", str(exec_cores), "--memory", "20g",
                "--webui-port", str(8100 + i),
                "--work-dir", os.path.join(tempfile.gettempdir(), f"sdv_worker_{i}"),
            )
        time.sleep(12)
        yield
    finally:
        for p in reversed(procs):
            p.terminate()
        for p in procs:
            try:
                p.wait(timeout=20)
            except subprocess.TimeoutExpired:
                p.kill()


def summarize(fam: Family, n: int, levels, pairs, jobs, rounds, ceil: dict) -> dict:
    """Per-level bests and same-round efficiencies of a scaling run."""
    pair_key = {pair: f"{pair[0]}->{pair[1]}" for pair in pairs}
    if fam.jobs is None:
        effs = same_round_efficiency(rounds, levels, pairs, "sec")
        best = best_runs(rounds, levels, "sec")
        return {
            "levels": {str(c): best[c] for c in levels},
            "scaling_efficiency": {pair_key[p]: round(e, 3) for p, e in effs.items()},
            "ceilings": ceil,
            "target": 0.8,
            # efficiency ÷ the same-instant memory-bandwidth ceiling: the
            # identical job's score on hardware whose bandwidth scales with
            # core count (i.e. a multi-node cluster)
            "ceiling_normalized_efficiency": {
                pair_key[p]: round(min(e / min(ceil[pair_key[p]]["membw"], 1.0), 1.0), 3)
                for p, e in effs.items()
            },
        }
    best = {j: best_runs(rounds, levels, f"{j}_sec") for j in jobs}
    return {
        "levels": {j: {str(c): round(best[j][c][f"{j}_sec"], 2) for c in levels} for j in jobs},
        f"{fam.unit}_per_sec": {
            j: {str(c): round(n / best[j][c][f"{j}_sec"], 1) for c in levels} for j in jobs
        },
        "scaling_efficiency": {
            j: {
                pair_key[p]: round(e, 3)
                for p, e in same_round_efficiency(rounds, levels, pairs, f"{j}_sec").items()
            }
            for j in jobs
        },
        "ceilings": ceil,
        "target": 0.8,
    }


def scaling(family: str, cluster: bool) -> None:
    """Run ``family`` at every level, interleaved per round, and print the
    per-level bests, same-round efficiencies and hardware ceilings."""
    env = os.environ.get
    fam = FAMILIES[family]
    if cluster:
        n, levels, pairs, jobs, rounds_default, exec_cores, mem, pretouch = CLUSTER[family]
        exec_cores = int(env("SDV_BENCH_EXEC_CORES") or exec_cores)
        mem = float(env("SDV_BENCH_MEM_PER_CORE") or mem)
    else:
        n, levels, pairs, jobs = SCALING[family]
        rounds_default, exec_cores, pretouch = 2, 0, False
        mem = float(env("SDV_BENCH_MEM_PER_CORE")) if env("SDV_BENCH_MEM_PER_CORE") else None
    n = int(env("SDV_BENCH_DOCS") or n)
    levels = parse_levels(env("SDV_BENCH_LEVELS", levels))
    pairs = parse_pairs(env("SDV_BENCH_PAIRS", pairs), levels)
    jobs = [j for j in env("SDV_BENCH_JOBS", jobs).split(",") if j] if fam.jobs else []
    spec = {
        "family": family, "n": n, "jobs": jobs, "exec_cores": exec_cores,
        "mem_per_core": mem, "pretouch": pretouch,
    }
    # the level subprocesses and the cluster's executors import the package
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [HERE, env("PYTHONPATH")]))
    ceil = ceilings(pairs)
    with standalone_cluster(max(levels) // exec_cores, exec_cores) if cluster else nullcontext():
        rounds = interleaved_rounds(spec, levels, _repeats(rounds_default))

    out: dict = {f"n_{fam.unit}": n}
    if cluster:
        out.update(
            {
                "mode": f"standalone cluster, {exec_cores}-core executors, "
                f"executor JVMs = cores.max/{exec_cores}",
                "exec_cores": exec_cores,
                "exec_mem": _heap(mem * exec_cores),
                "executors": {str(c): c // exec_cores for c in levels},
            }
        )
    out.update(summarize(fam, n, levels, pairs, jobs, rounds, ceil))
    out["all_runs"] = rounds
    print(json.dumps(out))


def main(argv: list[str]) -> None:
    mode, args = (argv[0], argv[1:]) if argv else ("headline", [])
    if mode == "headline":
        headline()
    elif mode == "flagship":
        flagship()
    elif mode == "queries":
        queries(args)
    elif mode in ("scaling", "cluster") and args and args[0] in (SCALING if mode == "scaling" else CLUSTER):
        scaling(args[0], cluster=mode == "cluster")
    elif mode == "_worker":
        worker(json.loads(args[0]))
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    main(sys.argv[1:])

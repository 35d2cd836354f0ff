"""SparkSession construction with scale-appropriate defaults.

Local mode is the test vehicle; the configs mirror what a multi-executor
spark-submit deployment would set (AQE on, skew-join splitting, Arrow for
pandas-UDF stages, UTC session TZ so results compare cleanly against
UTC-naive oracles like DuckDB).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "safedata_validator_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or ``local[*]``.
    ``shuffle_partitions`` defaults to the local core count — the right size
    for local mode; on a real cluster this is overridden via spark-submit.
    Building the session runs no job: the Python UDF workers start with the
    first stage that needs them, and the validation path has none.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    # Under spark-submit the gateway JVM is already up with --master (and
    # driver memory) resolved; forcing a local default here would stomp the
    # cluster deployment's setting. PYSPARK_GATEWAY_PORT is how PythonRunner
    # hands the live JVM to this process — its presence IS "under submit".
    under_submit = "PYSPARK_GATEWAY_PORT" in os.environ
    if master is None and not under_submit:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        if cpus:
            shuffle_partitions = int(cpus)
        else:
            shuffle_partitions = os.cpu_count() or 8

    builder = (
        SparkSession.builder
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if master is not None:
        builder = builder.master(master)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # WindowExec's blanket no-partition warning is a false positive for this
    # engine's two deliberately-single-partition windows, which are bounded
    # by construction BEFORE the window: the PSI/KS cumulative sum runs over
    # an already-aggregated histogram (≤ bins+2 rows) and the expected-hash
    # prefix's small path caps at _PREFIX_CHUNK rows (the large path is a
    # two-phase parallel scan with no global window at all). A foldable
    # partition key is stripped by the optimizer, so the only way to keep
    # the log readable is to raise this one logger to ERROR. Every other
    # window in the engine is partition-bounded and CI-pinned
    # (tests/test_plans.py: block-bounded adjacency, packing windows).
    # org.apache.spark.rdd.MapPartitionsRDD's only WARN is the
    # 'locally checkpointed ... cannot be recomputed after unpersisting'
    # notice — fired by the iterative operators' DELIBERATE eviction of the
    # previous round's checkpoint (the next one is materialized first, so
    # recomputation is never needed; see dedup.connected_components).
    try:
        jvm = spark.sparkContext._jvm
        for name in (
            "org.apache.spark.sql.execution.window.WindowExec",
            "org.apache.spark.rdd.MapPartitionsRDD",
        ):
            jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
                name, jvm.org.apache.logging.log4j.Level.ERROR
            )
    except Exception:
        pass  # non-log4j2 deployments just keep the noisy warnings
    return spark


def tune_scan_splits(
    spark: SparkSession,
    *paths: str,
    target_splits: int = 128,
    floor_bytes: int = 4 * 1024 * 1024,
    ceil_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Size ``spark.sql.files.maxPartitionBytes`` (and the file open cost)
    from the INPUT's total bytes so the scan yields ~``target_splits``
    splits — the same data-volume-only rule the benches use for shuffle
    partitions, applied to the scan side.

    Why this exists: Spark's default 128 MB split + 4 MB per-file open
    cost coalesces a small benchmark corpus into a handful of scan splits
    — the 40M-turn flagship table (673 MB / 64 files) plans as EIGHT
    splits and the in-suite 4M-turn table (75 MB) as THREE, so the fused
    single-scan rule evaluation (which runs inside the scan stage) caps at
    that parallelism regardless of cores, and wide levels idle in ragged
    waves (per-stage event-log decomposition: wall efficiency 0.62-0.83
    with task-time ratios ~1 — wave packing, not compute). A 100 TB
    production corpus yields hundreds of thousands of splits at ANY
    setting, which is why the artifact only bites in-sandbox: the clamp's
    128 MB ceiling restores native behavior exactly where the default is
    already right. The rule reads only the data (never the core count), so
    scaling studies stay level-independent.

    Returns the chosen split size in bytes.
    """
    total = 0
    for p in paths:
        for root, _dirs, files in os.walk(p):
            for f in files:
                # skip metadata AND hidden files: local-FS .crc checksums
                # would otherwise inflate the byte total (ADVICE r05)
                if not f.startswith(("_", ".")):
                    total += os.path.getsize(os.path.join(root, f))
    split = min(max(total // target_splits, floor_bytes), ceil_bytes)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
    # open cost must not dominate packing for small files: cap it at a
    # quarter split so ≥4 files can share one split when sizes allow
    spark.conf.set("spark.sql.files.openCostInBytes", str(split // 4))
    return split

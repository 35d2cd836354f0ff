"""Resumable validation runs: a per-partition checkpoint/lineage manifest.

No reference analogue (the reference's "resume" is rerunning the file); this
is the north-rule requirement: "resumable from an Iceberg checkpoint/manifest
recording per-partition lineage (snapshot-id, rule-set hash, metrics)". Of
the metrics, the manifest stores counts only (rows, violations, errors and
the pass flag, ``MANIFEST_DDL``); timings and job counts per run are ROADMAP
direction 1. On a cluster the manifest lives as an Iceberg table keyed by
(partition, ruleset_hash); in this sandbox (no Iceberg jars, see
sources.tables.ICEBERG_AVAILABLE) the same manifest is an append-only parquet
directory — the schema and resume semantics are identical.

Resume = a NULL-safe join of the input's distinct partition values against
the manifest entries with a matching rule-set hash (the snapshot id is
recorded, not compared). Finding the pending partitions reads the whole
table once: the scope is an expression (e.g. ``date_format(ts, ...)``), so
neither this pass nor the slice filter ``partition_filter`` builds can be
pushed into a parquet or Iceberg scan. ``ValidationEngine.validate_resumable``
therefore persists the pending slice when it is a strict subset of the
table, and records the manifest only after its ``sink`` (the CLI's output
writes) has returned.
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from safedata_validator_spark.engine.common import local_table

MANIFEST_DDL = (
    "partition string, ruleset_hash string, snapshot_id string, "
    "n_rows long, n_violations long, n_errors long, passed boolean, "
    "completed_at double, run_id string"
)


@dataclass
class CheckpointManifest:
    path: str

    def read(self, spark: SparkSession) -> DataFrame:
        if not os.path.exists(self.path):
            return local_table(spark, [], MANIFEST_DDL)
        return spark.read.schema(MANIFEST_DDL).parquet(self.path)

    def completed(self, spark: SparkSession, ruleset_hash: str) -> DataFrame:
        """Partitions already validated under this exact rule set."""
        return (
            self.read(spark)
            .where(F.col("ruleset_hash") == ruleset_hash)
            .select("partition")
            .distinct()
        )

    def record(self, entries: DataFrame) -> None:
        entries.write.mode("append").parquet(self.path)


def pending_partitions(
    df: DataFrame,
    scope: str,
    manifest: CheckpointManifest,
    ruleset_hash: str,
) -> tuple[list[str | None], bool]:
    """Distinct partition values of ``df`` not yet in the manifest, sorted
    with NULL first, and whether they are a strict subset of ``df``'s
    partitions. Partition lists are O(thousands) — driver-side is the right
    place for them (this is metadata, the same scale as an Iceberg partition
    listing). A scope that evaluates to NULL is a partition like any other,
    as in ``ValidationEngine.verdicts``: the join is NULL-safe."""
    spark = df.sparkSession
    have = manifest.completed(spark, ruleset_hash).select(
        F.col("partition").alias("__done_partition"), F.lit(True).alias("__done")
    )
    want = df.select(F.expr(scope).cast("string").alias("partition")).distinct()
    rows = (
        want.join(have, want["partition"].eqNullSafe(have["__done_partition"]), "left")
        .select("partition", "__done")
        .collect()
    )
    pending = sorted(
        (r["partition"] for r in rows if r["__done"] is None),
        key=lambda p: (p is not None, p or ""),
    )
    return pending, len(pending) < len(rows)


def partition_filter(scope: str, partitions: list[str | None]) -> Column:
    """Rows whose scope value is one of ``partitions``; a ``None`` entry
    selects the rows whose scope is NULL, which ``isin`` alone drops."""
    part = F.expr(scope).cast("string")
    values = [p for p in partitions if p is not None]
    cond = part.isin(values)
    return cond | part.isNull() if len(values) < len(partitions) else cond


def manifest_entries(
    spark: SparkSession,
    verdicts: DataFrame,
    ruleset_hash: str,
    snapshot_id: str,
    run_id: str | None = None,
) -> DataFrame:
    """Fold a verdicts DataFrame into one manifest row per partition."""
    run_id = run_id or uuid.uuid4().hex[:12]
    now = time.time()
    per_part = verdicts.groupBy(F.col("scope").alias("partition")).agg(
        F.max("n_rows").alias("n_rows"),
        F.sum("n_failed").alias("n_violations"),
        F.sum(F.when(F.col("severity") == "ERROR", F.col("n_failed")).otherwise(0)).alias("n_errors"),
        (F.sum(F.when(~F.col("passed"), 1).otherwise(0)) == 0).alias("passed"),
    )
    return per_part.select(
        "partition",
        F.lit(ruleset_hash).alias("ruleset_hash"),
        F.lit(snapshot_id).alias("snapshot_id"),
        "n_rows",
        "n_violations",
        "n_errors",
        "passed",
        F.lit(now).alias("completed_at"),
        F.lit(run_id).alias("run_id"),
    )

"""Resumable runs: NULL partitions, crash safety (the manifest is recorded
only after the outputs are written), cache release, and agreement between
the manifest, the written verdicts and the CLI summary."""

from __future__ import annotations

import json
import time

import pytest
from pyspark.sql import functions as F

from safedata_validator_spark import cli
from safedata_validator_spark.data.synth import transcripts_bad, transcripts_good
from safedata_validator_spark.engine.checkpoint import CheckpointManifest
from safedata_validator_spark.engine.validator import ValidationEngine
from safedata_validator_spark.rules.presets import transcript_ruleset

ENGINE = ValidationEngine()
DAY = "date_format(ts,'yyyy-MM-dd')"


def _with_null_ts(df, conv_id):
    return df.withColumn(
        "ts", F.when(F.col("conv_id") == conv_id, F.lit(None).cast("timestamp")).otherwise(F.col("ts"))
    )


def _persistent_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _released(spark, before: set) -> set:
    """Persisted RDDs added since ``before``, polled briefly: the driver's
    registry can trail a blocking unpersist by a beat under load."""
    for _ in range(50):
        leaked = _persistent_ids(spark) - before
        if not leaked:
            break
        time.sleep(0.1)
    return leaked


def _cli_inputs(spark, dims, tmp_path, rs):
    tools, aliases, rs_path = (str(tmp_path / n) for n in ("tools", "aliases", "rules.json"))
    dims["tools"].write.parquet(tools)
    dims["tool_aliases"].write.parquet(aliases)
    with open(rs_path, "w") as fh:
        json.dump(rs.to_dict(), fh)
    return ["--ruleset", rs_path, "--dim", f"tools={tools}", "--dim", f"tool_aliases={aliases}", "--no-stats"]


def test_resume_validates_null_scope_partition(spark, dims, tmp_path):
    df = _with_null_ts(transcripts_good(spark, n_convs=10, mean_turns=10, hot_factor=5), "conv-00003")
    n_null = df.where(F.col("ts").isNull()).count()
    rs = transcript_ruleset(scope=DAY)
    mani = CheckpointManifest(str(tmp_path / "manifest"))

    res, pending = ENGINE.validate_resumable(df, rs, mani, dims)
    assert pending[0] is None and len(pending) >= 2
    verdicts = res.verdicts.collect()
    assert {v["scope"] for v in verdicts} == set(pending)
    assert {v["n_rows"] for v in verdicts if v["scope"] is None} == {n_null}
    res.unpersist()
    assert None in {r["partition"] for r in mani.read(spark).collect()}

    res2, pending2 = ENGINE.validate_resumable(df, rs, mani, dims)
    assert res2 is None and pending2 == []


def test_resume_null_partition_alone_is_pending(spark, dims, tmp_path):
    """A NULL partition that appears after the days were recorded is the
    only pending work, and the slice filter keeps its rows."""
    good = transcripts_good(spark, n_convs=10, mean_turns=10, hot_factor=5)
    rs = transcript_ruleset(scope=DAY)
    mani = CheckpointManifest(str(tmp_path / "manifest"))
    ENGINE.validate_resumable(good, rs, mani, dims)[0].unpersist()

    df = _with_null_ts(good, "conv-00003")
    res, pending = ENGINE.validate_resumable(df, rs, mani, dims)
    assert pending == [None]
    n_rows = {(v["scope"], v["n_rows"]) for v in res.verdicts.collect()}
    assert n_rows == {(None, df.where(F.col("ts").isNull()).count())}
    res.unpersist()
    assert ENGINE.validate_resumable(df, rs, mani, dims) == (None, [])


def test_resume_leaves_nothing_cached(spark, dims, tmp_path):
    rs = transcript_ruleset(scope="conv_id")
    mani = CheckpointManifest(str(tmp_path / "manifest"))
    ENGINE.validate_resumable(
        transcripts_good(spark, n_convs=10, mean_turns=10, hot_factor=5), rs, mani, dims
    )[0].unpersist()

    spark.catalog.clearCache()
    before = _persistent_ids(spark)
    # two appended conversations: a strict subset, so the slice is persisted
    df12 = transcripts_good(spark, n_convs=12, mean_turns=10, hot_factor=5)
    res, pending = ENGINE.validate_resumable(df12, rs, mani, dims)
    assert pending == ["conv-00010", "conv-00011"]
    # pending slice, violations and verdicts were each materialized once
    assert len(_persistent_ids(spark) - before) >= 3
    res.unpersist()
    assert not _released(spark, before)


def test_failed_write_records_nothing(spark, dims, tmp_path):
    rs = transcript_ruleset(scope="conv_id")
    common = _cli_inputs(spark, dims, tmp_path, rs)
    mani = str(tmp_path / "manifest")
    ENGINE.validate_resumable(
        transcripts_good(spark, n_convs=10, mean_turns=10, hot_factor=5), rs, CheckpointManifest(mani), dims
    )[0].unpersist()
    table = str(tmp_path / "t12")
    transcripts_good(spark, n_convs=12, mean_turns=10, hot_factor=5).write.parquet(table)
    n_seeded = spark.read.parquet(mani).count()

    # a regular file where the output directory should be: every write fails
    blocked = tmp_path / "blocked"
    blocked.write_text("")
    argv = ["--table", table, "--manifest", mani, *common]
    with pytest.raises(Exception):
        cli.main([*argv, "--out", str(blocked)])
    assert spark.read.parquet(mani).count() == n_seeded

    out, summary_path = str(tmp_path / "out"), str(tmp_path / "summary.json")
    assert cli.main([*argv, "--out", out, "--json", summary_path]) == 0
    with open(summary_path) as fh:
        assert json.load(fh)["pending_partitions"] == 2
    scopes = {r["scope"] for r in spark.read.parquet(f"{out}/verdicts").select("scope").distinct().collect()}
    assert scopes == {"conv-00010", "conv-00011"}
    assert spark.read.parquet(mani).count() == n_seeded + 2


def test_cli_summary_manifest_and_verdicts_agree(spark, dims, tmp_path):
    rs = transcript_ruleset(scope="conv_id")
    common = _cli_inputs(spark, dims, tmp_path, rs)
    table, mani, out = (str(tmp_path / n) for n in ("bad", "manifest", "out"))
    summary_path = str(tmp_path / "summary.json")
    transcripts_bad(spark, n_convs=20, mean_turns=10).write.parquet(table)

    spark.catalog.clearCache()
    before = _persistent_ids(spark)
    rc = cli.main(["--table", table, "--manifest", mani, "--out", out, "--json", summary_path, *common])
    assert rc == 1
    assert not _released(spark, before)
    with open(summary_path) as fh:
        summary = json.load(fh)

    written = spark.read.parquet(f"{out}/verdicts")
    per_part = {
        r["scope"]: (r["n_violations"], r["n_errors"])
        for r in written.groupBy("scope").agg(
            F.sum("n_failed").alias("n_violations"),
            F.sum(F.when(F.col("severity") == "ERROR", F.col("n_failed")).otherwise(0)).alias("n_errors"),
        ).collect()
    }
    manifest_rows = spark.read.parquet(mani).collect()
    assert {r["partition"]: (r["n_violations"], r["n_errors"]) for r in manifest_rows} == per_part
    assert summary["n_errors"] == sum(r["n_errors"] for r in manifest_rows) > 0

    # the verdict-based summary counts what the written violations hold
    by_sev = dict(spark.read.parquet(f"{out}/violations").groupBy("severity").count().collect())
    assert (summary["n_errors"], summary["n_warnings"]) == (by_sev.get("ERROR", 0), by_sev.get("WARNING", 0))

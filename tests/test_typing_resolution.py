"""Tests for format-consistency (A9), name-resolution rule (taxon API
analogue), sequential example drilldown (O3), and the all-midnight profile
metric (A10)."""

from __future__ import annotations

from pyspark.sql import functions as F

from safedata_validator_spark.engine.profiler import profile
from safedata_validator_spark.engine.validator import ValidationEngine
from safedata_validator_spark.rules.model import Rule, RuleSet

ENGINE = ValidationEngine()


def test_format_consistency_mixed_column(spark):
    df = spark.createDataFrame(
        [
            (1, "2024-01-01"),
            (2, "2024-02-03"),
            (3, "2024-01-01 10:00:00"),  # datetime in a date column
            (4, None),
            (5, ""),
        ],
        "id int, d string",
    )
    rs = RuleSet(
        name="t", key_cols=["id"],
        rules=[Rule("fmt", "format_consistency", column="d")],
    )
    got = ENGINE.validate(df, rs, with_stats=False).violations.collect()
    assert len(got) == 1
    assert "date:2" in got[0]["message"] and "timestamp:1" in got[0]["message"]

    # homogeneous column (blanks ignored) → clean
    df2 = spark.createDataFrame([(1, "2024-01-01"), (2, None), (3, "1999-12-31")], "id int, d string")
    assert ENGINE.validate(df2, rs, with_stats=False).violations.count() == 0


def test_name_resolution_rule(spark, dims):
    df = spark.createDataFrame(
        [
            (1, "bash", "leaf"),        # found
            (2, "bash-legacy", "leaf"),  # synonym → WARNING
            (3, "ghost", "leaf"),        # missing → ERROR
            (3, "ghost", "leaf"),        # same claim twice → one violation
        ],
        "id int, cap string, rank string",
    )
    rs = RuleSet(
        name="t", key_cols=["id"],
        rules=[Rule("cap.resolve", "name_resolution", column="cap", severity="ERROR",
                    params={"dim": "taxonomy_nodes", "name_col": "cap", "rank_col": "rank"})],
    )
    got = {v["rule_id"]: v for v in ENGINE.validate(df, rs, dims, with_stats=False).violations.collect()}
    assert set(got) == {"cap.resolve.synonym", "cap.resolve.missing"}
    assert got["cap.resolve.synonym"]["severity"] == "WARNING"
    assert got["cap.resolve.missing"]["severity"] == "ERROR"
    assert "(2 rows)" in got["cap.resolve.missing"]["message"]


def test_sequential_examples_drilldown(spark):
    data = [("ok", i) for i in range(1, 5)] + [("gap", i) for i in [1, 2, 5, 6]]
    df = spark.createDataFrame(data, "g string, i int")
    rs = RuleSet(
        name="t", key_cols=["g", "i"],
        rules=[Rule("seq", "sequential", column="i",
                    params={"group": "g", "order": "i", "examples": True})],
    )
    got = ENGINE.validate(df, rs, with_stats=False).violations.collect()
    by_rule = {}
    for v in got:
        by_rule.setdefault(v["rule_id"], []).append(v)
    assert len(by_rule["seq"]) == 1  # the group-level violation
    examples = sorted(v["entity"] for v in by_rule["seq.example"])
    # rows 5 and 6 sit where 3 and 4 were expected
    assert examples == ["g=gap/i=5", "g=gap/i=6"]
    msgs = sorted(v["message"] for v in by_rule["seq.example"])
    assert msgs[0] == "i=5 where 3 was expected"


def test_profile_nonmidnight_metric(spark):
    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (2, "2024-01-02 00:00:00"), (3, "2024-01-02 09:30:00")],
        "id int, t string",
    ).select("id", F.col("t").cast("timestamp").alias("t"))
    got = {r["column"]: r for r in profile(df).collect()}
    assert got["t"]["n_nonmidnight"] == 1  # one true datetime → column is not a pure date
    assert got["id"]["n_nonmidnight"] is None

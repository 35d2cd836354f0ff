"""Profiler vs an exact pandas oracle; drift statistics vs hand-computed
PSI/KS on known distributions (the duckdb/pandas-oracle layer of SURVEY §5)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from safedata_validator_spark.engine.drift import compare_histograms, histogram
from safedata_validator_spark.engine.profiler import profile


def test_profile_exact_against_pandas(spark):
    df = spark.createDataFrame(
        [
            (1, "a", 10.0),
            (2, None, 20.0),
            (3, "", 30.0),
            (4, "NA", None),
            (5, "b", 40.0),
            (6, "b", 50.0),
        ],
        "id int, s string, x double",
    )
    got = {
        r["column"]: r
        for r in profile(df, approx_distinct=False, quantiles=(0.5,)).collect()
    }
    s = got["s"]
    assert (s["n"], s["n_null"], s["n_blank"], s["n_na"], s["n_distinct"]) == (6, 1, 1, 1, 4)
    x = got["x"]
    assert (x["n"], x["n_null"], x["n_distinct"]) == (6, 1, 5)
    assert x["min_value"] == "10.0" and x["max_value"] == "50.0"
    assert x["mean"] == pytest.approx(30.0)
    pdf = df.toPandas()
    assert x["stddev"] == pytest.approx(pdf["x"].std())
    assert x["quantiles"][0] == pytest.approx(30.0)  # exact median of 5 values


def test_profile_quotes_hostile_names_and_sentinels(spark):
    """The profiler's parsed-SQL aggregates quote identifiers and string
    literals: stats for columns whose names hold a backtick, a quote and
    unicode, and an NA sentinel holding a backslash, equal Column-API counts
    over the same data under plain names."""
    from pyspark.sql import types as T

    from safedata_validator_spark.engine.validator import ValidationEngine
    from safedata_validator_spark.rules.model import Rule, RuleSet

    num, txt = "we`i'rd ü", "s`'\\ß"
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField(num, T.IntegerType()),
            T.StructField(txt, T.StringType()),
        ]
    )
    df = spark.createDataFrame(
        [(1, 5, "a"), (2, None, "N\\A"), (3, 5, "NA"), (4, 7, "NA")], schema
    )
    plain = df.toDF("id", "num", "txt")

    def want(c: str, sentinel: str = "NA") -> tuple:
        col = F.col(c)
        return (
            plain.count(),
            plain.where(col.isNull()).count(),
            plain.where(col == sentinel).count() if c == "txt" else 0,
            plain.select(c).where(col.isNotNull()).distinct().count(),
        )

    def got(stats, name: str) -> tuple:
        (r,) = stats.where(F.col("column") == name).collect()
        return (r["n"], r["n_null"], r["n_na"], r["n_distinct"])

    # default stats profile every typed column, the hostile int included
    rs = RuleSet(name="t", key_cols=["id"], rules=[Rule("r", "not_blank", column="id")])
    res = ValidationEngine().validate(df, rs)
    assert got(res.stats, num) == want("num")

    stats = profile(df, [num, txt], approx_distinct=False, na_sentinel="N\\A")
    assert got(stats, num) == want("num")
    assert got(stats, txt) == want("txt", "N\\A") == (4, 0, 1, 3)


def test_profile_is_single_stage_scan(spark):
    """The fused profile must not multiply scans: the optimized plan reads the
    source once (one scan node), with all metrics as one aggregate."""
    df = spark.range(100).select(
        F.col("id"), (F.col("id") * 2.0).alias("x"), F.format_string("s%d", "id").alias("s")
    )
    plan = profile(df)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.lower().count("range (0, 100") == 1


def test_histogram_and_psi_ks_known_values(spark):
    # cur: uniform over [0,10) buckets 1..10 ; base: all mass in bucket 1
    cur = spark.createDataFrame([(float(i % 10),) for i in range(100)], "v double")
    base = spark.createDataFrame([(0.5,)] * 50, "v double")
    h_cur = histogram(cur, "v", 0.0, 10.0, 10)
    h_base = histogram(base, "v", 0.0, 10.0, 10)
    got = compare_histograms(h_cur, h_base).collect()[0]
    # hand-computed: p_cur=0.1 ×10 buckets; p_base=1.0 in bucket 1
    eps = 1e-6
    psi = (0.1 - 1.0) * math.log((0.1 + eps) / (1.0 + eps)) + 9 * (
        (0.1 - 0.0) * math.log((0.1 + eps) / eps)
    )
    assert got["psi"] == pytest.approx(psi, rel=1e-3)
    assert got["ks"] == pytest.approx(0.9, abs=1e-9)  # CDF gap after bucket 1


def test_drift_rule_split_cohorts(spark):
    from safedata_validator_spark.engine.validator import ValidationEngine
    from safedata_validator_spark.rules.model import Rule, RuleSet

    # cohort A: values ~ i%10 ; cohort B: shifted by +5 → drift
    df = spark.createDataFrame(
        [("A", float(i % 10)) for i in range(200)] + [("B", float(i % 10 + 5)) for i in range(200)],
        "cohort string, v double",
    )
    rs = RuleSet(
        name="t",
        key_cols=["cohort"],
        rules=[
            Rule("drift", "drift", column="v", severity="WARNING",
                 params={"split": "cohort = 'B'", "lo": 0.0, "hi": 15.0, "bins": 15,
                         "psi_threshold": 0.2, "ks_threshold": 0.2}),
        ],
    )
    got = ValidationEngine().validate(df, rs, with_stats=False).violations.collect()
    assert len(got) == 1 and "drift on v" in got[0]["message"]

    # identical cohorts → no drift; rows whose split is NULL join neither
    # cohort, however far they sit from both
    df2 = spark.createDataFrame(
        [("A", float(i % 10)) for i in range(200)] + [("B", float(i % 10)) for i in range(200)]
        + [(None, 14.0)] * 300,
        "cohort string, v double",
    )
    assert ValidationEngine().validate(df2, rs, with_stats=False).violations.count() == 0

    # 15 bins: the KS cumulative sum runs in bucket order 2 < 3 < 10, giving
    # 0.5; ordering bucket 10 before 2 (as text would) would give 1.0
    df3 = spark.createDataFrame(
        [("B", 1.5), ("B", 9.5)] * 50 + [("A", 2.5)] * 100, "cohort string, v double"
    )
    got = ValidationEngine().validate(df3, rs, with_stats=False).violations.collect()
    assert len(got) == 1 and " ks=0.5 " in got[0]["message"], got

def test_drift_rule_against_stored_baseline_histogram(spark):
    """Cross-snapshot drift: the baseline is a STORED (scope, bucket, n)
    histogram from a previous run (the dims[] path) — identical data passes,
    shifted data breaches the PSI threshold."""
    from safedata_validator_spark.engine.validator import ValidationEngine
    from safedata_validator_spark.rules.model import Rule, RuleSet

    cur = spark.createDataFrame([(float(i % 10),) for i in range(300)], "v double")
    baseline_same = histogram(cur, "v", 0.0, 15.0, 15)
    shifted = spark.createDataFrame([(float(i % 10 + 5),) for i in range(300)], "v double")
    baseline_shifted = histogram(shifted, "v", 0.0, 15.0, 15)

    def run(baseline):
        rs = RuleSet(
            name="t", key_cols=["v"],
            rules=[Rule("drift", "drift", column="v", severity="WARNING",
                        params={"baseline_dim": "hist", "lo": 0.0, "hi": 15.0,
                                "bins": 15, "psi_threshold": 0.2})],
        )
        return ValidationEngine().validate(cur, rs, {"hist": baseline}, with_stats=False).violations.collect()

    assert run(baseline_same) == []
    breach = run(baseline_shifted)
    assert len(breach) == 1 and "psi=" in breach[0]["message"]

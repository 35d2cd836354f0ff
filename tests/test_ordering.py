"""Component tests for the skew-safe ordering machinery — especially that the
two-phase block+boundary adjacency gives IDENTICAL results to a naive global
window, at block sizes small enough to force many boundaries."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from safedata_validator_spark.data.synth import transcripts_good
from safedata_validator_spark.engine.ordering import adjacent_pairs
from safedata_validator_spark.engine.validator import ValidationEngine
from safedata_validator_spark.rules.model import Rule, RuleSet

ENGINE = ValidationEngine()


@pytest.mark.parametrize("block_size", [1, 3, 7, 4096])
def test_adjacent_pairs_matches_global_window(spark, block_size):
    df = transcripts_good(spark, n_convs=12, mean_turns=20, hot_factor=10)
    got = (
        adjacent_pairs(df, "conv_id", "turn_idx", ["ts", "role"], block_size=block_size)
        .select("conv_id", "turn_idx", "__prev_turn_idx", "__prev_ts", "__prev_role")
        .orderBy("conv_id", "turn_idx")
        .collect()
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    want = (
        df.select(
            "conv_id",
            "turn_idx",
            F.lag("turn_idx").over(w).alias("__prev_turn_idx"),
            F.lag("ts").over(w).alias("__prev_ts"),
            F.lag("role").over(w).alias("__prev_role"),
        )
        .orderBy("conv_id", "turn_idx")
        .collect()
    )
    assert got == want


def _rs(*rules):
    return RuleSet(name="t", rules=list(rules), key_cols=["g", "i"])


def test_sequential_detects_each_failure_mode(spark):
    # ok / gap / restart-at-0 / duplicate / null
    data = (
        [("ok", i) for i in range(1, 6)]
        + [("gap", i) for i in [1, 2, 4, 5]]
        + [("zero", i) for i in [0, 1, 2]]
        + [("dup", i) for i in [1, 2, 2, 3]]
        + [("null", 1), ("null", None), ("null", 3)]
    )
    df = spark.createDataFrame(data, "g string, i int")
    rule = Rule("seq", "sequential", column="i", params={"group": "g", "order": "i"})
    got = {v["entity"]: v["message"] for v in ENGINE.validate(df, _rs(rule), with_stats=False).violations.collect()}
    assert set(got) == {"g=gap", "g=zero", "g=dup", "g=null"}
    assert "nulls=1" in got["g=null"]


def test_sequential_fast_path_equals_exact(spark):
    """validate()'s hash-sum fast path (conv-level agg + drilldown on flagged
    conversations) must produce byte-identical violation rows to the exact
    key-level method, including the shared unique_key report — across gap /
    restart / duplicate / null / compensated dup+gap shapes."""
    data = (
        [("ok", i) for i in range(1, 6)]
        + [("gap", i) for i in [1, 2, 4, 5]]
        + [("zero", i) for i in [0, 1, 2]]
        + [("dup", i) for i in [1, 2, 2, 3]]
        + [("null", 1), ("null", None), ("null", 3)]
        # dup+gap with matching count/min/max — only the hash sums catch it
        + [("swap", i) for i in [1, 2, 2, 4]]
    )
    df = spark.createDataFrame(data, "g string, i int")

    def run(**extra):
        rs = RuleSet(
            name="t", key_cols=["g", "i"],
            rules=[
                Rule("seq", "sequential", column="i",
                     params={"group": "g", "order": "i", **extra}),
                Rule("u", "unique_key", params={"keys": ["g", "i"]}),
            ],
        )
        res = ENGINE.validate(df, rs, with_stats=False)
        return sorted(tuple(r) for r in res.violations.collect())

    fast, exact = run(), run(method="exact")
    assert fast == exact
    flagged = {t[3] for t in fast}
    assert {"g=gap", "g=zero", "g=dup", "g=null", "g=swap"} <= flagged


def test_monotone_strict_vs_nonstrict(spark):
    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 10.0), ("a", 3, 9.0), ("a", 4, 12.0)],
        "g string, i int, v double",
    )
    nonstrict = Rule("m", "monotone", column="v", params={"group": "g", "order": "i"})
    strict = Rule(
        "m", "monotone", column="v", params={"group": "g", "order": "i", "direction": "increasing"}
    )
    got1 = [v["entity"] for v in ENGINE.validate(df, _rs(nonstrict), with_stats=False).violations.collect()]
    assert got1 == ["g=a/i=3"]
    got2 = sorted(v["entity"] for v in ENGINE.validate(df, _rs(strict), with_stats=False).violations.collect())
    assert got2 == ["g=a/i=2", "g=a/i=3"]


def test_grammar_start_and_transitions(spark):
    df = spark.createDataFrame(
        [("a", 1, "system"), ("a", 2, "user"), ("b", 1, "user"), ("b", 2, "assistant")],
        "g string, i int, r string",
    )
    rule = Rule(
        "gr",
        "transition_grammar",
        column="r",
        params={
            "group": "g",
            "order": "i",
            "transitions": [["system", "user"], ["user", "assistant"]],
            "allowed_start": ["system"],
        },
    )
    got = {v["entity"]: v["message"] for v in ENGINE.validate(df, _rs(rule), with_stats=False).violations.collect()}
    assert set(got) == {"g=b/i=1"}
    assert "bad opening role" in got["g=b/i=1"]


def test_hot_conversation_blocks_actually_split(spark):
    """The hot conversation must be processed in bounded blocks: with
    block_size=50 a 1800-turn conversation spans 36 blocks; verify the
    stitched result still finds zero violations on good data."""
    df = transcripts_good(spark, n_convs=10, mean_turns=30, hot_factor=60)
    rs = RuleSet(
        name="t",
        key_cols=["conv_id", "turn_idx"],
        rules=[
            Rule("m", "monotone", column="ts",
                 params={"group": "conv_id", "order": "turn_idx", "block_size": 50}),
        ],
    )
    assert ENGINE.validate(df, rs, with_stats=False).violations.count() == 0
    n_blocks = (
        df.where(F.col("conv_id") == "conv-00000")
        .select(F.floor(F.col("turn_idx") / 50).alias("b"))
        .distinct()
        .count()
    )
    assert n_blocks >= 30


def test_sequential_fast_path_null_group(spark):
    """A NULL group key is sequenced like any other group — the fast path's
    drilldown semi-join is null-safe, and the violation entity renders ∅."""
    data = [(None, i) for i in [1, 2, 4]] + [("ok", i) for i in [1, 2, 3]]
    df = spark.createDataFrame(data, "g string, i int")
    rs = RuleSet(
        name="t", key_cols=["g", "i"],
        rules=[Rule("seq", "sequential", column="i",
                    params={"group": "g", "order": "i"})],
    )
    for extra in ({}, {"method": "exact"}):
        rs2 = RuleSet(
            name="t", key_cols=["g", "i"],
            rules=[Rule("seq", "sequential", column="i",
                        params={"group": "g", "order": "i", **extra})],
        )
        got = ENGINE.validate(df, rs2, with_stats=False).violations.collect()
        assert len(got) == 1 and got[0]["entity"] == "g=∅", (extra, got)

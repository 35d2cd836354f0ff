"""Golden end-to-end tests — the analogue of the reference's whole-workbook
corpus with known error counts (test/test_dataset.py:11-24: good=0, bad=94).
Here: transcripts_good must produce ZERO violations under the full rule set;
transcripts_bad must produce EXACTLY the planted violations (incl. known
cascades — e.g. a padded role also breaks the level audit and the grammar)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from safedata_validator_spark.data.synth import transcripts_bad, transcripts_good
from safedata_validator_spark.engine.validator import ValidationEngine
from safedata_validator_spark.rules.presets import transcript_ruleset

ENGINE = ValidationEngine()


@pytest.fixture(scope="module")
def good(spark):
    return transcripts_good(spark).cache()


@pytest.fixture(scope="module")
def bad(spark):
    return transcripts_bad(spark).cache()


def test_good_has_zero_violations(spark, good, dims):
    res = ENGINE.validate(good, transcript_ruleset(), dims, with_stats=False)
    viols = res.violations.collect()
    assert viols == [], [(v["rule_id"], v["entity"], v["message"]) for v in viols[:20]]
    assert res.passed()


# Planted-defect ledger (see data/synth.py transcripts_bad) with cascades:
#   conv-1 t3 NULL text, t5 whitespace text      → text.not_blank ×2
#   conv-2 t2 'NA'                               → text.not_na ×1 (WARNING)
#   conv-2 t4 '#DIV/0!'                          → text.no_excel_error ×1
#   conv-3 t2 ' user'   → role.not_padded ×1, role.in_levels ×1,
#                         levels_audit undeclared ×1, grammar ×2 (in+out edge)
#   conv-4 t2 'operator'→ role.in_levels ×1, levels_audit ×1, grammar ×2
#   conv-5 t4 unknown tool                       → tool.ref_integrity ×1
#   conv-6 t4 alias 'shell'                      → .alias WARNING ×1
#   conv-7 t2 duplicated row → key.unique ×1, turn_idx.sequential ×1,
#        grammar ×1 (the twin rows sort adjacent in the blocked-window
#        adjacency and their roles form a forbidden user→user edge — what a
#        sequential reader of the rows would see)
#   conv-8 gap at t5                             → turn_idx.sequential ×1
#   conv-9 t6 ts −1h                             → ts.monotone ×1
#   conv-10 t1 ts 2021 (soft), conv-11 t1 ts 2019 (hard)
#       → ts.extent_soft ×1 (WARNING), ts.extent_hard ×1 (both driven by min)
#   conv-12 t5 role user mid-conversation        → grammar ×2
EXPECTED = {
    "text.not_blank": 2,
    "text.not_na": 1,
    "text.no_excel_error": 1,
    "role.not_padded": 1,
    "role.in_levels": 2,
    "role.levels_audit": 2,
    "tool.ref_integrity": 1,
    "tool.ref_integrity.alias": 1,
    "key.unique": 1,
    "turn_idx.sequential": 2,
    "ts.monotone": 1,
    # 7 = the six planted forbidden transitions PLUS the duplicate-key pair in
    # conv-00007: the blocked-window adjacency sorts dup turn_idx rows next to
    # each other, so a sequential reader (like the reference's row loop) sees
    # user → user. The join adjacency cannot see dup-pair transitions.
    "role.grammar": 7,
    "ts.extent_hard": 1,
    "ts.extent_soft": 1,
}


def test_bad_has_exact_planted_counts(spark, bad, dims):
    res = ENGINE.validate(bad, transcript_ruleset(), dims, with_stats=False)
    counts = {
        r["rule_id"]: r["n"]
        for r in res.violations.groupBy("rule_id").agg(F.count("*").alias("n")).collect()
    }
    assert counts == EXPECTED, counts
    assert not res.passed()


def test_bad_verdicts_severity_split(spark, bad, dims):
    res = ENGINE.validate(bad, transcript_ruleset(), dims, with_stats=False)
    verd = {(r["rule_id"]): r for r in res.verdicts.collect()}
    # WARNING rules fail rows but still pass the verdict
    assert verd["text.not_na"]["n_failed"] == 1 and verd["text.not_na"]["passed"]
    assert verd["ts.extent_soft"]["n_failed"] == 1 and verd["ts.extent_soft"]["passed"]
    assert not verd["text.not_blank"]["passed"]
    # a rule with zero violations still reports
    assert verd["conv_id.not_blank"]["n_failed"] == 0 and verd["conv_id.not_blank"]["passed"]


def test_extent_congruence_bad_outside_declared(spark, bad, dims):
    """Manifest-declared temporal extent vs data-computed extent (reference
    final_checks, field.py:283-318): the planted 2019/2021 timestamps fall
    outside a declared [2022, 2030) extent → one congruence ERROR on top of
    the planted ledger."""
    from safedata_validator_spark.rules.presets import SOFT_TS_BOUNDS

    rs = transcript_ruleset(declared_ts_extent=SOFT_TS_BOUNDS)
    res = ENGINE.validate(bad, rs, dims, with_stats=False)
    counts = {
        r["rule_id"]: r["n"]
        for r in res.violations.groupBy("rule_id").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {**EXPECTED, "ts.extent_congruence": 1}, counts


def test_extent_congruence_advisory_on_good(spark, good, dims):
    """Both declared and populated-from-data, data within → the reference's
    'may be deliberate' WARNING (advisory opt-in); run still passes."""
    rs = transcript_ruleset(
        declared_ts_extent=("2020-01-01", "2031-01-01"), extent_advisory=True
    )
    res = ENGINE.validate(good, rs, dims, with_stats=False)
    viols = res.violations.collect()
    assert [(v["rule_id"], v["severity"]) for v in viols] == [
        ("ts.extent_congruence", "WARNING")
    ]
    assert res.passed()


def test_extent_congruence_requires_some_extent(spark, good, dims):
    """Neither declared nor derivable from data (all-null column) → ERROR
    (reference: 'extent not set from data or provided in summary')."""
    from safedata_validator_spark.rules.model import ERROR, Rule, RuleSet

    df = good.withColumn("ts", F.lit(None).cast("timestamp"))
    rs = RuleSet(
        name="congr.unset",
        key_cols=["conv_id", "turn_idx"],
        scope="'all'",
        rules=[Rule("ts.extent_congruence", "extent_congruence", column="ts",
                    severity=ERROR, params={})],
    )
    res = ENGINE.validate(df, rs, dims, with_stats=False)
    viols = res.violations.collect()
    assert len(viols) == 1 and viols[0]["rule_id"] == "ts.extent_congruence"
    assert "not set" in viols[0]["message"]
    assert not res.passed()


def test_per_turn_text_equality_under_stable_ordering(spark, good, dims):
    """North-rule invariant (BASELINE.json input_hint): the engine never
    mutates the fact table — per-turn text round-trips exactly under
    ORDER BY (conv_id, turn_idx)."""
    before = good.orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx", "text").collect()
    res = ENGINE.validate(good, transcript_ruleset(), dims, with_stats=True)
    res.stats.collect()  # run the profile scan over the same frame
    after = good.orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx", "text").collect()
    assert before == after
    assert len(before) == good.count()


def test_scoped_verdicts(spark, bad, dims):
    """Per-partition verdicts: scope by calendar month of ts."""
    rs = transcript_ruleset(scope="date_format(ts, 'yyyy-MM')")
    res = ENGINE.validate(bad, rs, dims, with_stats=False)
    scopes = {r["scope"] for r in res.verdicts.select("scope").distinct().collect()}
    assert "2024-01" in scopes and "2019-06" in scopes
    hard = {
        r["scope"]: r["n_failed"]
        for r in res.verdicts.where(F.col("rule_id") == "ts.extent_hard").collect()
    }
    assert hard["2019-06"] == 1 and hard["2024-01"] == 0


def test_localize_fallback_keeps_exact_counts(spark, bad, dims, monkeypatch):
    """When a shared aggregate exceeds LOCALIZE_ROWS the engine falls back to
    a persisted distributed plan (and skips the hash-sum sequence screen,
    which needs the driver-local max) — violation counts must be identical."""
    from safedata_validator_spark.engine import validator

    # force the distributed fallback for every aggregate
    monkeypatch.setattr(validator, "LOCALIZE_ROWS", 0)
    res = ENGINE.validate(bad, transcript_ruleset(), dims, with_stats=False)
    counts = {
        r["rule_id"]: r["n"]
        for r in res.violations.groupBy("rule_id").agg(F.count("*").alias("n")).collect()
    }
    res.unpersist()
    assert counts == EXPECTED, counts

"""Rule-type registry — the analogue of the reference's ``BaseField``
subclass walker (field.py:1323-1350), made explicit.

Two kinds of rules:
* ROW rules compile to Column predicates and are fused into ONE scan
  (rules.compilers).
* PLAN rules need their own relational shape (aggregation, window, join).
  The FUSED families are evaluated together over the run's shared
  aggregates inside ``ValidationEngine._plan_violations``; the others are
  evaluated one rule at a time by functions (df, rule, ruleset, dims) →
  violations DataFrame.

Unknown rule types raise at compile time — the reference degrades unknown
field types to base checks with an error (field.py:641-651); an engine
submitting distributed jobs should fail fast instead (cf. the reference's own
hard-abort behaviour for resource problems, logger.py:287-304).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

from safedata_validator_spark.engine.drift import eval_drift
from safedata_validator_spark.engine.hierarchy import (
    eval_hierarchy_congruence,
    eval_name_resolution,
)
from safedata_validator_spark.engine.typing_rules import eval_format_consistency
from safedata_validator_spark.engine.uniqueness import eval_unique_key
from safedata_validator_spark.rules.compilers import ROW_COMPILERS
from safedata_validator_spark.rules.model import Rule, RuleSet

PlanEvaluator = Callable[[DataFrame, Rule, RuleSet, dict], DataFrame]

#: Plan families evaluated one rule at a time. ``unique_key`` over a
#: sequential rule's (group, order) instead shares that rule's key counts.
PLAN_EVALUATORS: dict[str, PlanEvaluator] = {
    "unique_key": eval_unique_key,
    "drift": eval_drift,
    "hierarchy_congruence": eval_hierarchy_congruence,
    "name_resolution": eval_name_resolution,
    "format_consistency": eval_format_consistency,
}

#: Plan families evaluated together over the run's shared aggregates.
FUSED_PLAN_RULES = frozenset(
    {
        "sequential",
        "monotone",
        "transition_grammar",
        "ref_integrity",
        "levels_audit",
        "extent",
        "extent_congruence",
    }
)

PLAN_RULE_TYPES = FUSED_PLAN_RULES | set(PLAN_EVALUATORS)


def known_rule_types() -> set[str]:
    return set(ROW_COMPILERS) | PLAN_RULE_TYPES


def lint_ruleset(ruleset: RuleSet, df_columns: list[str]) -> list[str]:
    """Driver-side rule-set lint gating job submission (the analogue of the
    reference's descriptor validation before data rows are read,
    field.py:511-651). Returns a list of problems; empty = clean."""
    problems = []
    known = known_rule_types()
    for r in ruleset.rules:
        if r.rule_type not in known:
            problems.append(f"{r.rule_id}: unknown rule_type {r.rule_type!r}")
        if r.column is not None and r.column not in df_columns:
            problems.append(f"{r.rule_id}: column {r.column!r} not in table columns")
        if "adjacency" in r.params:
            # the self-join method was retired: it cannot see transitions
            # between duplicate-key rows, so honouring the parameter would
            # change semantics and ignoring it would do so silently
            problems.append(
                f"{r.rule_id}: 'adjacency' is no longer a rule parameter "
                "(adjacency is always the blocked window)"
            )
    for k in ruleset.key_cols:
        if k not in df_columns:
            problems.append(f"key column {k!r} not in table columns")
    return problems

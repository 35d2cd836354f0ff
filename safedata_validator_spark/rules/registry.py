"""Rule-type registry — the analogue of the reference's ``BaseField``
subclass walker (field.py:1323-1350), made explicit.

Two kinds of rules:
* ROW rules compile to Column predicates and are fused into ONE scan
  (rules.compilers).
* PLAN rules need their own relational shape (aggregation, window, join).
  ``ValidationEngine._plan_violations`` evaluates them together over the
  run's shared aggregates: six families slice the one stacked census, and
  ``unique_key`` on keys no sequential rule shares is the only family that
  counts on its own.

Unknown rule types raise at compile time — the reference degrades unknown
field types to base checks with an error (field.py:641-651); an engine
submitting distributed jobs should fail fast instead (cf. the reference's own
hard-abort behaviour for resource problems, logger.py:287-304).
"""

from __future__ import annotations

from safedata_validator_spark.rules.compilers import ROW_COMPILERS
from safedata_validator_spark.rules.model import RuleSet

PLAN_RULE_TYPES = frozenset(
    {
        "sequential", "monotone", "transition_grammar", "unique_key", "extent", "extent_congruence",
        "levels_audit", "ref_integrity", "drift", "format_consistency", "name_resolution",
        "hierarchy_congruence",
    }
)


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

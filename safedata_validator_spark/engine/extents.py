"""Extent rules: aggregated min/max vs hard/soft bounds.

Reference analogue: the ``Extent`` class (extent.py:22-161) — running min/max
folded across chunks, ERROR outside hard bounds, WARNING outside soft bounds
(extent.py:141-161). In Spark the fold is a single ``agg(min, max)`` — partial
aggregation makes the merge treewise for free — and the bound comparison is an
expression over the one-row-per-scope aggregate. (The reference has an
initialisation bug at field.py:2129, ``self.max = min(data)``; deliberately not
replicated, covered by test_extents.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from safedata_validator_spark.engine.common import as_violations, sql_ident
from safedata_validator_spark.rules.model import Rule


def _stats(c: str) -> list[str]:
    """Aliases of column ``c``'s (min, max, count) in the shared aggregate:
    hex-encoded, so any column name gives plain identifiers."""
    return [f"__{stat}_{c.encode().hex()}" for stat in ("min", "max", "n")]


def extent_aggs(rules: list[Rule]) -> list:
    """Typed min/max/count aggregate expressions for every column referenced by
    an extent rule — contributed to the validator's shared per-scope
    aggregation (one scan serves extents, profile and verdict row counts)."""
    aggs = []
    for c in sorted({r.column for r in rules}):
        col = F.col(sql_ident(c))
        aggs += [f(col).alias(a) for f, a in zip((F.min, F.max, F.count), _stats(c))]
    return aggs


def extents_from_agg(agg: DataFrame, rules: list[Rule]) -> list[DataFrame]:
    """Bound predicates over the shared per-scope aggregate (``__scope`` plus
    the ``extent_aggs`` columns). params: lo / hi (hard bounds,
    inclusive-lo / exclusive-hi) — violation at rule.severity when the
    observed extent crosses them. Use two extent rules (one ERROR 'hard', one
    WARNING 'soft') for the reference's two-tier bound semantics
    (extent.py:144-156)."""
    out = []
    for rule in rules:
        c = rule.column
        lo = rule.params.get("lo")
        hi = rule.params.get("hi")
        mn, mx, n = (F.col(a) for a in _stats(c))
        breach = F.lit(False)
        if lo is not None:
            breach = breach | (mn < F.lit(lo))
        if hi is not None:
            breach = breach | (mx >= F.lit(hi))
        bad = agg.where(n > 0).where(breach)
        msg = F.concat(
            F.lit(f"{c} extent ["),
            mn.cast("string"),
            F.lit(", "),
            mx.cast("string"),
            F.lit(f"] breaches bounds [{lo}, {hi})"),
        )
        entity = F.concat(
            F.lit("scope="), F.coalesce(F.col("__scope").cast("string"), F.lit("∅"))
        )
        value = F.concat(mn.cast("string"), F.lit(".."), mx.cast("string"))
        out.append(as_violations(bad, rule, F.col("__scope"), entity, value, msg))
    return out


def congruence_from_agg(agg: DataFrame, rules: list[Rule]) -> list[DataFrame]:
    """Declared-vs-computed extent congruence over the shared per-scope
    aggregate — the engine form of the reference's final_checks extent audit
    (field.py:283-318):

    * data outside the declared [lo, hi] → violation at rule.severity
      ("values from the data fall outside the extents set in the Summary");
    * both declared and populated-from-data, data within → WARNING advisory
      when ``params['advisory']`` (the reference's "may be deliberate!"
      warning) — off by default so clean runs stay violation-free;
    * nothing declared AND no data → violation at rule.severity (the
      reference's "extent not set from data or provided in summary").

    params: declared_lo / declared_hi (from the run manifest's declared
    extents), advisory (bool).

    Unlike the bounds rule (exclusive hi), congruence is inclusive on both
    ends, matching the reference's ``dataset.extent[1] > summary.extent[1]``.
    """
    out = []
    for rule in rules:
        c = rule.column
        lo = rule.params.get("declared_lo")
        hi = rule.params.get("declared_hi")
        advisory = bool(rule.params.get("advisory", False))
        mn, mx, n = (F.col(a) for a in _stats(c))
        entity = F.concat(
            F.lit("scope="), F.coalesce(F.col("__scope").cast("string"), F.lit("∅"))
        )
        value = F.concat(mn.cast("string"), F.lit(".."), mx.cast("string"))
        declared = lo is not None or hi is not None
        if declared:
            breach = F.lit(False)
            if lo is not None:
                breach = breach | (mn < F.lit(lo))
            if hi is not None:
                breach = breach | (mx > F.lit(hi))
            bad = agg.where((n > 0) & breach)
            msg = F.concat(
                F.lit(f"{c} extent from the data ["),
                value,
                F.lit(f"] falls outside the declared extent [{lo}, {hi}]"),
            )
            out.append(as_violations(bad, rule, F.col("__scope"), entity, value, msg))
            if advisory:
                within = agg.where((n > 0) & ~breach)
                out.append(
                    as_violations(
                        within,
                        rule,
                        F.col("__scope"),
                        entity,
                        value,
                        f"{c} extent is declared but also populated from the data "
                        "- this may be deliberate",
                        severity="WARNING",
                    )
                )
        else:
            unset = agg.where(n == 0)
            out.append(
                as_violations(
                    unset,
                    rule,
                    F.col("__scope"),
                    entity,
                    F.lit(None),
                    f"{c} extent not set from data or declared in the manifest",
                )
            )
    return out


"""Composite-key uniqueness — reference HasDuplicates (validators.py:412-445)
and the composite-key checks it powers (field-name uniqueness field.py:577-584,
location dupes locations.py:234-239, taxon dupes taxa.py:1048-1053).

Spark-first: ``groupBy(keys).count() > 1`` — a partial-aggregating shuffle on
the key, no window, no sort. At 10^12 rows this is the cheapest possible shape:
map-side combine collapses each partition's duplicates before the exchange, so
shuffle volume is bounded by distinct keys, not rows. Skewed keys are exactly
the interesting output (they ARE the duplicates), so no salting is needed —
the combiner already collapsed them map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from safedata_validator_spark.engine.common import as_violations, entity_col, sql_ident
from safedata_validator_spark.rules.model import Rule


def unique_from_counts(counts: DataFrame, rule: Rule, keys: list[str]) -> DataFrame:
    """Duplicate-key violations from per-key occurrence counts (``keys``,
    ``__scope``, ``__dup_n``). A unique_key rule over a sequential rule's
    (group, order) reads that rule's ``ordering.key_counts``; any other key
    set counts its own (``eval_unique_key``)."""
    dupes = counts.where(F.col("__dup_n") > 1)
    return as_violations(
        dupes,
        rule,
        scope=F.col("__scope"),
        entity=entity_col(keys),
        value=F.col("__dup_n"),
        message=F.concat(F.lit("duplicate key: "), F.col("__dup_n").cast("string"), F.lit(" occurrences")),
        column=",".join(keys),
    )


def eval_unique_key(df: DataFrame, rule: Rule, ruleset) -> DataFrame:
    """params: keys: list[str] (defaults to ruleset.key_cols)."""
    keys = list(rule.params.get("keys", ruleset.key_cols))
    counts = df.groupBy(*[F.col(sql_ident(k)) for k in keys], F.expr(ruleset.scope).alias("__scope")).agg(
        F.count(F.lit(1)).alias("__dup_n")
    )
    return unique_from_counts(counts, rule, keys)

"""Dynamic-type conformance rules for string columns.

Reference analogue: openpyxl cells are dynamically typed, and a field must be
internally consistent — one representation only (cell-type set must be a
singleton, field.py:1957-1979 / 2069-2095; first-chunk anchoring at
field.py:1974-1978). On a typed engine this matters for STRING columns that
carry serialized values: the engine classifies each value's format and
requires one format class per scope. Order-free (global consistency), which
is strictly stronger than the reference's chunk-order-dependent anchoring —
the documented semantic upgrade of SURVEY §7.3.2.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from safedata_validator_spark.engine.common import as_violations
from safedata_validator_spark.rules.model import Rule


def format_class(col: Column) -> Column:
    """Classify a string value: timestamp > date > time > number > bool >
    text. First match wins; blank/NULL are unclassified (handled by blank
    rules, not typing)."""
    c = F.trim(col.cast("string"))
    return (
        F.when(col.isNull() | (c == ""), F.lit(None))
        .when(c.try_cast("timestamp").isNotNull() & c.rlike(r"^\d{4}-\d{2}-\d{2}[T ]"), F.lit("timestamp"))
        .when(c.try_cast("date").isNotNull() & c.rlike(r"^\d{4}-\d{2}-\d{2}$"), F.lit("date"))
        .when(c.rlike(r"^\d{2}:\d{2}(:\d{2}(\.\d+)?)?$"), F.lit("time"))
        .when(c.try_cast("double").isNotNull(), F.lit("number"))
        .when(F.lower(c).isin("true", "false", "yes", "no"), F.lit("bool"))
        .otherwise(F.lit("text"))
    )


def format_consistency_from_counts(counts: DataFrame, rule: Rule, dims: dict) -> DataFrame:
    """One violation per (scope) where a string column mixes format classes
    (e.g. ISO dates and datetimes in one column — field.py:2069-2095), from
    the rule's census slice of per-scope format-class counts."""
    col = rule.column
    classes = counts.where(F.col("__val").isNotNull()).select(
        "__scope", F.col("__val").alias("__fmt"), "__n"
    )
    per_scope = classes.groupBy("__scope").agg(
        F.count(F.lit(1)).alias("__n_classes"),
        F.concat_ws(
            ", ",
            F.sort_array(F.collect_list(F.concat(F.col("__fmt"), F.lit(":"), F.col("__n").cast("string")))),
        ).alias("__detail"),
    )
    bad = per_scope.where(F.col("__n_classes") > 1)
    msg = F.concat(
        F.lit(f"{col} mixes value formats: "),
        F.col("__detail"),
    )
    entity = F.concat(
        F.lit("scope="), F.coalesce(F.col("__scope").cast("string"), F.lit("∅"))
    )
    return as_violations(bad, rule, F.col("__scope"), entity, F.col("__n_classes"), msg)

"""Shared violation-row construction helpers, and driver-local tables.

Violations are data, not log lines (the reference's verdict mechanism is a
counting log handler, logger.py:68-107; here it is a DataFrame with a fixed
schema so counting, scoping and persistence are relational).

Small results (the validator's two shared aggregates, the LSH candidate set,
the duplicate graph) are held on the driver when they fit. ``localize`` is
the one bounded probe that decides it, and ``local_table`` builds the
driver-local table (a JVM ``LocalRelation``).
"""

from __future__ import annotations

import json

from py4j.java_gateway import JavaObject
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from safedata_validator_spark.rules.model import Rule

#: Canonical violations schema (column order matters for unions).
VIOLATION_COLS = ["rule_id", "severity", "scope", "entity", "column", "value", "message"]

VIOLATION_DDL = (
    "rule_id string, severity string, scope string, entity string, "
    "column string, value string, message string"
)


def sql_ident(name: str) -> str:
    """``name`` as a quoted Spark SQL identifier (embedded backticks doubled)."""
    return "`" + name.replace("`", "``") + "`"


def sql_str(value: str) -> str:
    """``value`` as a Spark SQL string literal: backslashes and single quotes
    are backslash-escaped, as the SQL parser unescapes them."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def entity_col(key_cols: list[str]) -> Column:
    """Stable row identity for violation reporting: 'k1=v1/k2=v2'."""
    parts = []
    for k in key_cols:
        parts.append(F.concat(F.lit(f"{k}="), F.coalesce(F.col(sql_ident(k)).cast("string"), F.lit("∅"))))
    return F.concat_ws("/", *parts)


def as_violations(
    df: DataFrame,
    rule: Rule,
    scope: Column,
    entity: Column,
    value: Column,
    message: Column | str,
    column: str | None = None,
    severity: str | None = None,
) -> DataFrame:
    """Project an arbitrary violating-rows DataFrame into the canonical shape.
    ``severity`` overrides the rule's own level for derived advisory rows
    (e.g. extent congruence's both-populated WARNING)."""
    msg = F.lit(message) if isinstance(message, str) else message
    return df.select(
        F.lit(rule.rule_id).alias("rule_id"),
        F.lit(severity if severity is not None else rule.severity).alias("severity"),
        scope.cast("string").alias("scope"),
        entity.cast("string").alias("entity"),
        F.lit(column if column is not None else rule.column).alias("column"),
        value.cast("string").alias("value"),
        msg.alias("message"),
    )


def fused_violations(
    df: DataFrame,
    scope: Column,
    entity: Column,
    checks: list[tuple[Rule, Column, Column, Column]],
) -> DataFrame:
    """Many checks over ``df`` in ONE projection: each (rule, predicate,
    value, message) contributes a violation struct where its predicate is
    TRUE, and the non-null structs explode out in the canonical shape."""
    structs = [
        F.when(
            pred,
            F.struct(
                F.lit(rule.rule_id).alias("rule_id"),
                F.lit(rule.severity).alias("severity"),
                F.lit(rule.column or "").alias("column"),
                value.cast("string").alias("value"),
                message.alias("message"),
            ),
        )
        for rule, pred, value, message in checks
    ]
    # Shape note (A/B at 4M turns): keep the where(size(__v) > 0) + explode
    # formulation. The pushed-down size filter does inline the whole struct
    # array into a Filter below the projection, but that filter runs INSIDE
    # whole-stage codegen over all rows, and the projection + generate above
    # it then compute entity/__v for the (rare) surviving rows only. The
    # tempting "evaluate once" rewrite — explode_outer + IsNotNull on the
    # generated attribute — disables codegen for the Generate (outer
    # generates don't codegen), so the whole battery evaluates interpreted:
    # flagship 12-13 s → 22-34 s (row rules), 2-3× (adjacency pairs).
    fused = df.select(
        scope.cast("string").alias("__scope"),
        entity.alias("__entity"),
        F.array_compact(F.array(*structs)).alias("__v"),
    ).where(F.size("__v") > 0)
    return fused.select(
        "__scope", "__entity", F.explode("__v").alias("v")
    ).select(
        F.col("v.rule_id").alias("rule_id"),
        F.col("v.severity").alias("severity"),
        F.col("__scope").alias("scope"),
        F.col("__entity").alias("entity"),
        F.col("v.column").alias("column"),
        F.col("v.value").alias("value"),
        F.col("v.message").alias("message"),
    )


def empty_violations(spark) -> DataFrame:
    return local_table(spark, [], VIOLATION_DDL)


#: Field types ``local_table`` accepts for Python rows.
_PYTHON_ROW_TYPES = (T.StringType, T.BooleanType, T.LongType, T.DoubleType)


def local_table(spark, rows, schema: T.StructType | str) -> DataFrame:
    """A small driver-side table as a JVM ``LocalRelation`` (planned as
    ``LocalTableScan``). ``spark.createDataFrame(python_rows)`` plans a
    ``Scan ExistingRDD`` over a PythonRDD instead, so every job reading it
    runs Python-worker tasks that unpickle the rows again.

    ``rows`` is either a ``java.util.List`` of JVM ``Row`` objects (e.g.
    ``df._jdf.collectAsList()``), which goes in as is, or a Python sequence
    of tuples (string, boolean, long and double fields only). Python rows
    cross the gateway as ONE string of JSON lines, split JVM-side and parsed
    with ``from_json`` in FAILFAST mode; the optimizer folds the parse into
    the relation. The number of gateway calls does not depend on the row
    count; building JVM rows value by value costs about 5 calls per row
    (measured: about 10 s for 20,000 rows; this path takes under 1.5 s)."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    jspark = spark._jsparkSession
    if isinstance(rows, JavaObject):
        jschema = jspark.parseDataType(schema.json())
        return DataFrame(jspark.createDataFrame(rows, jschema), spark)
    for f in schema.fields:
        if not isinstance(f.dataType, _PYTHON_ROW_TYPES):
            raise TypeError(f"local_table: unsupported literal field type {f}")
    names = schema.fieldNames()
    # json.dumps escapes newlines (and, ASCII-only, every other character
    # a line splitter could trip on), so one row is exactly one line
    text = "\n".join(json.dumps(dict(zip(names, row, strict=True))) for row in rows)
    jvm = spark._jvm
    lines = (
        jvm.java.util.regex.Pattern.compile("\n").splitAsStream(text).toList()
        if text
        else jvm.java.util.ArrayList()
    )
    ds = jspark.createDataset(lines, jvm.org.apache.spark.sql.Encoders.STRING())
    parsed = DataFrame(ds.toDF(), spark).select(
        F.from_json("value", schema, {"mode": "FAILFAST"}).alias("v")
    )
    return parsed.select("v.*")


def _row_width(schema: T.StructType) -> int:
    """Rough serialized bytes per row from the schema: enough to turn a byte
    ceiling into a row cap (array columns such as sketches dominate)."""
    width = 0
    for f in schema.fields:
        t = f.dataType
        if isinstance(t, T.ArrayType):
            width += 8 * 32
        elif isinstance(t, (T.MapType, T.BinaryType)):
            width += 1024
        elif isinstance(t, T.StringType):
            width += 64
        else:
            width += 16
    return max(width, 64)


def localize(
    df: DataFrame, max_rows: int, max_bytes: int | None = None
) -> tuple[DataFrame, bool]:
    """Hold a (by-design small) result on the driver when it fits.

    ``df`` is persisted, then at most ``cap + 1`` rows are collected as JVM
    rows, where ``cap`` is ``max_rows``, lowered to what ``max_bytes`` allows
    at the schema's estimated row width. When they fit, the plan is
    unpersisted and the rows come back as a driver-local table
    (``local_table``): every consumer reads the rows, never the build plan,
    and reading the table (or a projection of it) back into Python runs no
    Spark job. Otherwise the persisted plan comes back, and because it was
    persisted BEFORE the probe, its first consumer reuses the computed
    partitions instead of recomputing them; the caller owns its release.
    Returns ``(table, is_local)``."""
    cap = max_rows
    if max_bytes is not None:
        cap = min(cap, max(1, max_bytes // _row_width(df.schema)))
    plan = df.persist()
    rows = plan.limit(cap + 1)._jdf.collectAsList()
    if rows.size() > cap:
        return plan, False
    plan.unpersist()
    return local_table(df.sparkSession, rows, df.schema), True

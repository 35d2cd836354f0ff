"""Shared violation-row construction helpers, and driver-local tables.

Violations are data, not log lines (the reference's verdict mechanism is a
counting log handler, logger.py:68-107; here it is a DataFrame with a fixed
schema so counting, scoping and persistence are relational).
"""

from __future__ import annotations

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


def empty_violations(spark) -> DataFrame:
    return local_table(spark, [], VIOLATION_DDL)


#: Python value -> the Java value py4j passes for the field's type. py4j
#: sends a small Python int as Java Integer, so long values cross as
#: strings and are cast back (see local_table).
_TO_JAVA = {
    T.StringType: str,
    T.BooleanType: bool,
    T.LongType: lambda v: str(int(v)),
    T.DoubleType: float,
}


def local_table(spark, rows, schema: T.StructType | str) -> DataFrame:
    """A small driver-side table as a JVM ``LocalRelation`` (planned as
    ``LocalTableScan``). ``spark.createDataFrame(python_rows)`` plans a
    ``Scan ExistingRDD`` over a PythonRDD instead, so every job reading it
    runs Python-worker tasks that unpickle the rows again.

    ``rows`` is either a ``java.util.List`` of JVM ``Row`` objects (e.g.
    ``df._jdf.collectAsList()``), which goes in as is, or a Python sequence
    of tuples, built into JVM rows value by value with each value converted
    to its field's type (string, boolean, long and double fields only).
    Long fields cross as strings and are cast back in a projection the
    optimizer folds into the relation."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    jspark = spark._jsparkSession
    if isinstance(rows, JavaObject):
        jschema = jspark.parseDataType(schema.json())
        return DataFrame(jspark.createDataFrame(rows, jschema), spark)
    convert = []
    for f in schema.fields:
        if type(f.dataType) not in _TO_JAVA:
            raise TypeError(f"local_table: unsupported literal field type {f}")
        convert.append(_TO_JAVA[type(f.dataType)])
    carrier = T.StructType(
        [
            T.StructField(
                f.name,
                T.StringType() if isinstance(f.dataType, T.LongType) else f.dataType,
                f.nullable,
            )
            for f in schema.fields
        ]
    )
    # class lookups through the JVM view cost a py4j round trip each:
    # resolve them once, not per row
    jvm, gateway = spark._jvm, spark.sparkContext._gateway
    jobject, row_factory = jvm.java.lang.Object, jvm.org.apache.spark.sql.RowFactory
    jrows = jvm.java.util.ArrayList()
    for row in rows:
        values = gateway.new_array(jobject, len(convert))
        for i, (conv, v) in enumerate(zip(convert, row, strict=True)):
            if v is not None:
                values[i] = conv(v)
        jrows.add(row_factory.create(values))
    df = DataFrame(jspark.createDataFrame(jrows, jspark.parseDataType(carrier.json())), spark)
    if carrier == schema:
        return df
    return df.select(
        *[
            F.col(sql_ident(f.name)).cast(f.dataType)
            for f in schema.fields
        ]
    )

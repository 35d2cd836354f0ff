"""Referential-integrity rules: membership against dimension tables, alias
resolution, and declared-vs-used level audits.

Reference analogues: unknown-location detection (locations.py:453-461,
key-set build locations.py:69-72), alias resolution with WARNING on use
(locations.py:463-474), used⊆provided double anti-joins for locations/taxa
(field.py:232-267), categorical level audit (field.py:1619-1631), external
file membership (field.py:2206-2238).

Scale design: dimensions are small (gazetteers, tool registries, level sets)
— every membership check is a count per distinct value on the fact side
followed by a **broadcast** anti/semi join, so the fact table is partially
aggregated map-side to its distinct values and never shuffled against the
dimension. The reference's parent-memoization dict (taxa.py:1223-1275) is
subsumed by the aggregation.

The run's census (``census_counts``) is ONE fact pass serving six plan
families: level audits and referential membership (one entry per audited
column), drift histograms, format-class counts, claimed (name, rank) pairs
and claimed (child, ancestor) pairs (one entry per rule). Each entry's
values are stacked into (key, value, second value) rows and counted per
scope in a single aggregation; ``validate()`` keeps the tiny result as a
driver-local table, and each rule derives its violations from its entry's
slice with broadcast joins only. ``unique_key`` on keys no sequential rule
shares is the only plan family that counts on its own.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from safedata_validator_spark.engine.common import as_violations, local_table, sql_ident
from safedata_validator_spark.rules.model import Rule


def _dim(dims: dict[str, DataFrame], name: str) -> DataFrame:
    try:
        return dims[name]
    except KeyError:
        raise KeyError(f"rule references unknown dimension {name!r}; have {sorted(dims)}") from None


def canon_str(col, dtype):
    """Canonical string rendering for membership comparison. Fact values and
    dim keys meet in the counts cache as STRINGS, so mixed numeric types must
    render identically: an integral-valued float/double/decimal renders
    without its fractional suffix (DOUBLE 1.0 → '1', matching dim INT 1 the
    way Spark's native join coercion would). Non-integral and out-of-long
    values keep their plain rendering; try_cast keeps ANSI mode happy."""
    from pyspark.sql.types import DecimalType, DoubleType, FloatType

    if isinstance(dtype, (DoubleType, FloatType, DecimalType)):
        as_long = col.try_cast("bigint")
        return F.when(
            col.isNotNull()
            & as_long.isNotNull()
            & (col == as_long.cast(dtype.simpleString())),
            as_long.cast("string"),
        ).otherwise(col.cast("string"))
    return col.cast("string")


def canon_col(df: DataFrame, column: str) -> Column:
    """``df[column]``, by quoted identifier, rendered through ``canon_str``."""
    return canon_str(F.col(sql_ident(column)), df.schema[column].dataType)


def canon_dim_key(dim: DataFrame, key: str) -> DataFrame:
    """Distinct dimension keys in the same canonical rendering → (__val)."""
    return dim.select(canon_col(dim, key).alias("__val")).distinct()


def canon_dim_key_membership(dim: DataFrame, key: str) -> DataFrame:
    """Dim keys for the MEMBERSHIP anti-join: the canonical rendering PLUS,
    for string-typed keys, a numeric canonicalization of numeric-looking
    values ('1.0' → '1', '1.50' → '1.5'). Spark's native join coercion casts
    both sides to double when a numeric fact meets a string dim — a DOUBLE
    fact 1.0 must match a STRING dim key '1.0', which the plain string
    rendering misses (ADVICE r02). Extra renderings only ever widen the
    accepted set, so this stays out of the levels-audit path (where a
    never-used extra rendering would be a false 'declared level never used'
    warning)."""
    from pyspark.sql.types import DoubleType, StringType

    raw = canon_dim_key(dim, key)
    if not isinstance(dim.schema[key].dataType, StringType):
        return raw
    as_num = canon_str(F.col(sql_ident(key)).try_cast("double"), DoubleType())
    numeric = (
        dim.select(as_num.alias("__val"))
        .where(F.col("__val").isNotNull())
        .distinct()
    )
    return raw.unionByName(numeric).distinct()


def census_counts(
    df: DataFrame, scope_expr: str, entries: dict[str, tuple[Column, Column | None]]
) -> DataFrame:
    """ONE scan serving every census-shaped rule: each entry's key and (value,
    optional second value) strings stack into (__col, __val, __val2) rows,
    counted per scope (``__n``). Output volume is bounded by Σ distinct
    values per entry × scopes — tiny by design — so the validator keeps it
    on the driver and every rule becomes a broadcast join over its slice,
    never a new fact pass. Values render via ``canon_str`` so numeric fact
    columns compare correctly with numeric dim keys of a different width."""
    none = F.lit(None).cast("string")
    stack = F.array(
        *[
            F.struct(F.lit(k).alias("__col"), v.alias("__val"), (none if v2 is None else v2).alias("__val2"))
            for k, (v, v2) in sorted(entries.items(), key=lambda e: e[0])
        ]
    )
    return (
        df.select(F.expr(scope_expr).cast("string").alias("__scope"), F.explode(stack).alias("__p"))
        .select("__scope", "__p.*")
        .groupBy("__scope", "__col", "__val", "__val2")
        .agg(F.count(F.lit(1)).alias("__n"))
    )


def ref_integrity_from_counts(counts: DataFrame, rule: Rule, dims: dict) -> DataFrame:
    """Membership of ``rule.column`` values (pre-counted per scope) in
    dimension ``dim[dim_key]``; optional alias table produces WARNINGs
    (reference locations.py:463-474). ``counts`` must carry the rule's column
    only (the validator slices the census by ``__col``).

    Emits one violation per distinct (scope, value) with an occurrence count
    — at 10^12 rows, per-row violation output for a systematically-bad value
    would itself be petabytes; counts + exemplar entity match the reference's
    set-style reporting ("unknown locations found: {...}").
    """
    dim = _dim(dims, rule.params["dim"])
    dim_key = rule.params["dim_key"]
    ignore_null = bool(rule.params.get("ignore_null", True))
    col = rule.column

    counted = counts.where(F.col("__val").isNotNull()) if ignore_null else counts
    unknown = counted.join(
        F.broadcast(canon_dim_key_membership(dim, dim_key)),
        on="__val",
        how="left_anti",
    )

    out = []
    alias_dim_name = rule.params.get("alias_dim")
    if alias_dim_name:
        alias = _dim(dims, alias_dim_name)
        alias_key = rule.params.get("alias_key", "alias")
        alias_primary = rule.params.get("alias_primary", dim_key)
        amap = alias.select(
            canon_col(alias, alias_key).alias("__val"),
            canon_col(alias, alias_primary).alias("__primary"),
        ).distinct()
        aliased = unknown.join(F.broadcast(amap), on="__val", how="inner")
        unknown = unknown.join(F.broadcast(amap.select("__val")), on="__val", how="left_anti")
        alias_rule = Rule(
            rule_id=rule.rule_id + ".alias",
            rule_type=rule.rule_type,
            column=rule.column,
            severity="WARNING",
            params=rule.params,
        )
        out.append(
            as_violations(
                aliased,
                alias_rule,
                F.col("__scope"),
                F.concat(F.lit(f"{col}="), F.col("__val")),
                F.col("__val"),
                F.concat(
                    F.lit("alias used for "),
                    F.col("__primary"),
                    F.lit(" ("),
                    F.col("__n").cast("string"),
                    F.lit(" rows)"),
                ),
            )
        )

    out.append(
        as_violations(
            unknown,
            rule,
            F.col("__scope"),
            F.concat(F.lit(f"{col}="), F.coalesce(F.col("__val"), F.lit("∅"))),
            F.col("__val"),
            F.concat(
                F.lit(f"{col} not in dimension {rule.params['dim']} ("),
                F.col("__n").cast("string"),
                F.lit(" rows)"),
            ),
        )
    )
    res = out[0]
    for extra in out[1:]:
        res = res.unionByName(extra)
    return res


def levels_audit_from_counts(counts: DataFrame, rule: Rule, dims: dict) -> DataFrame:
    """Set-vs-set audit of pre-counted categorical values against declared
    levels — BOTH directions, like the reference (field.py:1619-1631): values
    outside the declared set are ERRORs; declared levels never used are
    WARNINGs (per scope). params: levels: list[str] OR dim/dim_key;
    unused_severity."""
    col = rule.column
    spark = counts.sparkSession

    if "levels" in rule.params:
        levels_df = local_table(
            spark, [(str(v),) for v in rule.params["levels"]], "__level string"
        )
    else:
        levels_df = (
            canon_dim_key(_dim(dims, rule.params["dim"]), rule.params["dim_key"])
            .withColumnRenamed("__val", "__level")
        )

    used = counts.where(F.col("__val").isNotNull())

    undeclared = used.join(
        F.broadcast(levels_df.withColumnRenamed("__level", "__val")), "__val", "left_anti"
    )
    undeclared_v = as_violations(
        undeclared,
        rule,
        F.col("__scope"),
        F.concat(F.lit(f"{col}="), F.col("__val")),
        F.col("__val"),
        F.concat(F.lit("undeclared level ("), F.col("__n").cast("string"), F.lit(" rows)")),
    )

    # scopes derived from the aggregated side — no second scan of the fact
    # table (a scope whose column is entirely NULL has nothing to audit)
    scopes = used.select("__scope").distinct()
    declared_per_scope = scopes.crossJoin(F.broadcast(levels_df)).select(
        "__scope", F.col("__level").alias("__val")
    )
    unused = declared_per_scope.join(used.select("__scope", "__val"), ["__scope", "__val"], "left_anti")
    unused_rule = Rule(
        rule_id=rule.rule_id + ".unused",
        rule_type=rule.rule_type,
        column=col,
        severity=rule.params.get("unused_severity", "WARNING"),
        params=rule.params,
    )
    unused_v = as_violations(
        unused,
        unused_rule,
        F.col("__scope"),
        F.concat(F.lit(f"{col}="), F.col("__val")),
        F.col("__val"),
        F.lit("declared level never used"),
    )
    return undeclared_v.unionByName(unused_v)


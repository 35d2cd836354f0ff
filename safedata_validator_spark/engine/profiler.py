"""Single-scan per-column statistics profiler.

Reference analogue: every ``BaseField`` accumulates n_rows / n_na / n_blank /
n_excel_error plus per-type min/max across chunks in one pass
(field.py:1361-1415, counters field.py:1010-1016, extent fold
field.py:1821-1831 / 2120-2131). The north rule upgrades this to "a single
scan per partition producing per-column stat sketches (count / null /
distinct via HyperLogLog, min/max, numeric moments, t-digest quantiles)
merged treewise".

Spark-first realisation: ALL metrics for ALL columns are compiled into ONE
``groupBy(scope).agg(...)`` — Catalyst computes them in a single pass with
map-side partial aggregation, which *is* the treewise sketch merge
(HyperLogLog++ for approx distinct, Greenwald-Khanna/KLL for
percentile_approx are associative sketches). The wide one-row-per-scope
result is then unpivoted driver-free into a long (scope, column, metric...)
DataFrame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from safedata_validator_spark.engine.common import sql_ident, sql_str

NUMERIC_TYPES = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
)


def _is_numeric(dt: T.DataType) -> bool:
    return isinstance(dt, NUMERIC_TYPES)


def default_profile_columns(df: DataFrame, ruleset) -> list[str]:
    """Default stats-profile column selection: every numeric / temporal /
    boolean column, plus string columns referenced by PLAN-level rules
    (levels_audit, ref_integrity, sequential/monotone groups, drift, …).

    Free-text string columns referenced only by ROW rules (blank/NA/pattern
    checks) are excluded: row rules evaluate inside the fused row scan and
    need no sketches, while an HLL over full text bodies re-reads the
    heaviest column a second time for a distinct-count nobody consumes — at
    10^12 turns this is the largest avoidable share of per-turn memory
    bandwidth (round-1 north-rule finding). Pass explicit columns to
    ``validate(profile_columns=...)`` to profile text anyway."""
    from safedata_validator_spark.rules import registry

    typed = {
        f.name
        for f in df.schema.fields
        if _is_numeric(f.dataType)
        or isinstance(f.dataType, (T.TimestampType, T.DateType, T.BooleanType))
    }
    plan_cols: set[str] = set()
    for r in ruleset.rules:
        if r.rule_type not in registry.PLAN_RULE_TYPES:
            continue
        if r.column:
            plan_cols.add(r.column)
        for key in ("group", "order"):
            v = r.params.get(key)
            if isinstance(v, str):
                plan_cols.add(v)
        for k in r.params.get("keys", []) or []:
            if isinstance(k, str):
                plan_cols.add(k)
    keep = typed | plan_cols
    return [c for c in df.columns if c in keep]


def profile_aggs(
    df: DataFrame,
    columns: list[str],
    approx_distinct: bool = True,
    quantiles: tuple[float, ...] = (0.25, 0.5, 0.75),
    na_sentinel: str = "NA",
    relative_error: float = 0.01,
    string_minmax: bool = False,
) -> list:
    """The per-column aggregate expressions behind ``profile`` — exposed so the
    validator can fold them into ONE shared per-scope aggregation together with
    extent min/max and the verdict row count (the north rule's 'single scan per
    partition producing per-column stat sketches').

    ``string_minmax`` defaults OFF: alphabetic min/max of a free-text column
    is analytically meaningless and at 10^12 rows its per-row string
    comparisons are a real cost — the reference likewise folds extents for
    numeric/temporal fields only (field.py:1821-1831, 2120-2131) and keeps
    just the counter battery for text (field.py:1361-1415). Distinct-count
    HLL sketches stay on for every column (the north rule asks for them)."""
    # Aggregates are built as parsed SQL snippets (one F.expr per agg, the
    # r6 py4j-chatter economy — see dedup.signatures_from_hash_arrays):
    # Column-by-Column construction of the ~12 aggs × N columns measured
    # 0.35 s of pure driver time per validate() call. The SQL text encodes
    # the identical expression trees (D-suffixed double literals for the
    # percentile array; CAST NULLs for the type-matched placeholders) —
    # values pinned by tests/test_profiler_drift.py.
    fields = {f.name: f.dataType for f in df.schema.fields}
    aggs = []
    for c in columns:
        dt = fields[c]
        q = sql_ident(c)
        is_str = isinstance(dt, T.StringType)
        is_num = _is_numeric(dt)

        def e(sql: str, alias: str):
            aggs.append(F.expr(sql).alias(f"{c}__{alias}"))

        e("count(1)", "n")
        e(f"sum(CASE WHEN ({q} IS NULL) THEN 1 ELSE 0 END)", "n_null")
        if is_str:
            e(
                f"sum(CASE WHEN (({q} IS NOT NULL) AND (trim({q}) = '')) "
                "THEN 1 ELSE 0 END)",
                "n_blank",
            )
            e(f"sum(CASE WHEN ({q} = {sql_str(na_sentinel)}) THEN 1 ELSE 0 END)", "n_na")
        else:
            e("CAST(0 AS BIGINT)", "n_blank")
            e("CAST(0 AS BIGINT)", "n_na")
        if isinstance(dt, T.TimestampType):
            # date-vs-datetime discrimination (reference 'all midnight'
            # detection, field.py:2099-2118): zero non-midnight values means
            # the column is really a date
            e(
                f"sum(CASE WHEN (((hour({q}) != 0) OR (minute({q}) != 0)) "
                f"OR (second({q}) != 0)) THEN 1 ELSE 0 END)",
                "n_nonmidnight",
            )
        else:
            e("CAST(NULL AS BIGINT)", "n_nonmidnight")
        if approx_distinct:
            e(f"approx_count_distinct({q})", "n_distinct")
        else:
            e(f"count(DISTINCT {q})", "n_distinct")
        if is_str and not string_minmax:
            e("CAST(NULL AS STRING)", "min")
            e("CAST(NULL AS STRING)", "max")
        else:
            e(f"CAST(min({q}) AS STRING)", "min")
            e(f"CAST(max({q}) AS STRING)", "max")
        if is_num:
            # relative_error 0.01 (sketch accuracy 100): the Greenwald-Khanna
            # build cost grows with accuracy and measured ~4s per numeric
            # column per 4M rows at accuracy 1000 — the dominant term of the
            # shared per-scope aggregate. 1%-relative quantiles are the
            # standard profiling grade; pass a smaller relative_error where
            # a rule genuinely needs tighter percentiles.
            qs = ", ".join(f"{x!r}D" for x in quantiles)
            e(f"avg(CAST({q} AS DOUBLE))", "mean")
            e(f"stddev_samp(CAST({q} AS DOUBLE))", "stddev")
            e(
                f"percentile_approx(CAST({q} AS DOUBLE), array({qs}), "
                f"{int(1.0 / relative_error)})",
                "quantiles",
            )
        else:
            e("CAST(NULL AS DOUBLE)", "mean")
            e("CAST(NULL AS DOUBLE)", "stddev")
            e("CAST(NULL AS ARRAY<DOUBLE>)", "quantiles")
    return aggs


def profile_long(wide: DataFrame, columns: list[str]) -> DataFrame:
    """Unpivot the wide one-row-per-scope aggregate (column names as produced
    by ``profile_aggs``, scope column ``__scope``) into the long
    (scope, column, metric...) profile shape — driver-free explode."""
    # one parsed expression (vs N struct() Column builds) — same tree
    def struct_of(c: str) -> str:
        def m(metric: str) -> str:
            return sql_ident(f"{c}__{metric}")

        return (
            f"named_struct('column', {sql_str(c)}, 'n', {m('n')}, "
            f"'n_null', {m('n_null')}, 'n_blank', {m('n_blank')}, "
            f"'n_na', {m('n_na')}, 'n_distinct', {m('n_distinct')}, "
            f"'min_value', {m('min')}, 'max_value', {m('max')}, "
            f"'mean', {m('mean')}, 'stddev', {m('stddev')}, "
            f"'quantiles', {m('quantiles')}, "
            f"'n_nonmidnight', {m('n_nonmidnight')})"
        )

    per_col_structs = F.expr("array(" + ", ".join(struct_of(c) for c in columns) + ")")
    return wide.select(
        F.col("__scope").alias("scope"), F.explode(per_col_structs).alias("s")
    ).select("scope", "s.*")


def profile(
    df: DataFrame,
    columns: list[str] | None = None,
    scope: str = "'all'",
    approx_distinct: bool = True,
    quantiles: tuple[float, ...] = (0.25, 0.5, 0.75),
    na_sentinel: str = "NA",
    relative_error: float = 0.01,
    string_minmax: bool = False,
) -> DataFrame:
    """One-scan profile → long DataFrame:

    (scope, column, n, n_null, n_blank, n_na, n_distinct,
     min_value, max_value, mean, stddev, quantiles array<double>)

    ``n_blank``/``n_na`` apply to string columns (reference blank/NA counters,
    field.py:1435-1442); ``mean``/``stddev``/``quantiles`` to numeric columns;
    timestamps profile min/max (temporal extents, field.py:2120-2131).
    ``approx_distinct=False`` switches HLL to exact count_distinct — used by
    the DuckDB-oracle correctness gate; production keeps the sketch.
    """
    columns = columns or list(df.columns)
    aggs = profile_aggs(
        df, columns, approx_distinct, quantiles, na_sentinel, relative_error, string_minmax
    )
    wide = df.groupBy(F.expr(scope).cast("string").alias("__scope")).agg(*aggs)
    return profile_long(wide, columns)

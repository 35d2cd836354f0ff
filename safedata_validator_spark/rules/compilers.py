"""Row-level rule compilers: rule_type → Spark Column predicate.

Each compiler turns a :class:`Rule` into a :class:`RowCheck` — a predicate
Column that is TRUE where the row VIOLATES the rule, plus the offending value
expression. All row-level checks across all columns are fused into a single
scan by the engine (engine.validator), mirroring the reference's single-pass
per-field accumulation (reference field.py:1361-1415) but columnar and
whole-stage-codegen'd.

Blank semantics: the reference treats None and whitespace-only strings as
"blank" (reference validators.py:42-47 blank_value); on a SQL engine this
standardises to NULL, '' and whitespace-only (SURVEY §1.2 note on F6).
The literal string 'NA' is the explicit missing-data sentinel
(reference validators.py:333-350).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from safedata_validator_spark.engine.common import sql_ident
from safedata_validator_spark.rules.model import EXCEL_ERRORS, Rule


@dataclass
class RowCheck:
    """A compiled row-level check: ``predicate`` is TRUE on violating rows."""

    rule: Rule
    predicate: Column
    value: Column
    message: str


RowCompiler = Callable[[Rule], RowCheck]

ROW_COMPILERS: dict[str, RowCompiler] = {}


def row_compiler(rule_type: str) -> Callable[[RowCompiler], RowCompiler]:
    def deco(fn: RowCompiler) -> RowCompiler:
        ROW_COMPILERS[rule_type] = fn
        return fn

    return deco


def is_blank(col: Column) -> Column:
    """NULL, empty, or whitespace-only (reference validators.py:42-47)."""
    return col.isNull() | (F.trim(col.cast("string")) == "")


@row_compiler("not_blank")
def compile_not_blank(rule: Rule) -> RowCheck:
    """Reference IsNotBlank/IsNotNone (validators.py:252-288)."""
    c = F.col(sql_ident(rule.column))
    return RowCheck(rule, is_blank(c), c, f"{rule.column} is null/blank")


@row_compiler("not_na")
def compile_not_na(rule: Rule) -> RowCheck:
    """Reference IsNotNA (validators.py:333-350); sentinel configurable."""
    c = F.col(sql_ident(rule.column))
    sentinel = rule.params.get("sentinel", "NA")
    return RowCheck(rule, c == F.lit(sentinel), c, f"{rule.column} is the '{sentinel}' missing sentinel")


@row_compiler("no_excel_error")
def compile_no_excel_error(rule: Rule) -> RowCheck:
    """Reference IsNotExcelError (validators.py:353-371, set at 28-39)."""
    c = F.col(sql_ident(rule.column))
    return RowCheck(rule, c.isin(list(EXCEL_ERRORS)), c, f"{rule.column} contains a spreadsheet error sentinel")


@row_compiler("not_padded")
def compile_not_padded(rule: Rule) -> RowCheck:
    """Reference IsNotPadded (validators.py:311-330)."""
    c = F.col(sql_ident(rule.column))
    return RowCheck(rule, c.isNotNull() & (c != F.trim(c)), c, f"{rule.column} has leading/trailing whitespace")


@row_compiler("in_levels")
def compile_in_levels(rule: Rule) -> RowCheck:
    """Row-level categorical membership against a small declared level set
    (reference CategoricalField levels, field.py:1561-1633). For large or
    external level sets use the plan-level 'ref_integrity' rule instead."""
    c = F.col(sql_ident(rule.column))
    levels = list(rule.params["levels"])
    allow_null = bool(rule.params.get("allow_null", False))
    pred = ~c.isin(levels)
    pred = (pred | c.isNull()) if not allow_null else (pred & c.isNotNull())
    return RowCheck(rule, pred, c, f"{rule.column} outside declared levels {levels}")


@row_compiler("pattern")
def compile_pattern(rule: Rule) -> RowCheck:
    """Regex rule: violation when the value does NOT match ``regex`` (or DOES
    match when ``negate``). Covers the reference's format batteries: NoPunctuation
    (validators.py:393-409), valid_r_name (validators.py:50-95), name/email/
    ORCID/DOI regexes (summary.py:27-31), DMS-coordinate smell (validators.py:21)."""
    c = F.col(sql_ident(rule.column))
    regex = rule.params["regex"]
    negate = bool(rule.params.get("negate", False))
    matches = c.rlike(regex)
    pred = c.isNotNull() & (matches if negate else ~matches)
    verb = "matches forbidden" if negate else "does not match required"
    return RowCheck(rule, pred, c, f"{rule.column} {verb} pattern {regex!r}")


@row_compiler("numeric_string")
def compile_numeric_string(rule: Rule) -> RowCheck:
    """Reference IsNotNumericString (validators.py:204-226): a string column
    that parses as a number is suspect (numbers stored as text)."""
    c = F.col(sql_ident(rule.column))
    pred = c.isNotNull() & c.try_cast("double").isNotNull()
    return RowCheck(rule, pred, c, f"{rule.column} is a numeric string")


@row_compiler("castable")
def compile_castable(rule: Rule) -> RowCheck:
    """Dynamic-type conformance on string columns: value must try_cast cleanly
    to ``to`` (reference cell-type checks, field.py:1958-1978, re-expressed as
    try_cast null-delta per SURVEY §1.2)."""
    c = F.col(sql_ident(rule.column))
    to = rule.params["to"]
    pred = c.isNotNull() & c.try_cast(to).isNull()
    return RowCheck(rule, pred, c, f"{rule.column} does not parse as {to}")


@row_compiler("bounds")
def compile_bounds(rule: Rule) -> RowCheck:
    """Row-level extent bounds (reference Extent.update, extent.py:121-161).
    ``lo``/``hi`` inclusive-lo, exclusive-hi like the reference's hard bounds.
    Severity conveys hard (ERROR) vs soft (WARNING)."""
    c = F.col(sql_ident(rule.column))
    lo = rule.params.get("lo")
    hi = rule.params.get("hi")
    pred = F.lit(False)
    if lo is not None:
        pred = pred | (c < F.lit(lo))
    if hi is not None:
        pred = pred | (c >= F.lit(hi))
    pred = c.isNotNull() & pred
    return RowCheck(rule, pred, c, f"{rule.column} outside bounds [{lo}, {hi})")


@row_compiler("expr")
def compile_expr(rule: Rule) -> RowCheck:
    """Escape hatch: an arbitrary SQL predicate that must hold on every row.
    The analogue of Filter.tfunc overriding (reference validators.py:143-151)
    — but a Catalyst expression, not per-row Python."""
    must_hold = F.expr(rule.params["sql"])
    value_col = F.col(sql_ident(rule.column)) if rule.column else F.lit(None).cast("string")
    pred = ~F.coalesce(must_hold, F.lit(False))
    return RowCheck(rule, pred, value_col, rule.params.get("message", f"expr violated: {rule.params['sql']}"))


def compile_row_rule(rule: Rule) -> RowCheck:
    try:
        compiler = ROW_COMPILERS[rule.rule_type]
    except KeyError:
        raise KeyError(
            f"unknown row rule_type {rule.rule_type!r}; known: {sorted(ROW_COMPILERS)}"
        ) from None
    return compiler(rule)

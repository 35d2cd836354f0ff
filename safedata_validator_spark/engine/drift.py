"""Distribution-drift checks: PSI and KS over fixed-width histograms.

No reference analogue (the reference validates one file at a time); this is
the north-rule addition ("KS/PSI distribution-drift checks on per-column
summaries", BASELINE.json). Design: a histogram is an associative sketch —
``groupBy(bucket).count()`` with map-side combine — so building one costs a
single scan and a tiny shuffle (≤ nbins+2 rows per scope). PSI and KS are
then O(nbins) expressions over the joined histograms; the KS cumulative sum
runs in a window over the bucket axis of an already-tiny aggregate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from safedata_validator_spark.engine.common import as_violations
from safedata_validator_spark.rules.model import Rule

EPS = 1e-6


def histogram_bucket(value_expr: str, lo: float, hi: float, nbins: int) -> Column:
    """Bucket of a numeric SQL expression: 0 = underflow, nbins+1 = overflow."""
    v = F.expr(value_expr).cast("double")
    return F.width_bucket(v, F.lit(float(lo)), F.lit(float(hi)), F.lit(nbins))


def histogram(
    df: DataFrame,
    value_expr: str,
    lo: float,
    hi: float,
    nbins: int = 20,
    scope: str = "'all'",
) -> DataFrame:
    """Fixed-width histogram of a numeric SQL expression →
    (scope, bucket, n), buckets as ``histogram_bucket`` (SQL width_bucket
    semantics). NULLs are dropped."""
    return (
        df.select(
            F.expr(scope).cast("string").alias("scope"),
            histogram_bucket(value_expr, lo, hi, nbins).alias("bucket"),
        )
        .where(F.col("bucket").isNotNull())
        .groupBy("scope", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _normalised(hist: DataFrame, side: str) -> DataFrame:
    w = Window.partitionBy("scope")
    return hist.select(
        "scope",
        "bucket",
        (F.col("n") / F.sum("n").over(w)).alias(f"p_{side}"),
    )


def compare_histograms(cur: DataFrame, base: DataFrame) -> DataFrame:
    """Join two (scope, bucket, n) histograms → per-scope drift statistics:
    (scope, psi, ks). Missing buckets count as probability 0 (epsilon-smoothed
    for PSI's log ratio)."""
    cp = _normalised(cur, "cur")
    bp = _normalised(base, "base")
    joined = cp.join(bp, ["scope", "bucket"], "full_outer").select(
        "scope",
        "bucket",
        F.coalesce("p_cur", F.lit(0.0)).alias("p_cur"),
        F.coalesce("p_base", F.lit(0.0)).alias("p_base"),
    )
    w = Window.partitionBy("scope").orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cdf = joined.select(
        "scope",
        "bucket",
        "p_cur",
        "p_base",
        F.sum("p_cur").over(w).alias("cdf_cur"),
        F.sum("p_base").over(w).alias("cdf_base"),
    )
    psi_term = (F.col("p_cur") - F.col("p_base")) * F.log(
        (F.col("p_cur") + EPS) / (F.col("p_base") + EPS)
    )
    return cdf.groupBy("scope").agg(
        F.sum(psi_term).alias("psi"),
        F.max(F.abs(F.col("cdf_cur") - F.col("cdf_base"))).alias("ks"),
    )


def drift_from_counts(counts: DataFrame, rule: Rule, dims: dict) -> DataFrame:
    """Drift rule over its census slice: per-scope counts of its histogram
    bucket and, with ``split``, the row's cohort flag. params:
      expr        — numeric SQL expression over the fact table
                    (default: the rule column itself, quoted)
      lo, hi, bins — histogram domain
      split       — SQL boolean: rows where TRUE are 'current', FALSE are
                    'baseline' (drift between two cohorts of one table), OR
      baseline_dim — name of a dims[] DataFrame holding a stored
                    (scope, bucket, n) histogram from a previous snapshot
      psi_threshold / ks_threshold — violation if exceeded
    """
    label = rule.params.get("expr", rule.column)
    psi_t = rule.params.get("psi_threshold")
    ks_t = rule.params.get("ks_threshold")

    # buckets back to bigint: the KS window orders them numerically
    hist = counts.where(F.col("__val").isNotNull()).select(
        F.col("__scope").alias("scope"),
        F.col("__val").cast("bigint").alias("bucket"),
        F.col("__n").alias("n"),
        "__val2",
    )
    if "split" in rule.params:
        cur, base = (hist.where(F.col("__val2") == f).drop("__val2") for f in ("true", "false"))
    else:
        cur, base = hist.drop("__val2"), dims[rule.params["baseline_dim"]]

    stats = compare_histograms(cur, base)
    breach = F.lit(False)
    if psi_t is not None:
        breach = breach | (F.col("psi") > float(psi_t))
    if ks_t is not None:
        breach = breach | (F.col("ks") > float(ks_t))
    bad = stats.where(breach)
    msg = F.concat(
        F.lit(f"drift on {label}: psi="),
        F.round("psi", 4).cast("string"),
        F.lit(" ks="),
        F.round("ks", 4).cast("string"),
        F.lit(f" (thresholds psi>{psi_t}, ks>{ks_t})"),
    )
    entity = F.concat(F.lit("scope="), F.coalesce(F.col("scope"), F.lit("∅")))
    value = F.round("psi", 6).cast("string")
    return as_violations(bad, rule, F.col("scope"), entity, value, msg)

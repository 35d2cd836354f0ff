"""Driver-contract query catalog: one entry per operator family from
SURVEY.md §2, each expressed Spark-first over the testdata tables, with a
DuckDB-runnable ANSI-SQL oracle producing identical columns.

Determinism rules used throughout (so Spark and DuckDB value-hashes match):
* money aggregates go through DECIMAL(18,2) partial sums (exact, order-free)
  and are finalised as DOUBLE;
* means/stddevs are computed from exact decimal sums + counts in double,
  never via order-dependent streaming aggregates;
* every window order has a unique tie-break key;
* floats that cross engines are round()ed.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from safedata_validator_spark.engine.validator import ValidationEngine
from safedata_validator_spark.functions import dedup as dd
from safedata_validator_spark.functions import similarity as sim
from safedata_validator_spark.functions import text as tx
from safedata_validator_spark.golden_oracles import GOLDEN_ORACLES
from safedata_validator_spark.rules.model import EXCEL_ERRORS, WARNING, Rule, RuleSet


#: (sf_dir, table, mtime_ns) → inferred schema. Spark 4 runs one
#: footer-read job per schema-less parquet read; caching the schema makes
#: every load after the first touch job-free (a production deployment gets
#: this for free from the Iceberg/metastore catalog — the schema never comes
#: from data files). The table path's modification time is part of the key,
#: so a table rewritten at the same path is read afresh.
_SCHEMA_CACHE: dict[tuple[str, str, int], object] = {}

#: (sf_dir, table, mtime_ns, maxPartitionBytes, openCostInBytes) → (planned
#: scan splits, total file bytes): feeds the small-input parallelism guard
#: below without re-planning per call. The split count depends on the two
#: file settings (``session.tune_scan_splits`` changes them) and on the
#: files, so all of them are part of the key.
_SPLIT_CACHE: dict[tuple[str, str, int, str, str], tuple[int, int]] = {}

#: Tables below this size skip the guard: their downstream role is a
#: broadcast/dimension side where an extra exchange buys nothing.
_SPREAD_MIN_BYTES = 128 * 1024


def _t(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    key = (sf_dir, name, os.stat(path).st_mtime_ns)
    if key not in _SCHEMA_CACHE:
        _SCHEMA_CACHE[key] = spark.read.parquet(path).schema
    df = spark.read.schema(_SCHEMA_CACHE[key]).parquet(path)
    if not spread:
        return df
    # Small-input scan-parallelism guard (opt guide §2.5, "input skew: one
    # huge unsplittable file ... repartition immediately after the read"):
    # a compact table whose planned scan yields fewer splits than the
    # session's parallelism serializes every downstream row-local
    # computation — normalize/shingle/regex projections measured as
    # SINGLE-task 1.6-4.6 s jobs on a 32-core level — onto a handful of
    # cores. One round-robin exchange of the (small) input restores full
    # parallelism; at production volume the scan plans >= cores splits at
    # any sane maxPartitionBytes and the guard is a no-op, so nothing here
    # is tuned to the sandbox. OPT-IN (``spread=True``) per query: only
    # paths whose pre-exchange work is compute-dense (text regex/shingle
    # projections, wide aggregations, vector scoring) benefit; a light
    # query's first shuffle already spreads it, so the extra exchange
    # would be pure cost — and order-sensitive double aggregations
    # (lm_quality's occurrence-stream avg) must keep their byte-identical
    # plan lineage.
    n = spark.sparkContext.defaultParallelism
    split_key = key + tuple(
        spark.conf.get(f"spark.sql.files.{k}")
        for k in ("maxPartitionBytes", "openCostInBytes")
    )
    if split_key not in _SPLIT_CACHE:
        total = 0
        if os.path.isdir(path):
            for root, _dirs, files in os.walk(path):
                total += sum(
                    os.path.getsize(os.path.join(root, f))
                    for f in files
                    if not f.startswith(("_", "."))
                )
        else:
            total = os.path.getsize(path)
        _SPLIT_CACHE[split_key] = (df.rdd.getNumPartitions(), total)
    n_splits, total = _SPLIT_CACHE[split_key]
    if n_splits < n and total >= _SPREAD_MIN_BYTES:
        # hash-repartition on the leading (key) column, not round-robin:
        # a keyless repartition(n) pays SPARK-23207's per-row full-row
        # sort on the (single-task) map side — measured 1.4 s serialized
        # on the text table — while hash partitioning is one murmur3 per
        # row, deterministic under retries, and every spread table leads
        # with a high-cardinality id column that spreads evenly.
        df = df.repartition(n, F.col(df.columns[0]))
    return df


DEC = "decimal(18,2)"

# --------------------------------------------------------------------------
# 1. Single-scan column profile (SURVEY §2.4 A1/A2, north-rule stat sketches)
# --------------------------------------------------------------------------

def q_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column stats in ONE scan: count/nulls/distinct/min/max/mean/stddev.
    Decimal partial sums make mean/stddev order-independent (exact)."""
    li = _t(spark, sf_dir, "lineitem", spread=True)

    def stats(c: str):
        x = F.col(c)
        xd = x.cast(DEC)
        n = F.count(x)
        s1 = F.sum(xd)
        s2 = F.sum((xd * xd).cast("decimal(38,4)"))
        mean = (s1.cast("double") / n)
        var = (s2.cast("double") - s1.cast("double") * s1.cast("double") / n) / (n - 1)
        return F.struct(
            F.lit(c).alias("column_name"),
            F.count(F.lit(1)).alias("n_rows"),
            (F.count(F.lit(1)) - n).alias("n_null"),
            F.count_distinct(x).alias("n_distinct"),
            F.min(x).cast("double").alias("min_value"),
            F.max(x).cast("double").alias("max_value"),
            F.round(mean, 6).alias("mean_value"),
            F.round(F.sqrt(var), 6).alias("stddev_value"),
        )

    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    wide = li.agg(*[stats(c).alias(f"__s_{c}") for c in cols])
    return (
        wide.select(F.explode(F.array(*[F.col(f"__s_{c}") for c in cols])).alias("s"))
        .select("s.*")
    )


SQL_PROFILE_LINEITEM = """
WITH s AS (
  SELECT
    unnest(['l_quantity','l_extendedprice','l_discount']) AS column_name,
    unnest([count(l_quantity), count(l_extendedprice), count(l_discount)]) AS n,
    unnest([count(DISTINCT l_quantity), count(DISTINCT l_extendedprice), count(DISTINCT l_discount)]) AS nd,
    unnest([min(l_quantity), min(l_extendedprice), min(l_discount)]) AS mn,
    unnest([max(l_quantity), max(l_extendedprice), max(l_discount)]) AS mx,
    unnest([sum(CAST(l_quantity AS DECIMAL(18,2))), sum(CAST(l_extendedprice AS DECIMAL(18,2))), sum(CAST(l_discount AS DECIMAL(18,2)))]) AS s1,
    unnest([sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4))),
            sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))),
            sum(CAST(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(38,4)))]) AS s2,
    count(*) AS n_rows
  FROM lineitem
)
SELECT column_name,
       n_rows,
       n_rows - n AS n_null,
       nd AS n_distinct,
       CAST(mn AS DOUBLE) AS min_value,
       CAST(mx AS DOUBLE) AS max_value,
       round(CAST(s1 AS DOUBLE) / n, 6) AS mean_value,
       round(sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / (n - 1)), 6) AS stddev_value
FROM s
"""

# --------------------------------------------------------------------------
# 2. Composite-key uniqueness (A3/A4; reference HasDuplicates)
# --------------------------------------------------------------------------

def q_unique_key_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey", "o_orderdate")
        .agg(F.count(F.lit(1)).alias("n_dups"))
        .where(F.col("n_dups") > 1)
        .select("o_custkey", "o_orderdate", "n_dups")
    )


SQL_UNIQUE_KEY_ORDERS = """
SELECT o_custkey, o_orderdate, count(*) AS n_dups
FROM orders GROUP BY o_custkey, o_orderdate HAVING count(*) > 1
"""

# --------------------------------------------------------------------------
# 3. Sequential numbering per group (W1; reference field.py:722-746) —
#    agg-only, no window: {1..n} ⟺ min=1 ∧ max=n ∧ distinct=n
# --------------------------------------------------------------------------

def q_sequential_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: the count_distinct Expand doubles the row volume through the
    # partial aggregation, which otherwise runs on the table's 3 scan
    # splits (A/B: 0.78 s -> 0.42-0.67 s warm)
    li = _t(spark, sf_dir, "lineitem", spread=True)
    agg = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.min("l_linenumber").alias("min_ln"),
        F.max("l_linenumber").alias("max_ln"),
        F.count_distinct("l_linenumber").alias("nd_ln"),
    )
    return agg.select(
        "l_orderkey",
        "n_lines",
        "min_ln",
        "max_ln",
        (
            (F.col("min_ln") == 1)
            & (F.col("max_ln") == F.col("n_lines"))
            & (F.col("nd_ln") == F.col("n_lines"))
        ).alias("is_consecutive"),
    )


SQL_SEQUENTIAL_LINEITEM = """
SELECT l_orderkey,
       count(*) AS n_lines,
       min(l_linenumber) AS min_ln,
       max(l_linenumber) AS max_ln,
       (min(l_linenumber) = 1 AND max(l_linenumber) = count(*)
        AND count(DISTINCT l_linenumber) = count(*)) AS is_consecutive
FROM lineitem GROUP BY l_orderkey
"""

# --------------------------------------------------------------------------
# 4. Referential integrity, both directions (J1/J4; anti-joins)
# --------------------------------------------------------------------------

def q_ref_integrity_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer")
    orphans = ev.select(F.col("user_id")).join(
        F.broadcast(cust.select(F.col("c_custkey").alias("user_id"))), "user_id", "left_anti"
    )
    unused = cust.select("c_custkey").join(
        ev.select(F.col("user_id").alias("c_custkey")).distinct(), "c_custkey", "left_anti"
    )
    return orphans.agg(F.count(F.lit(1)).alias("n_orphan_events")).crossJoin(
        unused.agg(F.count(F.lit(1)).alias("n_unused_customers"))
    )


SQL_REF_INTEGRITY_EVENTS = """
SELECT
  (SELECT count(*) FROM events e WHERE NOT EXISTS
     (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)) AS n_orphan_events,
  (SELECT count(*) FROM customer c WHERE NOT EXISTS
     (SELECT 1 FROM events e WHERE e.user_id = c.c_custkey)) AS n_unused_customers
"""

# --------------------------------------------------------------------------
# 5. Monotonicity per group (W-family; lag windows, unique tie-break)
# --------------------------------------------------------------------------

def q_monotone_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = ev.select(
        "user_id", "value", F.lag("value").over(w).alias("prev_value")
    )
    return (
        lagged.groupBy("user_id")
        .agg(
            F.count("prev_value").alias("n_pairs"),
            F.sum(F.when(F.col("value") < F.col("prev_value"), 1).otherwise(0)).alias("n_decreases"),
        )
        .where(F.col("n_decreases") > 0)
        .select("user_id", "n_pairs", "n_decreases")
    )


SQL_MONOTONE_EVENTS = """
WITH lagged AS (
  SELECT user_id, value,
         lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
  FROM events
)
SELECT user_id, count(prev_value) AS n_pairs,
       CAST(sum(CASE WHEN value < prev_value THEN 1 ELSE 0 END) AS BIGINT) AS n_decreases
FROM lagged GROUP BY user_id HAVING sum(CASE WHEN value < prev_value THEN 1 ELSE 0 END) > 0
"""

# --------------------------------------------------------------------------
# 6. Transition grammar (W4): adjacent event_type pairs per user
# --------------------------------------------------------------------------

def q_grammar_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        "user_id", "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).where(F.col("prev_type").isNotNull())
    return (
        pairs.groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


SQL_GRAMMAR_EVENTS = """
WITH lagged AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
)
SELECT prev_type, event_type AS next_type, count(*) AS n_transitions
FROM lagged WHERE prev_type IS NOT NULL GROUP BY prev_type, event_type
"""

# --------------------------------------------------------------------------
# 7. Categorical level audit, both directions (A6; double anti-join)
# --------------------------------------------------------------------------

DECLARED_EVENT_TYPES = ["click", "view", "purchase", "signup", "login"]


def q_levels_audit_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    declared = spark.createDataFrame([(v,) for v in DECLARED_EVENT_TYPES], "event_type string")
    used = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_rows"))
    undeclared = used.join(F.broadcast(declared), "event_type", "left_anti").select(
        "event_type", F.lit("undeclared").alias("problem"), "n_rows"
    )
    unused = declared.join(used.select("event_type"), "event_type", "left_anti").select(
        "event_type", F.lit("unused").alias("problem"), F.lit(0).cast("long").alias("n_rows")
    )
    return undeclared.unionByName(unused)


SQL_LEVELS_AUDIT_EVENTS = """
WITH declared AS (SELECT unnest(['click','view','purchase','signup','login']) AS event_type),
     used AS (SELECT event_type, count(*) AS n_rows FROM events GROUP BY event_type)
SELECT u.event_type, 'undeclared' AS problem, u.n_rows
FROM used u WHERE u.event_type NOT IN (SELECT event_type FROM declared)
UNION ALL
SELECT d.event_type, 'unused' AS problem, CAST(0 AS BIGINT) AS n_rows
FROM declared d WHERE d.event_type NOT IN (SELECT event_type FROM used)
"""

# --------------------------------------------------------------------------
# 8. Extent vs bounds (A2; reference extent.py:121-161)
# --------------------------------------------------------------------------

def q_extent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.agg(
        F.min("o_totalprice").cast("double").alias("min_price"),
        F.max("o_totalprice").cast("double").alias("max_price"),
        F.min("o_orderdate").cast("string").alias("min_date"),
        F.max("o_orderdate").cast("string").alias("max_date"),
        (F.min("o_totalprice") >= 0).alias("price_lo_ok"),
        (F.max("o_totalprice") < 1000000).alias("price_hi_ok"),
        (F.min("o_orderdate") >= F.lit("1992-01-01").cast("timestamp")).alias("date_lo_ok"),
    )


SQL_EXTENT_ORDERS = """
SELECT CAST(min(o_totalprice) AS DOUBLE) AS min_price,
       CAST(max(o_totalprice) AS DOUBLE) AS max_price,
       CAST(min(o_orderdate) AS VARCHAR) AS min_date,
       CAST(max(o_orderdate) AS VARCHAR) AS max_date,
       min(o_totalprice) >= 0 AS price_lo_ok,
       max(o_totalprice) < 1000000 AS price_hi_ok,
       min(o_orderdate) >= TIMESTAMP '1992-01-01' AS date_lo_ok
FROM orders
"""

# --------------------------------------------------------------------------
# 9. Distribution drift: PSI + KS between two cohorts (north-rule addition).
#    Manual fixed-width bucketing (identical arithmetic both engines).
# --------------------------------------------------------------------------

PSI_LO, PSI_HI, PSI_BINS = 900.0, 105000.0, 20


def q_drift_psi_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    width = (PSI_HI - PSI_LO) / PSI_BINS
    bucket = F.least(
        F.greatest(F.floor((F.col("l_extendedprice") - PSI_LO) / width), F.lit(-1)),
        F.lit(PSI_BINS),
    )
    cohort = (F.col("l_orderkey") % 2 == 0).alias("is_even")
    hist = li.select(bucket.alias("bucket"), cohort).groupBy("bucket", "is_even").agg(
        F.count(F.lit(1)).alias("n")
    )
    pivoted = hist.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_even"), F.col("n")).otherwise(0)).alias("n_even"),
        F.sum(F.when(~F.col("is_even"), F.col("n")).otherwise(0)).alias("n_odd"),
    )
    tot = pivoted.agg(
        F.sum("n_even").alias("t_even"), F.sum("n_odd").alias("t_odd")
    )
    probs = pivoted.crossJoin(tot).select(
        "bucket",
        (F.col("n_even") / F.col("t_even")).alias("p"),
        (F.col("n_odd") / F.col("t_odd")).alias("q"),
    )
    # the window input is the HISTOGRAM (≤ bins+2 rows, already aggregated),
    # so one partition is correct and bounded (WindowExec's blanket warning
    # for it is silenced per-logger in session.build_session)
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cdf = probs.select(
        "p", "q", F.sum("p").over(w).alias("cp"), F.sum("q").over(w).alias("cq")
    )
    eps = 1e-6
    return cdf.agg(
        F.round(F.sum((F.col("p") - F.col("q")) * F.log((F.col("p") + eps) / (F.col("q") + eps))), 6).alias("psi"),
        F.round(F.max(F.abs(F.col("cp") - F.col("cq"))), 6).alias("ks"),
    )


SQL_DRIFT_PSI_LINEITEM = f"""
WITH b AS (
  SELECT least(greatest(floor((l_extendedprice - {PSI_LO}) / {(PSI_HI - PSI_LO) / PSI_BINS}), -1), {PSI_BINS}) AS bucket,
         (l_orderkey % 2 = 0) AS is_even
  FROM lineitem
), pv AS (
  SELECT bucket,
         sum(CASE WHEN is_even THEN 1 ELSE 0 END) AS n_even,
         sum(CASE WHEN is_even THEN 0 ELSE 1 END) AS n_odd
  FROM b GROUP BY bucket
), pr AS (
  SELECT bucket,
         n_even / (SELECT sum(n_even) FROM pv) AS p,
         n_odd / (SELECT sum(n_odd) FROM pv) AS q
  FROM pv
), c AS (
  SELECT p, q,
         sum(p) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp,
         sum(q) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cq
  FROM pr
)
SELECT round(sum((p - q) * ln((p + 1e-6) / (q + 1e-6))), 6) AS psi,
       round(max(abs(cp - cq)), 6) AS ks
FROM c
"""

# --------------------------------------------------------------------------
# 10-12. Relational anchors: TPC-H-style agg, join, top-k per group
# --------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice").cast(DEC) * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast(DEC)).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast(DEC)).cast("double").alias("sum_base_price"),
            F.sum(disc.cast("decimal(38,6)")).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast dimension join + decimal-exact revenue + deterministic top-10."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    rev = F.col("l_extendedprice").cast(DEC) * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .where(F.col("c_mktsegment") == "BUILDING")
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(rev.cast("decimal(38,6)")).cast("double").alias("revenue"))
    )
    return joined.orderBy(F.desc("revenue"), F.asc("l_orderkey")).limit(10)


SQL_TOP_REVENUE_ORDERS = """
SELECT l_orderkey, o_orderdate,
       CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def q_topk_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    return (
        p.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("p_brand", "p_partkey", F.col("p_retailprice").cast("double").alias("p_retailprice"), "rank")
    )


SQL_TOPK_PARTS_PER_BRAND = """
SELECT p_brand, p_partkey, CAST(p_retailprice AS DOUBLE) AS p_retailprice, rank FROM (
  SELECT p_brand, p_partkey, p_retailprice,
         row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey ASC) AS rank
  FROM part
) WHERE rank <= 3
"""

# --------------------------------------------------------------------------
# 13-16. Training-data text ops: exact dedup, n-gram jaccard, text stats,
#         language-ID
# --------------------------------------------------------------------------

def q_dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents", spread=True)
    norm = tx.normalize_text(F.col("text"))
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct(norm).alias("n_distinct_normalized"),
        (F.count(F.lit(1)) - F.count_distinct(norm)).alias("n_redundant_docs"),
    )


SQL_DEDUP_EXACT_DOCS = r"""
SELECT count(*) AS n_docs,
       count(DISTINCT trim(regexp_replace(regexp_replace(lower(coalesce(text,'')), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS n_distinct_normalized,
       count(*) - count(DISTINCT trim(regexp_replace(regexp_replace(lower(coalesce(text,'')), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS n_redundant_docs
FROM documents
"""


JACCARD_N = 5
JACCARD_THRESHOLD = 0.08
#: boilerplate frequency cut — a shingle present in more than this many docs
#: carries no discrimination and makes its self-join bucket quadratic
SHINGLE_MAX_DF = 20
#: embeddings table vector width (fixed by TESTDATA.md) — passed explicitly
#: so the LSH/IVF paths never probe it with an extra first() job
EMB_DIM = 64


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents", spread=True)
    # adaptive_cut: bounded probe, skips the no-op anti-join + second
    # full-shingle cache (EAGER_BY_DESIGN entry, see minhash_lsh_docs)
    pairs = dd.ngram_jaccard_pairs(
        d, "doc_id", "text", n=JACCARD_N, threshold=JACCARD_THRESHOLD,
        max_df=SHINGLE_MAX_DF, adaptive_cut=True,
    )
    return dd.carry(
        pairs,
        pairs.select(
            "id_a", "id_b", "n_common", "n_a", "n_b", F.round("jaccard", 6).alias("jaccard")
        ),
    )


SQL_DEDUP_NGRAM_JACCARD = f"""
WITH toks AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(regexp_replace(lower(coalesce(text,'')), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' ') AS t
  FROM documents
), sh0 AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+{JACCARD_N - 1}], ' ') AS shingle
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - {JACCARD_N - 1})) AS i)
  WHERE len(t) >= {JACCARD_N} AND shingle <> ''
), sh AS (
  SELECT s.* FROM sh0 s
  JOIN (SELECT shingle FROM sh0 GROUP BY shingle
        HAVING count(*) <= {SHINGLE_MAX_DF}) keep USING (shingle)
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b, n_common, sa.n_sh AS n_a, sb.n_sh AS n_b,
       round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= {JACCARD_THRESHOLD}
"""


def q_text_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents", spread=True)
    enriched = d.select(
        "lang",
        tx.ws_token_count(F.col("text")).alias("ws_tokens"),
        tx.bpe_token_count(F.col("text")).alias("bpe_tokens"),
        F.length(F.coalesce(F.col("text"), F.lit(""))).alias("n_chars"),
    )
    return (
        enriched.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ws_tokens").alias("total_ws_tokens"),
            F.sum("bpe_tokens").alias("total_bpe_tokens"),
            F.round(F.sum("n_chars") / F.count(F.lit(1)), 6).alias("avg_chars"),
        )
    )


SQL_TEXT_STATS_BY_LANG = rf"""
WITH e AS (
  SELECT lang,
         CASE WHEN trim(coalesce(text,'')) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(coalesce(text,'')), '\s+')) END AS ws_tokens,
         len(regexp_extract_all(coalesce(text,''), '{tx.TOKEN_REGEX}')) AS bpe_tokens,
         length(coalesce(text,'')) AS n_chars
  FROM documents
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(ws_tokens) AS BIGINT) AS total_ws_tokens,
       CAST(sum(bpe_tokens) AS BIGINT) AS total_bpe_tokens,
       round(sum(n_chars) / count(*), 6) AS avg_chars
FROM e GROUP BY lang
"""


def q_lang_id_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents", spread=True)
    return (
        d.select(tx.lang_id(F.col("text")).alias("detected_lang"))
        .groupBy("detected_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _sql_lang_scores() -> str:
    parts = []
    for lang, words in tx.LANG_MARKERS.items():
        rx = r"(?i)\b(" + "|".join(words) + r")\b"
        parts.append(f"len(regexp_extract_all(coalesce(text,''), '{rx}')) AS s_{lang}")
    return ", ".join(parts)


SQL_LANG_ID_DOCS = f"""
WITH s AS (SELECT {_sql_lang_scores()} FROM documents),
     d AS (
  SELECT CASE
    WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
    WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
    WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
    WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
    ELSE 'es' END AS detected_lang
  FROM s
)
SELECT detected_lang, count(*) AS n_docs FROM d GROUP BY detected_lang
"""

# --------------------------------------------------------------------------
# 17. Embedding similarity: exact cosine top-k (oracle via
#     list_cosine_similarity); LSH variants are rows-only checked
# --------------------------------------------------------------------------

TOPK_K = 5
TOPK_QUERY_MOD = 50


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings", spread=True)
    queries = e.where(F.col("vec_id") % TOPK_QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = sim.brute_force_topk(e, queries, k=TOPK_K)
    return out.select("query_id", "vec_id", F.round("sim", 4).alias("sim"), "rank")


SQL_EMBEDDING_TOPK = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % {TOPK_QUERY_MOD} = 0),
     scored AS (
  SELECT q.query_id, e.vec_id,
         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])) AS sim
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, vec_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, round(sim, 4) AS sim, rank FROM ranked WHERE rank <= {TOPK_K}
"""

# --------------------------------------------------------------------------
# 18. Hierarchy closure + congruence (J6-J10): region→nation→customer as a
#     3-level hierarchy; closure built by the engine's path-doubling fixpoint,
#     oracled by a recursive CTE.
# --------------------------------------------------------------------------

def q_hierarchy_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ancestor closure over the TPC-H geography tree (customers under
    nations under regions), via engine.hierarchy.build_closure. node_id
    encoding keeps the three key spaces disjoint: region r → r,
    nation n → 100 + n, customer c → 1000 + c."""
    from safedata_validator_spark.engine.hierarchy import build_closure

    r = _t(spark, sf_dir, "region").select(
        F.col("r_regionkey").cast("long").alias("node_id"),
        F.lit(None).cast("long").alias("parent_id"),
    )
    n = _t(spark, sf_dir, "nation").select(
        (F.col("n_nationkey") + 100).cast("long").alias("node_id"),
        F.col("n_regionkey").cast("long").alias("parent_id"),
    )
    c = _t(spark, sf_dir, "customer").select(
        (F.col("c_custkey") + 1000).cast("long").alias("node_id"),
        (F.col("c_nationkey") + 100).cast("long").alias("parent_id"),
    )
    closure = build_closure(r.unionByName(n).unionByName(c))
    return closure.groupBy("depth").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.min("node_id").alias("min_node"),
        F.max("node_id").alias("max_node"),
    )


SQL_HIERARCHY_CLOSURE = """
WITH RECURSIVE nodes AS (
  SELECT CAST(r_regionkey AS BIGINT) AS node_id, CAST(NULL AS BIGINT) AS parent_id FROM region
  UNION ALL
  SELECT CAST(n_nationkey + 100 AS BIGINT), CAST(n_regionkey AS BIGINT) FROM nation
  UNION ALL
  SELECT CAST(c_custkey + 1000 AS BIGINT), CAST(c_nationkey + 100 AS BIGINT) FROM customer
), closure AS (
  SELECT node_id, node_id AS ancestor_id, 0 AS depth FROM nodes
  UNION ALL
  SELECT c.node_id, n.parent_id AS ancestor_id, c.depth + 1
  FROM closure c JOIN nodes n ON c.ancestor_id = n.node_id
  WHERE n.parent_id IS NOT NULL
)
SELECT depth, count(*) AS n_pairs, min(node_id) AS min_node, max(node_id) AS max_node
FROM closure GROUP BY depth
"""

# --------------------------------------------------------------------------
# 18a. Hierarchy congruence (J8-J10; reference taxa.py:1440-1453): facts
#      claim (child, ancestor) name pairs checked against the closure of the
#      TPC-H geography tree; the oracle rebuilds the closure recursively.
# --------------------------------------------------------------------------

def q_hierarchy_congruence_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine path: validate() over a hierarchy_congruence rule. Customers
    claim ("N"+nationkey, "R"+(custkey%7)): residues 5-6 are unknown
    ancestors, residues 0-4 are real regions but only sometimes the right
    one."""
    from safedata_validator_spark.engine.hierarchy import build_closure
    from safedata_validator_spark.engine.validator import ValidationEngine
    from safedata_validator_spark.rules.model import Rule, RuleSet

    r = _t(spark, sf_dir, "region").select(
        F.col("r_regionkey").cast("long").alias("node_id"),
        F.lit(None).cast("long").alias("parent_id"),
        F.concat(F.lit("R"), F.col("r_regionkey").cast("string")).alias("name"),
    )
    n = _t(spark, sf_dir, "nation").select(
        (F.col("n_nationkey") + 100).cast("long").alias("node_id"),
        F.col("n_regionkey").cast("long").alias("parent_id"),
        F.concat(F.lit("N"), F.col("n_nationkey").cast("string")).alias("name"),
    )
    nodes = r.unionByName(n)
    closure = build_closure(nodes.select("node_id", "parent_id"))

    cust = _t(spark, sf_dir, "customer")
    claims = cust.select(
        F.concat(F.lit("N"), F.col("c_nationkey").cast("string")).alias("child"),
        F.concat(F.lit("R"), (F.col("c_custkey") % 7).cast("string")).alias("anc"),
    )
    rule = Rule("geo.hierarchy", "hierarchy_congruence", severity="ERROR",
                params={"nodes_dim": "nodes", "closure_dim": "closure",
                        "child_col": "child", "ancestor_col": "anc"})
    rs = RuleSet(name="hc", key_cols=["child"], scope="'all'", rules=[rule])
    dims = {"nodes": nodes, "closure": closure}
    out = ValidationEngine().validate(claims, rs, dims, with_stats=False).violations
    return out.orderBy("entity")


SQL_HIERARCHY_CONGRUENCE_EVENTS = """
WITH RECURSIVE nodes AS (
  SELECT CAST(r_regionkey AS BIGINT) AS node_id, CAST(NULL AS BIGINT) AS parent_id,
         'R' || r_regionkey AS name
  FROM region
  UNION ALL
  SELECT CAST(n_nationkey + 100 AS BIGINT), CAST(n_regionkey AS BIGINT),
         'N' || n_nationkey
  FROM nation
), closure AS (
  SELECT node_id, node_id AS ancestor_id FROM nodes
  UNION ALL
  SELECT c.node_id, n.parent_id
  FROM closure c JOIN nodes n ON c.ancestor_id = n.node_id
  WHERE n.parent_id IS NOT NULL
), claims AS (
  SELECT 'N' || c_nationkey AS child, 'R' || (c_custkey % 7) AS anc, count(*) AS n
  FROM customer GROUP BY 1, 2
), resolved AS (
  SELECT cl.child, cl.anc, cl.n, cn.node_id AS cid, an.node_id AS aid,
         (SELECT 1 FROM closure x WHERE x.node_id = cn.node_id
            AND x.ancestor_id = an.node_id) AS ok
  FROM claims cl
  LEFT JOIN nodes cn ON cn.name = cl.child
  LEFT JOIN nodes an ON an.name = cl.anc
)
SELECT 'geo.hierarchy' AS rule_id, 'ERROR' AS severity, 'all' AS scope,
       'child=' || child || '/anc=' || anc AS entity,
       'child' AS "column", anc AS value,
       CASE WHEN cid IS NULL THEN 'unknown node: ' || child
            WHEN aid IS NULL THEN 'unknown ancestor: ' || anc
            ELSE anc || ' is not an ancestor of ' || child || ' (' || n || ' rows)'
       END AS message
FROM resolved WHERE ok IS NULL
ORDER BY entity
"""

# --------------------------------------------------------------------------
# 18b. Taxon-style name resolution (J6; reference taxa.py:356-412 status
#      disambiguation + the validate_and_add_taxon decision table): events
#      claim synthetic (name, rank) pairs against a nations-derived dimension
#      with planted synonym / ambiguous / missing cases; the oracle replays
#      the decision table as a SQL window.
# --------------------------------------------------------------------------

def q_name_resolution_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine path: validate() over a name_resolution rule with
    deterministic claims. Dimension statuses by nationkey: %7==3 → synonym,
    else %5==2 → doubtful with a planted second doubtful usage (→
    ambiguous); claims cover user_id % 32, so residues ≥ 25 miss the
    25-nation dimension."""
    from safedata_validator_spark.engine.validator import ValidationEngine
    from safedata_validator_spark.rules.model import Rule, RuleSet

    nat = _t(spark, sf_dir, "nation")
    k = F.col("n_nationkey").cast("long")
    status = (
        F.when(k % 7 == 3, "synonym").when(k % 5 == 2, "doubtful").otherwise("accepted")
    )
    base = nat.select(
        k.alias("node_id"),
        F.concat(F.lit("NATION_"), k.cast("string")).alias("name"),
        F.lit("nation").alias("rank"),
        status.alias("status"),
    )
    twins = nat.where((k % 5 == 2) & (k % 7 != 3)).select(
        (k + 100).alias("node_id"),
        F.concat(F.lit("NATION_"), k.cast("string")).alias("name"),
        F.lit("nation").alias("rank"),
        F.lit("doubtful").alias("status"),
    )
    dim = base.unionByName(twins)

    ev = _t(spark, sf_dir, "events")
    claims = ev.select(
        F.concat(F.lit("NATION_"), (F.col("user_id") % 32).cast("string")).alias("name"),
        F.lit("nation").alias("rank"),
    )
    rule = Rule("name_resolution", "name_resolution", severity="ERROR",
                params={"dim": "taxa", "name_col": "name", "rank_col": "rank"})
    rs = RuleSet(name="nr", key_cols=["name"], scope="'all'", rules=[rule])
    return ValidationEngine().validate(claims, rs, {"taxa": dim}, with_stats=False).violations


SQL_NAME_RESOLUTION_EVENTS = """
WITH dim AS (
  SELECT CAST(n_nationkey AS BIGINT) AS node_id,
         'NATION_' || CAST(n_nationkey AS BIGINT) AS name,
         CASE WHEN n_nationkey % 7 = 3 THEN 'synonym'
              WHEN n_nationkey % 5 = 2 THEN 'doubtful'
              ELSE 'accepted' END AS status
  FROM nation
  UNION ALL
  SELECT CAST(n_nationkey + 100 AS BIGINT), 'NATION_' || CAST(n_nationkey AS BIGINT), 'doubtful'
  FROM nation WHERE n_nationkey % 5 = 2 AND n_nationkey % 7 <> 3
), pri AS (
  SELECT *, CASE status WHEN 'accepted' THEN 0 WHEN 'doubtful' THEN 1 ELSE 2 END AS prio
  FROM dim
), pref AS (
  SELECT name, node_id, status, prio,
         row_number() OVER (PARTITION BY name ORDER BY prio, node_id) AS rn,
         count(*) OVER (PARTITION BY name, prio) AS nbest
  FROM pri QUALIFY rn = 1
), claims AS (
  SELECT 'NATION_' || (user_id % 32) AS name, count(*) AS n
  FROM events GROUP BY 1
), resolved AS (
  SELECT c.name, c.n,
         CASE WHEN p.node_id IS NULL THEN 'missing'
              WHEN p.nbest > 1 AND p.prio > 0 THEN 'ambiguous'
              WHEN p.status = 'synonym' THEN 'synonym'
              ELSE 'found' END AS match_status
  FROM claims c LEFT JOIN pref p ON c.name = p.name
)
SELECT 'name_resolution.' || match_status AS rule_id,
       CASE WHEN match_status = 'synonym' THEN 'WARNING' ELSE 'ERROR' END AS severity,
       'all' AS scope,
       'name=' || name || '/rank=nation' AS entity,
       'name' AS "column",
       name AS value,
       'name resolution: ' || match_status || ' for (' || name || ', nation) ('
         || n || ' rows)' AS message
FROM resolved WHERE match_status <> 'found'
"""

# --------------------------------------------------------------------------
# 19. Sessionization (gap > 30 min splits a session) — the lag+cumsum window
#     composition; per-user session stats.
# --------------------------------------------------------------------------

SESSION_GAP_SEC = 1800


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    marked = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(gap.isNull() | (gap > SESSION_GAP_SEC), 1).otherwise(0).alias("is_new"),
    )
    sess = marked.select(
        "user_id",
        "ts",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("session_no"),
    )
    per_session = sess.groupBy("user_id", "session_no").agg(F.count(F.lit(1)).alias("n_events"))
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.max("n_events").alias("max_session_events"),
        F.sum("n_events").alias("n_events"),
    )


SQL_SESSIONIZE_EVENTS = f"""
WITH marked AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > {SESSION_GAP_SEC}
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
  FROM marked
), per_session AS (
  SELECT user_id, session_no, count(*) AS n_events FROM sess GROUP BY user_id, session_no
)
SELECT user_id, count(*) AS n_sessions, max(n_events) AS max_session_events,
       CAST(sum(n_events) AS BIGINT) AS n_events
FROM per_session GROUP BY user_id
"""

# --------------------------------------------------------------------------
# 21. Quality scoring per document (pretraining-corpus filter battery)
# --------------------------------------------------------------------------

def q_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents", spread=True)
    return d.select(
        "doc_id",
        F.round(tx.quality_score(F.col("text")), 6).alias("quality"),
        tx.ws_token_count(F.col("text")).alias("ws_tokens"),
    )


def _sql_quality() -> str:
    stop_rx = r"(?i)\b(" + "|".join(tx.STOPWORDS_EN) + r")\b"
    return rf"""
WITH e AS (
  SELECT doc_id,
         coalesce(text,'') AS t,
         length(coalesce(text,'')) AS n_chars,
         greatest(length(coalesce(text,'')), 1) AS safe,
         length(regexp_replace(coalesce(text,''), '[^A-Za-z]', '', 'g')) AS n_alpha,
         length(regexp_replace(coalesce(text,''), '[^.,;:!?''"()\[\]{{}}]', '', 'g')) AS n_punct,
         CASE WHEN trim(coalesce(text,'')) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(coalesce(text,'')), '\s+')) END AS n_tok,
         len(regexp_extract_all(coalesce(text,''), '{stop_rx}')) AS n_stop
  FROM documents
)
SELECT doc_id,
       round(0.25 * (
         least(CAST(n_chars AS DOUBLE) / 500.0, 1.0)
         + CAST(n_alpha AS DOUBLE) / safe
         + (1.0 - least(3.0 * CAST(n_punct AS DOUBLE) / safe, 1.0))
         + least(5.0 * CAST(n_stop AS DOUBLE) / greatest(n_tok, 1), 1.0)
       ), 6) AS quality,
       CAST(n_tok AS INT) AS ws_tokens
FROM e
"""


SQL_QUALITY_DOCS = _sql_quality()

# --------------------------------------------------------------------------
# Rows-only checked (hash-based / engine-native; no SQL equivalent)
# --------------------------------------------------------------------------

def q_minhash_lsh_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs. Oracled by the exact-Jaccard SQL: at the
    catalog banding (num_perm=64, bands=16 → r=4) a pair at jaccard s is
    banded with probability 1-(1-s^4)^16 ≈ 1 for the planted near-dups
    (s ≥ 0.95), so candidates+verify reproduce the exact pair set."""
    d = _t(spark, sf_dir, "documents", spread=True)
    # adaptive_cut: one bounded probe job proves the max_df cut a no-op
    # (zero shingles exceed df=20 on this corpus — measured) and skips the
    # |shingles|-row repack shuffle + second cache entirely; the probe
    # also materializes the compact-array cache up front, so the later
    # concurrent AQE stages read it instead of racing to compute it.
    # Catalog entry is EAGER_BY_DESIGN for this (tests/test_plans.py).
    out = dd.minhash_lsh_dedup(
        d, "doc_id", "text", n=JACCARD_N, threshold=JACCARD_THRESHOLD,
        max_df=SHINGLE_MAX_DF, adaptive_cut=True,
    )
    return dd.carry(
        out, out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


#: shared CTE chain producing the exact-Jaccard near-dup pair set (the SQL
#: oracle for both the LSH pair query and the cluster query built on it)
_JACCARD_PAIR_CTES = f"""toks AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(regexp_replace(lower(coalesce(text,'')), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' ') AS t
  FROM documents
), sh0 AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+{JACCARD_N - 1}], ' ') AS shingle
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - {JACCARD_N - 1})) AS i)
  WHERE len(t) >= {JACCARD_N} AND shingle <> ''
), sh AS (
  SELECT s.* FROM sh0 s
  JOIN (SELECT shingle FROM sh0 GROUP BY shingle
        HAVING count(*) <= {SHINGLE_MAX_DF}) keep USING (shingle)
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)"""

SQL_MINHASH_LSH_DOCS = f"""
WITH {_JACCARD_PAIR_CTES}
SELECT id_a, id_b,
       round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= {JACCARD_THRESHOLD}
"""


def q_dedup_clusters_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS from near-dup pairs: MinHash-LSH pairs (same
    banding soundness argument as minhash_lsh_docs) fed through alternating
    large-star/small-star connected components
    (functions.dedup.connected_components) → one row per transitive cluster
    (component = min member id, n_members, sorted member_ids). The oracle
    recomputes the exact-Jaccard pair set in SQL and closes it with a
    recursive CTE — min-label transitive closure."""
    d = _t(spark, sf_dir, "documents", spread=True)
    pairs = dd.minhash_lsh_dedup(
        d, "doc_id", "text", n=JACCARD_N, threshold=JACCARD_THRESHOLD,
        max_df=SHINGLE_MAX_DF, adaptive_cut=True,
    )
    out = dd.dup_clusters(pairs)
    # member list rendered as CSV: engines disagree on array cell rendering
    # (numpy vs list) but not on strings, keeping the value hash portable
    return dd.carry(
        out,
        out.select(
            "component", "n_members", F.array_join("member_ids", ",").alias("member_ids")
        ),
    )


SQL_DEDUP_CLUSTERS_DOCS = f"""
WITH RECURSIVE {_JACCARD_PAIR_CTES}, pairs AS (
  SELECT id_a, id_b FROM common
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= {JACCARD_THRESHOLD}
), dedges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
), reach(id, comp) AS (
  SELECT src, src FROM dedges
  UNION
  SELECT e.dst, r.comp FROM reach r JOIN dedges e ON e.src = r.id
), labels AS (
  SELECT id, min(comp) AS component FROM reach GROUP BY id
)
SELECT component, CAST(count(*) AS BIGINT) AS n_members,
       array_to_string(list_sort(list(id)), ',') AS member_ids
FROM labels GROUP BY component
"""


def q_simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents", spread=True)
    return dd.simhash_near_pairs(d, "doc_id", "text", max_hamming=12)


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings", spread=True)
    # dim=EMB_DIM: without it embedding_near_dup_pairs probes the vector
    # width with a first() — a full hidden execution of the upstream plan
    # at every call (VERDICT r02 §wrong 1)
    out = sim.embedding_near_dup_pairs(e, threshold=0.3, nbits=8, dim=EMB_DIM)
    return out.select("id_a", "id_b", F.round("sim", 6).alias("sim"))


def q_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no spread: the pre-exchange work here is one numpy-vectorized bucket
    # UDF (light per row); measured, the extra exchange + 32-way Arrow
    # fan-out costs more than the parallelism buys (0.69 s -> 1.19 s)
    e = _t(spark, sf_dir, "embeddings")
    queries = e.where(F.col("vec_id") % TOPK_QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = sim.lsh_topk(e, queries, k=TOPK_K, nbits=8, probe_hamming=1, dim=EMB_DIM)
    return out.select("query_id", "vec_id", F.round("sim", 4).alias("sim"), "rank")


CURATE_LANGS = ("en", "fr")
CURATE_MIN_QUALITY = 0.3
CURATE_NEARDUP_T = 0.5


def q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation (functions.pipeline): exact dedup →
    near-dup removal (exact shingle join here, so the WHOLE pipeline is
    SQL-oracle-gated; method='minhash' is the at-scale swap) → language
    whitelist → quality floor."""
    from safedata_validator_spark.functions.pipeline import curate_documents

    d = _t(spark, sf_dir, "documents", spread=True)
    return curate_documents(
        d, "doc_id", "text",
        min_quality=CURATE_MIN_QUALITY, langs=CURATE_LANGS,
        near_dup_threshold=CURATE_NEARDUP_T, n=JACCARD_N, method="exact",
    )


def _sql_curate(near_dup_mode: str = "pairs") -> str:
    stop_rx = r"(?i)\b(" + "|".join(tx.STOPWORDS_EN) + r")\b"
    lang_case = """CASE
    WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
    WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
    WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
    WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
    ELSE 'es' END"""
    lang_scores = ", ".join(
        "len(regexp_extract_all(coalesce(text,''), '"
        + r"(?i)\b(" + "|".join(words) + r")\b"
        + f"')) AS s_{lang}"
        for lang, words in tx.LANG_MARKERS.items()
    )
    langs_in = ", ".join(f"'{v}'" for v in CURATE_LANGS)
    if near_dup_mode == "cluster":
        dropped = f"""pairs AS (
  SELECT id_a, id_b FROM common
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= {CURATE_NEARDUP_T}
), dedges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
), reach(rid, comp) AS (
  SELECT src, src FROM dedges
  UNION
  SELECT e.dst, r.comp FROM reach r JOIN dedges e ON e.src = r.rid
), labels AS (
  SELECT rid, min(comp) AS component FROM reach GROUP BY rid
), dropped AS (
  SELECT rid AS id_b FROM labels WHERE rid <> component
)"""
    else:
        dropped = f"""dropped AS (
  SELECT DISTINCT id_b FROM common
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= {CURATE_NEARDUP_T}
)"""
    recursive = "RECURSIVE " if near_dup_mode == "cluster" else ""
    return rf"""
WITH {recursive}norm AS (
  SELECT doc_id, text,
         trim(regexp_replace(regexp_replace(lower(coalesce(text,'')), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS nrm
  FROM documents
), exact_kept AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text, min(doc_id) OVER (PARTITION BY nrm) AS keep FROM norm
  ) WHERE doc_id = keep
), toks AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(regexp_replace(lower(coalesce(text,'')), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS t
  FROM exact_kept
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+{JACCARD_N - 1}], ' ') AS shingle
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - {JACCARD_N - 1})) AS i)
  WHERE len(t) >= {JACCARD_N} AND shingle <> ''
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), {dropped}, survivors AS (
  SELECT doc_id, text FROM exact_kept
  WHERE doc_id NOT IN (SELECT id_b FROM dropped)
), scored AS (
  SELECT doc_id, text, {lang_scores} FROM survivors
), enriched AS (
  SELECT doc_id AS id,
         {lang_case} AS lang,
         round(0.25 * (
           least(CAST(length(coalesce(text,'')) AS DOUBLE) / 500.0, 1.0)
           + CAST(length(regexp_replace(coalesce(text,''), '[^A-Za-z]', '', 'g')) AS DOUBLE) / greatest(length(coalesce(text,'')), 1)
           + (1.0 - least(3.0 * CAST(length(regexp_replace(coalesce(text,''), '[^.,;:!?''"()\[\]{{}}]', '', 'g')) AS DOUBLE) / greatest(length(coalesce(text,'')), 1), 1.0))
           + least(5.0 * CAST(len(regexp_extract_all(coalesce(text,''), '{stop_rx}')) AS DOUBLE) / greatest(CASE WHEN trim(coalesce(text,'')) = '' THEN 0 ELSE len(regexp_split_to_array(trim(coalesce(text,'')), '\s+')) END, 1), 1.0)
         ), 6) AS quality,
         CAST(CASE WHEN trim(coalesce(text,'')) = '' THEN 0 ELSE len(regexp_split_to_array(trim(coalesce(text,'')), '\s+')) END AS INT) AS ws_tokens
  FROM scored
)
SELECT id, lang, quality, ws_tokens FROM enriched
WHERE lang IN ({langs_in}) AND quality >= {CURATE_MIN_QUALITY}
"""


SQL_CURATE_CORPUS = _sql_curate()
SQL_CURATE_CORPUS_CLUSTER = _sql_curate(near_dup_mode="cluster")


def q_curate_corpus_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation pipeline with one-per-cluster near-dup removal
    (near_dup_mode='cluster'): detector pairs close into connected
    components and only each component's min id survives — vs the 'pairs'
    gate above, members of a transitive cluster that were never directly
    paired are now dropped too. Oracle = the same full-composition SQL
    with a recursive-CTE closure replacing the pairwise drop list."""
    from safedata_validator_spark.functions.pipeline import curate_documents

    d = _t(spark, sf_dir, "documents", spread=True)
    out = curate_documents(
        d,
        "doc_id",
        "text",
        min_quality=CURATE_MIN_QUALITY,
        langs=CURATE_LANGS,
        near_dup_threshold=CURATE_NEARDUP_T,
        n=JACCARD_N,
        method="exact",
        near_dup_mode="cluster",
    )
    return out


# --------------------------------------------------------------------------
# Training-pipeline hygiene: decontamination, PII audit, deterministic split
# --------------------------------------------------------------------------

#: eval "benchmark" slice for the decontamination gate — two of the twenty
#: synthetic sources stand in for a held-out eval corpus
DECON_EVAL_SOURCES = ("src0", "src1")
DECON_N = JACCARD_N
#: split weights for the corpus_split gate (resolved to /10_000 buckets)
SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}
SAMPLE_FRACTION = 0.2


def q_decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination (functions.dedup.decontaminate): training
    docs sharing ≥1 word n-gram with the eval slice, with the distinct
    contaminated-n-gram count. Eval n-gram hashes broadcast; the training
    side is never shuffled before the per-doc count."""
    d = _t(spark, sf_dir, "documents", spread=True)
    ev = d.where(F.col("source").isin(*DECON_EVAL_SOURCES))
    tr = d.where(~F.col("source").isin(*DECON_EVAL_SOURCES))
    out = dd.decontaminate(tr, ev, "doc_id", "text", n=DECON_N)
    return out.select(F.col("id").alias("doc_id"), "n_hits")


SQL_DECONTAMINATE_DOCS = rf"""
WITH toks AS (
  SELECT doc_id, source,
         string_split(trim(regexp_replace(regexp_replace(lower(coalesce(text,'')), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS t
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id, source, array_to_string(t[i:i+{DECON_N - 1}], ' ') AS shingle
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - {DECON_N - 1})) AS i)
  WHERE len(t) >= {DECON_N} AND shingle <> ''
), ev AS (
  SELECT DISTINCT shingle FROM sh WHERE source IN ('src0', 'src1')
)
SELECT s.doc_id, count(*) AS n_hits
FROM sh s JOIN ev USING (shingle)
WHERE s.source NOT IN ('src0', 'src1')
GROUP BY s.doc_id
HAVING count(*) >= 1
"""


def q_pii_audit_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + scrub verification (functions.pii) over a corpus
    with deterministically injected PII (the synthetic documents carry
    none, so the gate plants emails/IPs/phones/SSNs itself — every count
    below has an arithmetically computable expectation). Aggregated per
    source: docs carrying each class, total matches, and the total
    scrubbed-length delta."""
    from safedata_validator_spark.functions import pii

    d = _t(spark, sf_dir, "documents", spread=True)
    doc_id = F.col("doc_id")
    injected = F.when(
        doc_id % 7 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"), doc_id.cast("string"), F.lit("@example.com"),
            F.lit(" ip 10.0."), (doc_id % 256).cast("string"), F.lit(".17"),
            F.lit(" call 555-867-5309 ssn 123-45-6789"),
        ),
    ).otherwise(F.col("text"))
    audited = pii.pii_audit(
        d.select("source", doc_id.alias("doc_id"), injected.alias("text")),
        "doc_id", "text", keep=("source",),
    )
    return (
        audited.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("n_email") > 0).cast("int")).cast("bigint").alias("docs_with_email"),
            F.sum("n_email").cast("bigint").alias("total_email"),
            F.sum("n_ipv4").cast("bigint").alias("total_ipv4"),
            F.sum("n_phone").cast("bigint").alias("total_phone"),
            F.sum("n_ssn").cast("bigint").alias("total_ssn"),
            F.sum("n_card").cast("bigint").alias("total_card"),
            F.sum("chars_redacted").cast("bigint").alias("chars_redacted"),
        )
    )


def _sql_pii_audit() -> str:
    from safedata_validator_spark.functions import pii

    # DuckDB single-quoted strings take backslashes literally — the Java
    # pattern strings pass through verbatim (only quotes need doubling)
    pats = {k: v.replace("'", "''") for k, v in pii.PII_PATTERNS.items()}
    scrub = "coalesce(text,'')"
    for kind in pii.PII_PATTERNS:
        scrub = f"regexp_replace({scrub}, '{pats[kind]}', '{pii.PII_TOKENS[kind]}', 'g')"
    counts = ", ".join(
        f"len(regexp_extract_all(coalesce(text,''), '{pats[k]}')) AS n_{k}"
        for k in pii.PII_PATTERNS
    )
    return rf"""
WITH injected AS (
  SELECT source, doc_id,
         CASE WHEN doc_id % 7 = 0 THEN
           text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                || ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.17'
                || ' call 555-867-5309 ssn 123-45-6789'
         ELSE text END AS text
  FROM documents
), audited AS (
  SELECT source, doc_id, {counts},
         length(coalesce(text,'')) - length({scrub}) AS chars_redacted
  FROM injected
)
SELECT source, count(*) AS n_docs,
       CAST(sum(CASE WHEN n_email > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_email,
       CAST(sum(n_email) AS BIGINT) AS total_email,
       CAST(sum(n_ipv4) AS BIGINT) AS total_ipv4,
       CAST(sum(n_phone) AS BIGINT) AS total_phone,
       CAST(sum(n_ssn) AS BIGINT) AS total_ssn,
       CAST(sum(n_card) AS BIGINT) AS total_card,
       CAST(sum(chars_redacted) AS BIGINT) AS chars_redacted
FROM audited GROUP BY source
"""


SQL_PII_AUDIT_DOCS = _sql_pii_audit()


#: mixture-rebalance targets for the resample gate: src0 anchors (keeps all
#: 25 docs at uniform input), the other 15 sources are dropped. Ratios are
#: binary-exact so Spark and DuckDB floor identical doubles.
MIXTURE_TARGETS = {"src0": 4.0, "src1": 2.0, "src2": 1.0, "src3": 1.0, "src4": 0.5}
#: char budget per packed training sequence
PACK_BUDGET = 2000


def q_mixture_resample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mixture rebalancing (functions.sampling.mixture_resample):
    deterministically downsample sources to hit target mixture proportions,
    anchored by the stratum that keeps 100%. Reported per source."""
    from safedata_validator_spark.functions import sampling as sp

    d = _t(spark, sf_dir, "documents")
    out = sp.mixture_resample(d, "source", "doc_id", MIXTURE_TARGETS)
    return out.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.sum("n_chars").cast("bigint").alias("kept_chars"),
    )


def _sql_mixture_resample() -> str:
    from safedata_validator_spark.functions.sampling import BUCKETS

    vals = ", ".join(f"('{s}', {w})" for s, w in MIXTURE_TARGETS.items())
    bucket = (
        f"(('0x' || substr(md5('mixture' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT"
        f" % {BUCKETS})"
    )
    return rf"""
WITH tw(source, w) AS (VALUES {vals}),
counts AS (
  SELECT d.source, w, count(*) AS cnt
  FROM documents d JOIN tw USING (source) GROUP BY d.source, w
), kmin AS (
  SELECT min(cnt / w) AS k FROM counts
), rates AS (
  SELECT source, CAST(floor((w * k / cnt) * {BUCKETS}) AS INT) AS thr
  FROM counts, kmin
)
SELECT d.source, CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(n_chars) AS BIGINT) AS kept_chars
FROM documents d JOIN rates USING (source)
WHERE {bucket} < thr
GROUP BY d.source
"""


SQL_MIXTURE_RESAMPLE_DOCS = _sql_mixture_resample()


def q_pack_sequences_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (functions.sampling.pack_sequences):
    docs laid head-to-tail per source in doc_id order, cut into
    {PACK_BUDGET}-char sequences; rolled up per (source, seq_id). The
    running-sum window is bounded by the source partition — no global
    sort."""
    from safedata_validator_spark.functions import sampling as sp

    d = _t(spark, sf_dir, "documents")
    packed = sp.pack_sequences(d, "doc_id", "n_chars", PACK_BUDGET, part_cols=("source",))
    return (
        packed.groupBy("source", "seq_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("seq_units"),
            F.min("start_offset").alias("first_offset"),
        )
        .select(F.lit("chars").alias("size_basis"), "*")
    )


SQL_PACK_SEQUENCES_DOCS = f"""
WITH offs AS (
  SELECT source, CAST(doc_id AS BIGINT) AS doc_id, CAST(n_chars AS BIGINT) AS sz,
         CAST(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
              ROWS UNBOUNDED PRECEDING) - n_chars AS BIGINT) AS start_offset
  FROM documents
)
SELECT 'chars' AS size_basis, source,
       CAST(floor(start_offset / ({PACK_BUDGET} * 1.0)) AS BIGINT) AS seq_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(sz) AS BIGINT) AS seq_units,
       min(start_offset) AS first_offset
FROM offs GROUP BY source, seq_id
"""


#: blocked registrable domains for the URL-hygiene gate
URL_BLOCKLIST = ("site1.com", "site4.com")


def q_url_audit_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL hygiene (functions.urls) over deterministically injected links
    (the synthetic docs carry none): per-doc URL/host counts, the sorted
    host list, and whether the doc survives the domain blocklist —
    subdomains of a blocked domain are blocked too (sub.site1.com by
    site1.com). Value-exact over every doc."""
    from safedata_validator_spark.functions import urls

    d = _t(spark, sf_dir, "documents", spread=True)
    doc_id = F.col("doc_id")
    injected = F.concat(
        F.col("text"),
        F.when(
            doc_id % 5 == 0,
            F.concat(
                F.lit(" see https://sub.site"), (doc_id % 7).cast("string"),
                F.lit(".com/p"), doc_id.cast("string"),
                F.lit(" and http://ok.example.org done"),
            ),
        ).otherwise(F.lit("")),
    )
    docs = d.select("doc_id", injected.alias("text"))
    audit = urls.url_audit(docs, "doc_id", "text")
    blocklist = spark.createDataFrame(
        [(b,) for b in URL_BLOCKLIST], "domain string"
    )
    kept = urls.filter_blocked_domains(docs, "doc_id", "text", blocklist).select(
        "doc_id", F.lit(True).alias("survived")
    )
    return (
        audit.withColumnRenamed("id", "doc_id")
        .join(kept, "doc_id", "left")
        .na.fill({"survived": False})
    )


def _sql_url_audit() -> str:
    from safedata_validator_spark.functions.urls import URL_PATTERN

    bl = ", ".join(f"('{b}')" for b in URL_BLOCKLIST)
    pat = URL_PATTERN.replace("'", "''")
    return rf"""
WITH injected AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 5 = 0 THEN
           ' see https://sub.site' || CAST(doc_id % 7 AS VARCHAR)
           || '.com/p' || CAST(doc_id AS VARCHAR)
           || ' and http://ok.example.org done'
         ELSE '' END AS text
  FROM documents
), bl(domain) AS (VALUES {bl}),
extracted AS (
  SELECT doc_id, regexp_extract_all(coalesce(text,''), '{pat}') AS urls
  FROM injected
), hosts AS (
  SELECT doc_id,
         list_distinct(list_transform(urls,
           u -> lower(regexp_extract(u, 'https?://([A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*)', 1)))) AS hosts,
         len(urls) AS n_urls
  FROM extracted
), blocked AS (
  SELECT DISTINCT h.doc_id
  FROM hosts h, UNNEST(h.hosts) AS t(host), bl
  WHERE t.host = bl.domain OR t.host LIKE '%.' || bl.domain
)
SELECT h.doc_id, CAST(h.n_urls AS INT) AS n_urls,
       CAST(len(h.hosts) AS INT) AS n_hosts,
       coalesce(array_to_string(list_sort(h.hosts), ','), '') AS hosts,
       (b.doc_id IS NULL) AS survived
FROM hosts h LEFT JOIN blocked b ON b.doc_id = h.doc_id
"""


SQL_URL_AUDIT_DOCS = _sql_url_audit()


def q_corpus_split_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment + stratified subsample
    (functions.sampling): md5-bucket split (80/10/10) and an independent
    20% sample, reported per (source, split) with the sampled-doc count —
    pure row-local expressions, reproducible at any parallelism."""
    from safedata_validator_spark.functions import sampling as sp

    d = _t(spark, sf_dir, "documents")
    split = sp.hash_split(d, "doc_id", weights=SPLIT_WEIGHTS)
    base = split.groupBy("source", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )
    # aggregate the sample BEFORE joining: both join sides are per-stratum
    # rollups (|sources| x |splits| rows), never the corpus itself
    samp = (
        sp.stratified_sample(split, "doc_id", SAMPLE_FRACTION)
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sampled"))
    )
    return base.join(samp, ["source", "split"], "left").na.fill({"n_sampled": 0})


def _sql_corpus_split() -> str:
    from safedata_validator_spark.functions.sampling import BUCKETS

    def bucket(salt: str) -> str:
        return (
            f"(('0x' || substr(md5('{salt}' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT"
            f" % {BUCKETS})"
        )

    names = list(SPLIT_WEIGHTS)
    acc, cases = 0.0, []
    for name in names[:-1]:
        acc += SPLIT_WEIGHTS[name]
        cases.append(f"WHEN {bucket('split')} < {int(round(acc * BUCKETS))} THEN '{name}'")
    case = "CASE " + " ".join(cases) + f" ELSE '{names[-1]}' END"
    return rf"""
WITH assigned AS (
  SELECT source, n_chars, {case} AS split,
         CASE WHEN {bucket('sample')} < {int(round(SAMPLE_FRACTION * BUCKETS))} THEN 1 ELSE 0 END AS in_sample
  FROM documents
)
SELECT source, split, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(sum(in_sample) AS BIGINT) AS n_sampled
FROM assigned GROUP BY source, split
"""


SQL_CORPUS_SPLIT_DOCS = _sql_corpus_split()


def q_repetition_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition battery (functions.repetition): per-doc
    top/duplicate n-gram fractions (n=2,3) and duplicate-line fractions —
    row-local array arithmetic, zero shuffles. Value-exact over every doc."""
    from safedata_validator_spark.functions import repetition as rp

    d = _t(spark, sf_dir, "documents", spread=True)
    return rp.repetition_profile(d, "doc_id", "text", ns=(2, 3)).withColumnRenamed(
        "id", "doc_id"
    )


def _sql_repetition() -> str:
    norm = (
        r"list_filter(string_split(trim(regexp_replace(regexp_replace("
        r"lower(coalesce(text,'')), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), ' '),"
        r" x -> x <> '')"
    )
    gram_cte = """g{n} AS (
  SELECT doc_id, array_to_string(t[i:i+{m}], ' ') AS gram
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - {m})) AS i)
  WHERE len(t) >= {n}
), g{n}c AS (
  SELECT doc_id, gram, count(*) AS c FROM g{n} GROUP BY doc_id, gram
), g{n}s AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS total,
         CAST(count(*) AS BIGINT) AS dist, max(c) AS top
  FROM g{n}c GROUP BY doc_id
)"""
    return rf"""
WITH toks AS (
  SELECT doc_id, {norm} AS t,
         list_filter(list_transform(string_split(coalesce(text,''), chr(10)),
                     x -> trim(x)), x -> x <> '') AS lines
  FROM documents
), linestats AS (
  SELECT doc_id,
         CAST(len(lines) AS BIGINT) AS n_lines,
         CAST(len(list_distinct(lines)) AS BIGINT) AS n_dlines,
         CAST(coalesce(list_sum(list_transform(lines, x -> length(x))), 0) AS BIGINT) AS lchars,
         CAST(coalesce(list_sum(list_transform(list_distinct(lines), x -> length(x))), 0) AS BIGINT) AS dlchars,
         CAST(len(t) AS BIGINT) AS n_tokens
  FROM toks
), {gram_cte.format(n=2, m=1)}, {gram_cte.format(n=3, m=2)}
SELECT l.doc_id, l.n_tokens, l.n_lines,
       round((l.n_lines - l.n_dlines) / CAST(NULLIF(l.n_lines, 0) AS DOUBLE), 6) AS dup_line_frac,
       round((l.lchars - l.dlchars) / CAST(NULLIF(l.lchars, 0) AS DOUBLE), 6) AS dup_line_char_frac,
       coalesce(g2s.total, 0) AS g2_total, coalesce(g2s.dist, 0) AS g2_distinct,
       round(g2s.top / CAST(NULLIF(g2s.total, 0) AS DOUBLE), 6) AS top2gram_frac,
       round((g2s.total - g2s.dist) / CAST(NULLIF(g2s.total, 0) AS DOUBLE), 6) AS dup2gram_frac,
       coalesce(g3s.total, 0) AS g3_total, coalesce(g3s.dist, 0) AS g3_distinct,
       round(g3s.top / CAST(NULLIF(g3s.total, 0) AS DOUBLE), 6) AS top3gram_frac,
       round((g3s.total - g3s.dist) / CAST(NULLIF(g3s.total, 0) AS DOUBLE), 6) AS dup3gram_frac
FROM linestats l
LEFT JOIN g2s ON g2s.doc_id = l.doc_id
LEFT JOIN g3s ON g3s.doc_id = l.doc_id
"""


SQL_REPETITION_DOCS = _sql_repetition()


#: window length for the cross-document span-dedup / surgical-decon gates
#: (short enough that the synthetic corpus' planted duplicates produce
#: non-trivial merged spans at the driver's sf0.01)
SPAN_N = 12
#: eval slice for the surgical-decontamination gate: every 7th doc plays
#: the held-out benchmark, the rest are the training corpus
DECON_EVAL_MOD = 7

#: shared DuckDB normalisation + n-token-window CTE body (the SQL twin of
#: functions.text.normalize_text + functions.spans.window_hash_array, except
#: the oracle keeps the window TEXT instead of hashing — agreement therefore
#: also re-witnesses xxhash64 collision-freeness on the corpus)
_SQL_SPAN_NORM = """
  SELECT doc_id,
         CASE WHEN trim(regexp_replace(lower(coalesce(text,'')), '[^a-z0-9]+', ' ', 'g')) = ''
              THEN []
              ELSE string_split(trim(regexp_replace(lower(coalesce(text,'')), '[^a-z0-9]+', ' ', 'g')), ' ')
         END AS toks
  FROM documents
"""


def q_span_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact-substring span dedup (functions.spans — the
    Lee et al. 2022 suffix-array signal re-expressed as one map-side-
    combined window-hash groupBy): every maximal merged span of >= SPAN_N
    consecutive normalised tokens shared verbatim by 2+ documents,
    flattened to one row per span. Full live DuckDB oracle: windows by
    list slicing over the window TEXT, duplicates by HAVING min!=max,
    span merge by gaps-and-islands."""
    from safedata_validator_spark.functions import spans as sps

    d = _t(spark, sf_dir, "documents", spread=True)
    out = sps.duplicated_spans(d, "doc_id", "text", n=SPAN_N)
    flat = (
        out.select(
            F.col("id").alias("doc_id"),
            "n_tokens",
            F.explode("spans").alias("sp"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.col("sp.s").alias("span_start"),
            F.col("sp.e").alias("span_end"),
        )
    )
    return dd.carry(out, flat)


SQL_SPAN_DEDUP_DOCS = f"""
WITH norm AS ({_SQL_SPAN_NORM}),
wins AS (
  SELECT doc_id, u.pos - 1 AS pos,
         array_to_string(toks[u.pos:u.pos+{SPAN_N - 1}], ' ') AS w
  FROM norm, LATERAL unnest(range(1, greatest(len(toks)-{SPAN_N}+2, 1))) AS u(pos)),
dup AS (SELECT w FROM wins GROUP BY w HAVING min(doc_id) <> max(doc_id)),
hits AS (SELECT doc_id, pos FROM wins JOIN dup USING (w)),
marks AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= {SPAN_N}
              THEN 0 ELSE 1 END AS brk
  FROM hits),
isl AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g
        FROM marks),
merged AS (SELECT doc_id, min(pos) AS s, max(pos)+{SPAN_N}-1 AS e
           FROM isl GROUP BY doc_id, g)
SELECT m.doc_id,
       CAST(len(n.toks) AS INTEGER) AS n_tokens,
       CAST(m.s AS INTEGER) AS span_start,
       CAST(m.e AS INTEGER) AS span_end
FROM merged m JOIN norm n USING (doc_id)
"""


def q_decon_spans_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surgical decontamination (functions.spans.decontaminated_spans):
    locate eval-leaked passages in the training slice as merged maximal
    spans — the eval side's distinct window hashes broadcast against the
    row-locally exploded training windows, output bounded by leak volume.
    Eval slice = every DECON_EVAL_MOD-th doc; training = the rest. Full
    live DuckDB oracle over the same window/merge semantics."""
    from safedata_validator_spark.functions import spans as sps

    d = _t(spark, sf_dir, "documents", spread=True)
    train = d.where(F.col("doc_id") % DECON_EVAL_MOD != 0)
    ev = d.where(F.col("doc_id") % DECON_EVAL_MOD == 0)
    out = sps.decontaminated_spans(train, ev, "doc_id", "text", n=SPAN_N)
    flat = (
        out.select(
            F.col("id").alias("doc_id"),
            "n_tokens",
            F.explode("spans").alias("sp"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.col("sp.s").alias("span_start"),
            F.col("sp.e").alias("span_end"),
        )
    )
    return dd.carry(out, flat)


SQL_DECON_SPANS_DOCS = f"""
WITH norm AS ({_SQL_SPAN_NORM}),
wins AS (
  SELECT doc_id, u.pos - 1 AS pos,
         array_to_string(toks[u.pos:u.pos+{SPAN_N - 1}], ' ') AS w
  FROM norm, LATERAL unnest(range(1, greatest(len(toks)-{SPAN_N}+2, 1))) AS u(pos)),
ewins AS (SELECT DISTINCT w FROM wins WHERE doc_id % {DECON_EVAL_MOD} = 0),
hits AS (
  SELECT doc_id, pos FROM wins
  WHERE doc_id % {DECON_EVAL_MOD} <> 0 AND w IN (SELECT w FROM ewins)),
marks AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= {SPAN_N}
              THEN 0 ELSE 1 END AS brk
  FROM hits),
isl AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g
        FROM marks),
merged AS (SELECT doc_id, min(pos) AS s, max(pos)+{SPAN_N}-1 AS e
           FROM isl GROUP BY doc_id, g)
SELECT m.doc_id,
       CAST(len(n.toks) AS INTEGER) AS n_tokens,
       CAST(m.s AS INTEGER) AS span_start,
       CAST(m.e AS INTEGER) AS span_end
FROM merged m JOIN norm n USING (doc_id)
"""


#: interpolation weight for the LM-quality gate (CCNet-style bigram model)
LM_LAM = 0.9


def q_lm_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistical LM quality (functions.lm_quality): every doc
    scored with the interpolated bigram cross-entropy of the corpus's OWN
    statistics (self-scoring measures repetitiveness/templatedness — the
    CCNet signal with the corpus as its own reference). Full live DuckDB
    oracle: reference counts by GROUP BY over unnested token/bigram
    streams, the same interpolated probability, avg(-log2 p) per doc.
    Docs with < 2 tokens have NULL cross_entropy in both engines."""
    from safedata_validator_spark.functions import lm_quality as lmq

    # spread=False: the per-doc avg(-log2 p) sums doubles in occurrence
    # order, so the scan keeps its exact (unrepartitioned) lineage — a
    # changed addition order could flip the 6th rounded decimal against
    # the oracle (ADVICE r05 #4).
    d = _t(spark, sf_dir, "documents", spread=False)
    out = lmq.bigram_cross_entropy(d, "doc_id", "text", lam=LM_LAM)
    flat = out.select(
        F.col("id").alias("doc_id"),
        "n_tokens",
        "n_bigrams",
        "cross_entropy",
    )
    return dd.carry(out, flat)


SQL_LM_QUALITY_DOCS = f"""
WITH norm AS ({_SQL_SPAN_NORM}),
runi AS (SELECT u.w, count(*) AS c FROM norm, LATERAL unnest(toks) AS u(w) GROUP BY u.w),
rbg AS (SELECT toks[p.i] AS w1, toks[p.i+1] AS w2, count(*) AS c12
        FROM norm, LATERAL unnest(range(1, greatest(len(toks), 1))) AS p(i)
        GROUP BY 1, 2),
tot AS (SELECT sum(c) AS n, count(*) AS v FROM runi),
dbg AS (SELECT doc_id, toks[p.i] AS w1, toks[p.i+1] AS w2
        FROM norm, LATERAL unnest(range(1, greatest(len(toks), 1))) AS p(i)),
scored AS (
  SELECT doc_id, count(*) AS n_bigrams,
         avg(-log2({LM_LAM} * coalesce(rbg.c12 * 1.0 / u1.c, 0.0)
                   + {1.0 - LM_LAM} * (coalesce(u2.c, 0) + 1.0) / (tot.n + tot.v))) AS h
  FROM dbg
  LEFT JOIN rbg ON dbg.w1 = rbg.w1 AND dbg.w2 = rbg.w2
  LEFT JOIN runi u1 ON dbg.w1 = u1.w
  LEFT JOIN runi u2 ON dbg.w2 = u2.w
  CROSS JOIN tot
  GROUP BY doc_id)
SELECT n.doc_id,
       CAST(len(n.toks) AS INTEGER) AS n_tokens,
       CAST(coalesce(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       round(s.h, 6) AS cross_entropy
FROM norm n LEFT JOIN scored s USING (doc_id)
"""


def q_winnow_overlap_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-fingerprint overlap pairs (MOSS-style local-similarity
    detection): docs sharing ≥ min_common selected k-gram hashes. Explode +
    self equi-join on the fingerprint — the same scale shape as the shingle
    join, but over the winnowed (w× smaller) selection."""
    d = _t(spark, sf_dir, "documents", spread=True)
    # explode_OUTER: the plain explode triggers InferFiltersFromGenerate,
    # which pushes a size(...)>0 pre-filter below the projections with the
    # whole winnowing chain INLINED — re-evaluating the gram array per
    # window, O(n²) per document. The outer variant infers no filter; the
    # null rows (fingerprint-less docs) drop afterwards for free.
    fps = tx.with_chargram_fingerprints(d, "text", out="__fps", k=8, w=4).select(
        F.col("doc_id").alias("id"), F.explode_outer("__fps").alias("fp")
    ).where(F.col("fp").isNotNull())
    # frequency cut (same as the shingle join's max_df): a fingerprint present
    # in a large share of documents is boilerplate and would make its join
    # bucket quadratic without adding discrimination
    hot = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("df")).where(F.col("df") > 20)
    fps = fps.join(hot.select("fp"), "fp", "left_anti")
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
        .where(F.col("n_common") >= 20)
    )


def q_wkt_geo_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WKT geometry audit (SURVEY §2.8 Geo — reference locations.py:353-364):
    deterministic WKT strings are built from orders columns, parsed back with
    the JVM-side kind/syntax/bounds expressions, and aggregated; the DuckDB
    oracle computes the expected values arithmetically WITHOUT any WKT round
    trip, so a parsing defect cannot cancel itself out."""
    from safedata_validator_spark.functions import geo

    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey").cast("long")
    c = F.col("o_custkey").cast("long")
    lon = (F.pmod(k, F.lit(360)) - 180 + 0.25).cast("double")
    lat = (F.pmod(c, F.lit(180)) - 90 + 0.5).cast("double")
    x2, y2 = lon + 1.0, lat + 1.0
    s = lambda v: v.cast("string")  # noqa: E731
    point = F.concat(F.lit("POINT ("), s(lon), F.lit(" "), s(lat), F.lit(")"))
    poly = F.concat(
        F.lit("POLYGON (("), s(lon), F.lit(" "), s(lat), F.lit(", "),
        s(x2), F.lit(" "), s(lat), F.lit(", "), s(x2), F.lit(" "), s(y2),
        F.lit(", "), s(lon), F.lit(" "), s(lat), F.lit("))"),
    )
    broken = F.concat(F.lit("POINT ("), s(lon), F.lit(")"))  # x without y
    wkt = (
        F.when(F.pmod(k, F.lit(97)) == 0, broken)
        .when(F.pmod(k, F.lit(7)) == 0, poly)
        .otherwise(point)
    )
    p = o.select(wkt.alias("wkt")).select(
        geo.wkt_kind(F.col("wkt")).alias("kind"),
        geo.wkt_is_valid_syntax(F.col("wkt")).alias("valid"),
        geo.wkt_bounds(F.col("wkt")).alias("b"),
    )
    return p.groupBy("kind", "valid").agg(
        F.count(F.lit(1)).alias("n"),
        # coalesce: the invalid group aggregates only NULL bounds, and NULL
        # numerics cross the DuckDB/pandas boundary as NaN — pin a sentinel
        F.coalesce(F.round(F.min("b.min_x"), 6), F.lit(-999.0)).alias("min_x"),
        F.coalesce(F.round(F.max("b.max_x"), 6), F.lit(-999.0)).alias("max_x"),
        F.coalesce(F.round(F.avg("b.min_y"), 6), F.lit(-999.0)).alias("avg_min_y"),
        F.coalesce(F.round(F.avg("b.max_y"), 6), F.lit(-999.0)).alias("avg_max_y"),
    )


SQL_WKT_GEO_AUDIT = """
WITH g AS (
  SELECT CAST(o_orderkey AS BIGINT) AS k,
         (CAST(o_orderkey AS BIGINT) % 360) - 180 + 0.25 AS lon,
         (CAST(o_custkey AS BIGINT) % 180) - 90 + 0.5 AS lat
  FROM orders
), r AS (
  SELECT CASE WHEN k % 97 = 0 THEN 'POINT'
              WHEN k % 7 = 0 THEN 'POLYGON' ELSE 'POINT' END AS kind,
         (k % 97 <> 0) AS valid,
         CASE WHEN k % 97 = 0 THEN NULL ELSE lon END AS min_x,
         CASE WHEN k % 97 = 0 THEN NULL
              WHEN k % 7 = 0 THEN lon + 1 ELSE lon END AS max_x,
         CASE WHEN k % 97 = 0 THEN NULL ELSE lat END AS min_y,
         CASE WHEN k % 97 = 0 THEN NULL
              WHEN k % 7 = 0 THEN lat + 1 ELSE lat END AS max_y
  FROM g
)
SELECT kind, valid, COUNT(*) AS n,
       COALESCE(round(MIN(min_x), 6), -999.0) AS min_x,
       COALESCE(round(MAX(max_x), 6), -999.0) AS max_x,
       COALESCE(round(AVG(min_y), 6), -999.0) AS avg_min_y,
       COALESCE(round(AVG(max_y), 6), -999.0) AS avg_max_y
FROM r GROUP BY kind, valid
"""


# --------------------------------------------------------------------------
# 25b. Full OGC validity audit — drives the BUILT-IN pure-numpy geometry
#      engine (functions/geo_validity.py, the shapely-free backend of
#      geo.full_validity; reference locations.py:353-364 `.is_valid`).
#      Six geometry classes are constructed deterministically from orders
#      keys; each class has a KNOWN validity by construction, so the DuckDB
#      oracle computes the expected (class, ogc_valid, n) table purely
#      arithmetically — no geometry code on the oracle side, meaning a
#      validity-engine defect cannot cancel itself out.
# --------------------------------------------------------------------------


def q_ogc_validity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OGC validity over generated WKT: valid points/polygons/holed polygons
    vs bowties (self-intersection), Z points, unclosed rings and
    hole-outside-shell — through the Arrow-batched pandas UDF with the
    builtin backend (environment-independent: shapely, when installed, is
    covered by the parity battery in tests/test_env_gated.py instead)."""
    from safedata_validator_spark.functions import geo

    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey").cast("long")
    c = F.col("o_custkey").cast("long")
    # quarter-grid coordinates: exact binary fractions, so double→string
    # renders plain decimals both here and in the oracle's expectations
    lon = (F.pmod(k, F.lit(360)) - 180 + 0.25).cast("double")
    lat = (F.pmod(c, F.lit(180)) - 90 + 0.5).cast("double")
    s = lambda v: v.cast("string")  # noqa: E731
    x0, y0, x1, y1 = s(lon), s(lat), s(lon + 1.0), s(lat + 1.0)
    hx0, hy0, hx1, hy1 = s(lon + 0.25), s(lat + 0.25), s(lon + 0.5), s(lat + 0.5)
    SP, CM = F.lit(" "), F.lit(", ")

    def ring(ax, ay, bx, by):
        # axis-aligned CCW rectangle ring (ax ay, bx ay, bx by, ax by, ax ay)
        return F.concat(ax, SP, ay, CM, bx, SP, ay, CM, bx, SP, by, CM,
                        ax, SP, by, CM, ax, SP, ay)

    point = F.concat(F.lit("POINT ("), x0, SP, y0, F.lit(")"))
    zpoint = F.concat(F.lit("POINT Z ("), x0, SP, y0, F.lit(" 5)"))
    polygon = F.concat(F.lit("POLYGON (("), ring(x0, y0, x1, y1), F.lit("))"))
    bowtie = F.concat(  # edges cross: (x0 y0→x1 y1) × (x1 y0→x0 y1)
        F.lit("POLYGON (("), x0, SP, y0, CM, x1, SP, y1, CM, x1, SP, y0,
        CM, x0, SP, y1, CM, x0, SP, y0, F.lit("))"),
    )
    unclosed = F.concat(  # first != last: ring never closes
        F.lit("POLYGON (("), x0, SP, y0, CM, x1, SP, y0, CM, x1, SP, y1,
        F.lit("))"),
    )
    holed = F.concat(  # hole strictly inside the shell: valid
        F.lit("POLYGON (("), ring(x0, y0, x1, y1), F.lit("), ("),
        ring(hx0, hy0, hx1, hy1), F.lit("))"),
    )
    stray_hole = F.concat(  # hole 5 units east of the shell: invalid
        F.lit("POLYGON (("), ring(x0, y0, x1, y1), F.lit("), ("),
        ring(s(lon + 5.0), hy0, s(lon + 5.5), hy1), F.lit("))"),
    )
    cls = F.pmod(k, F.lit(11))
    wkt = (
        F.when(cls == 0, bowtie)
        .when(cls == 1, zpoint)
        .when(cls == 2, unclosed)
        .when(cls == 3, stray_hole)
        .when(cls == 4, holed)
        .when(cls == 5, polygon)
        .otherwise(point)
    )
    label = (
        F.when(cls == 0, "bowtie")
        .when(cls == 1, "zpoint")
        .when(cls == 2, "unclosed")
        .when(cls == 3, "stray_hole")
        .when(cls == 4, "holed")
        .when(cls == 5, "polygon")
        .otherwise("point")
    )
    g = o.select(label.alias("cls"), wkt.alias("wkt"))
    checked = geo.full_validity(g, "wkt", backend="builtin")
    return checked.groupBy("cls", "ogc_valid").agg(F.count(F.lit(1)).alias("n"))


SQL_OGC_VALIDITY_AUDIT = """
SELECT CASE CAST(o_orderkey AS BIGINT) % 11
         WHEN 0 THEN 'bowtie' WHEN 1 THEN 'zpoint' WHEN 2 THEN 'unclosed'
         WHEN 3 THEN 'stray_hole' WHEN 4 THEN 'holed' WHEN 5 THEN 'polygon'
         ELSE 'point' END AS cls,
       CAST(o_orderkey AS BIGINT) % 11 NOT IN (0, 1, 2, 3) AS ogc_valid,
       COUNT(*) AS n
FROM orders GROUP BY 1, 2
"""


def q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbours — the second ANN scale path beside
    LSH (coarse k-means quantizer + inverted-list probing).

    No scan spread here (and in ann_recall): the Lloyd centroid update
    sums doubles in partition order, so a repartitioned scan could move
    centroids by an ulp and flip a boundary assignment against the pinned
    golden oracle — the same order-sensitivity exemption as lm_quality."""
    e = _t(spark, sf_dir, "embeddings")
    queries = e.where(F.col("vec_id") % TOPK_QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = sim.ivf_topk(e, queries, k=TOPK_K, n_centroids=16, nprobe=4)
    return out.select("query_id", "vec_id", F.round("sim", 4).alias("sim"), "rank")


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both ANN top-k scale paths (sign-LSH, IVF) folded into ONE catalog
    gate with a ``backend`` discriminator column (driver caps the
    correctness sweep at 50 catalog entries — VERDICT r04 §next 3). Each
    branch is exactly the standalone query; the pinned golden VALUES oracle
    (tools/gen_golden_oracles.py) carries both backends."""
    lsh = q_lsh_ann_topk(spark, sf_dir).select(F.lit("lsh").alias("backend"), "*")
    ivf = q_ivf_ann_topk(spark, sf_dir).select(F.lit("ivf").alias("backend"), "*")
    return lsh.unionByName(ivf)


# --------------------------------------------------------------------------
# 26b. ANN recall@k robustness gate: LSH and IVF top-k measured against the
#      exact brute-force top-k (itself SQL-oracled in embedding_topk) with a
#      pinned recall floor. Unlike the pinned VALUES oracles, this gate
#      SURVIVES an nbits/nprobe/n_centroids default change — recall is
#      recomputed live; only the floor is pinned (VERDICT r02 §next 3).
# --------------------------------------------------------------------------

#: gate-pinned index parameters and avg-recall floors. The embeddings test
#: table is near-random (little cluster structure), so recall is governed by
#: the probed fraction of the corpus; the parameters below measure avg
#: recall 0.82 (lsh) / 0.92 (ivf) at sf0.01 — floors leave ≥0.2 honest
#: margin while a broken index (empty/arbitrary candidates) scores ≈ k/N
#: = 0.01 and a lost probe ring scores < 0.5.
ANN_RECALL_GATES = {
    "lsh": ({"nbits": 4, "probe_hamming": 2, "dim": EMB_DIM}, 0.6),
    "ivf": ({"n_centroids": 8, "nprobe": 6}, 0.7),
}


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    queries = e.where(F.col("vec_id") % TOPK_QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = sim.brute_force_topk(e, queries, k=TOPK_K).select("query_id", "vec_id")
    parts = []
    for method in sorted(ANN_RECALL_GATES):
        params, floor = ANN_RECALL_GATES[method]
        fn = sim.lsh_topk if method == "lsh" else sim.ivf_topk
        approx = fn(e, queries, k=TOPK_K, **params)
        hits = (
            approx.select("query_id", "vec_id")
            .join(exact, ["query_id", "vec_id"])
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n_hits"))
        )
        # left join from ALL queries: a query the index found nothing for
        # must count as recall 0, not silently drop out of the average
        per = queries.select("query_id").join(hits, "query_id", "left").select(
            (F.coalesce(F.col("n_hits"), F.lit(0)) / F.lit(TOPK_K)).alias("recall")
        )
        parts.append(
            per.agg(
                F.count(F.lit(1)).alias("n_queries"),
                (F.avg("recall") >= floor).alias("recall_ok"),
            ).select(F.lit(method).alias("method"), "n_queries", "recall_ok")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("method")


SQL_ANN_RECALL = f"""
SELECT method, n_queries, true AS recall_ok FROM (
  SELECT 'ivf' AS method, count(*) AS n_queries
  FROM embeddings WHERE vec_id % {TOPK_QUERY_MOD} = 0
  UNION ALL
  SELECT 'lsh', count(*) FROM embeddings WHERE vec_id % {TOPK_QUERY_MOD} = 0
) ORDER BY method
"""


# --------------------------------------------------------------------------
# 27. Stateful streaming sequence gate (§2.9): the applyInPandasWithState
#     cross-batch checker run on two REAL micro-batches, gated against the
#     batch-SQL computation of the same semantics — streaming answers must
#     equal the batch answers when micro-batch order respects turn order
#     (reference field.py:722-746 current_row carried between chunks).
# --------------------------------------------------------------------------

#: role grammar for the stream gate (deterministic map of event_type)
STREAM_TRANSITIONS = [
    ["user", "assistant"],
    ["assistant", "user"],
    ["assistant", "tool"],
    ["tool", "assistant"],
]


def _stream_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic transcript-shaped derivation of the events table:
    conv_id = user_id; turn_idx = per-conv rank plus a CUMULATIVE shift at
    planted gap rows (event_id % 17 — keeps turn_idx strictly increasing and
    UNIQUE per conv, so the stateful checker's stable sort has no tie-order
    nondeterminism); ts regresses one hour at event_id % 23 rows; role maps
    event_type onto the user/assistant/tool grammar."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    role = (
        F.when(F.col("event_type").isin("click", "signup"), "user")
        .when(F.col("event_type").isin("view", "purchase"), "assistant")
        .otherwise("tool")
    )
    return ev.select(
        F.col("user_id").cast("string").alias("conv_id"),
        (
            F.row_number().over(w)
            + F.sum(F.when(F.col("event_id") % 17 == 0, 1).otherwise(0)).over(cum)
        ).cast("long").alias("turn_idx"),
        role.alias("role"),
        F.when(
            F.col("event_id") % 23 == 0, F.col("ts") - F.expr("INTERVAL 1 HOUR")
        ).otherwise(F.col("ts")).alias("ts"),
        F.row_number().over(w).alias("__seq"),
    )


def _two_batch_stream(
    spark: SparkSession,
    batches: tuple[DataFrame, DataFrame],
    schema: StructType,
    build: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """Run a real two-micro-batch streaming query and return its output rows
    as a batch DataFrame. Each of ``batches`` is staged as one parquet file
    of a file source (``maxFilesPerTrigger=1``, so one micro-batch each);
    ``build`` maps the stream (read with ``schema``) to the query's output,
    which runs into a memory sink. The staging and checkpoint directory is
    a fresh ``sdv_stream_*`` temporary directory and the query name is
    unique to the run, so concurrent runs never share state; both are
    removed once the rows are collected."""
    root = tempfile.mkdtemp(prefix="sdv_stream_")
    qname = f"sdv_stream_{uuid.uuid4().hex}"
    try:
        src = f"{root}/src"
        os.makedirs(src)
        now = None
        for i, part in enumerate(batches):
            stage = f"{root}/stage{i}"
            part.coalesce(1).write.parquet(stage)
            (pf,) = glob.glob(f"{stage}/part-*.parquet")
            dst = f"{src}/batch{i}.parquet"
            shutil.copyfile(pf, dst)
            # the file source processes oldest-mtime first: pin batch order
            # explicitly rather than trusting copy timestamps
            if now is None:
                now = os.path.getmtime(dst)
            os.utime(dst, (now - 120 + 60 * i, now - 120 + 60 * i))
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
        )
        out = build(stream)
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName(qname)
            .option("checkpointLocation", f"{root}/ck")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        rows = spark.table(qname).collect()
        spark.catalog.dropTempView(qname)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


def q_stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EAGER by necessity: real two-micro-batch streaming run of the
    first-seen-wins exact dedup (streaming.dedup_stream.stream_exact_dedup).
    Batch 0 = even doc_ids, batch 1 = odd — a duplicate whose even twin
    arrived in batch 0 must be flagged in batch 1 via carried state. The
    oracle replays the same decision in SQL: keeper = min (batch, doc_id)
    per normalized content."""
    from safedata_validator_spark.streaming.dedup_stream import stream_exact_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    res = _two_batch_stream(
        spark,
        (docs.where(F.col("doc_id") % 2 == 0), docs.where(F.col("doc_id") % 2 == 1)),
        docs.schema,
        lambda stream: stream_exact_dedup(stream, "doc_id", "text"),
    )
    return res.select(F.col("id").alias("doc_id"), "is_dup", "keep_id")


SQL_STREAM_DEDUP_EVENTS = r"""
WITH normed AS (
  SELECT doc_id, doc_id % 2 AS b,
         trim(regexp_replace(lower(coalesce(text,'')), '[^a-z0-9]+', ' ', 'g')) AS norm
  FROM documents
), keepers AS (
  SELECT norm, doc_id AS keep_id FROM (
    SELECT norm, doc_id,
           row_number() OVER (PARTITION BY norm ORDER BY b, doc_id) AS rn
    FROM normed
  ) WHERE rn = 1
)
SELECT n.doc_id, (n.doc_id <> k.keep_id) AS is_dup, k.keep_id
FROM normed n JOIN keepers k USING (norm)
"""


#: streaming drift gate: histogram domain over events.value and the batch
#: split timestamp (events span 2024-01; batch 0 = first half of the month)
DRIFT_STREAM_LO, DRIFT_STREAM_HI, DRIFT_STREAM_BINS = 0.0, 200.0, 8
DRIFT_STREAM_SPLIT = "2024-01-16 00:00:00"


def q_stream_drift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EAGER by necessity: real two-micro-batch streaming run of the
    windowed-histogram drift monitor (streaming.drift_stream) — day windows
    over events.ts, watermark delay 0, append mode. Batch 0 = the first
    half of the month, batch 1 = the rest, so the split-day window's
    histogram state must carry across the micro-batch boundary and every
    closed window must emit exactly once (window.end <= final watermark =
    max ts). The emitted histograms are then scored against the full-table
    baseline histogram with the SAME batch code path (PSI + KS via
    engine.drift.compare_histograms). The oracle replays everything in
    SQL, including the append-mode emission rule: only windows whose end
    <= max(ts) appear."""
    from safedata_validator_spark.engine.drift import histogram
    from safedata_validator_spark.streaming.drift_stream import (
        score_drift_windows,
        windowed_histogram,
    )

    ev = _t(spark, sf_dir, "events").select("ts", "value")
    split = F.lit(DRIFT_STREAM_SPLIT).cast("timestamp")
    hist_df = _two_batch_stream(
        spark,
        (ev.where(F.col("ts") < split), ev.where(F.col("ts") >= split)),
        ev.schema,
        lambda stream: windowed_histogram(
            stream,
            "value",
            DRIFT_STREAM_LO,
            DRIFT_STREAM_HI,
            DRIFT_STREAM_BINS,
            ts_col="ts",
            window_dur="1 day",
            delay="0 seconds",
        ),
    )
    base = histogram(
        ev, "value", DRIFT_STREAM_LO, DRIFT_STREAM_HI, DRIFT_STREAM_BINS
    ).select("bucket", "n")
    out = score_drift_windows(hist_df, base)
    return out.select(
        "win_start",
        F.round("psi", 6).alias("psi"),
        F.round("ks", 6).alias("ks"),
    ).orderBy("win_start")


_DRIFT_STREAM_W = (DRIFT_STREAM_HI - DRIFT_STREAM_LO) / DRIFT_STREAM_BINS

SQL_STREAM_DRIFT_EVENTS = f"""
WITH src AS (
  SELECT ts,
         CASE WHEN value < {DRIFT_STREAM_LO} THEN 0
              WHEN value >= {DRIFT_STREAM_HI} THEN {DRIFT_STREAM_BINS + 1}
              ELSE 1 + CAST(floor((value - {DRIFT_STREAM_LO}) / {_DRIFT_STREAM_W}) AS INT)
         END AS bucket
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
),
-- append-mode emission: a day window is in the output iff its end passed
-- the final watermark (= max event time at delay 0)
hist AS (
  SELECT date_trunc('day', ts) AS ws, bucket, count(*) AS n
  FROM src
  WHERE date_trunc('day', ts) + INTERVAL 1 DAY <= (SELECT max(ts) FROM events)
  GROUP BY 1, 2
),
base AS (SELECT bucket, count(*) AS n FROM src GROUP BY 1),
grid AS (
  SELECT ws, bucket
  FROM (SELECT DISTINCT ws FROM hist)
  CROSS JOIN (SELECT bucket FROM base UNION SELECT bucket FROM hist)
),
pr AS (
  SELECT g.ws, g.bucket,
         COALESCE(h.n, 0) / CAST((SELECT sum(n) FROM hist h2 WHERE h2.ws = g.ws) AS DOUBLE) AS p,
         COALESCE(b.n, 0) / CAST((SELECT sum(n) FROM base) AS DOUBLE) AS q
  FROM grid g
  LEFT JOIN hist h ON h.ws = g.ws AND h.bucket = g.bucket
  LEFT JOIN base b ON b.bucket = g.bucket
),
c AS (
  SELECT ws, p, q,
         sum(p) OVER (PARTITION BY ws ORDER BY bucket
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp,
         sum(q) OVER (PARTITION BY ws ORDER BY bucket
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cq
  FROM pr
)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS win_start,
       round(sum((p - q) * ln((p + 1e-6) / (q + 1e-6))), 6) AS psi,
       round(max(abs(cp - cq)), 6) AS ks
FROM c GROUP BY ws ORDER BY win_start
"""


def q_stream_sequence_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EAGER by necessity: runs an actual two-micro-batch streaming query
    (file source, maxFilesPerTrigger=1, fresh checkpoint) and returns the
    emitted violations. Batch 1 = first 5 turns of every conversation,
    batch 2 = the rest — state (last idx/ts/role) must carry across the
    boundary for the result to equal the batch-SQL oracle."""
    from safedata_validator_spark.streaming.validate_stream import (
        stateful_sequence_violations,
    )

    turns = _stream_turns(spark, sf_dir)
    res = _two_batch_stream(
        spark,
        (
            turns.where(F.col("__seq") <= 5).drop("__seq"),
            turns.where(F.col("__seq") > 5).drop("__seq"),
        ),
        turns.drop("__seq").schema,
        lambda stream: stateful_sequence_violations(
            stream, transitions=STREAM_TRANSITIONS, allowed_start=["user"]
        ),
    )
    return res.orderBy("conv_id", "turn_idx", "rule_id", "message")


#: ``_stream_turns`` as the SQL CTEs ``base`` and ``turns``, shared by the
#: stream_sequence_events and engine_ordering_events oracles
_SQL_STREAM_TURNS = """base AS (
  SELECT CAST(user_id AS VARCHAR) AS conv_id,
         row_number() OVER w AS seq,
         sum(CASE WHEN event_id % 17 = 0 THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS shift,
         CASE WHEN event_type IN ('click','signup') THEN 'user'
              WHEN event_type IN ('view','purchase') THEN 'assistant'
              ELSE 'tool' END AS role,
         CASE WHEN event_id % 23 = 0 THEN ts - INTERVAL 1 HOUR ELSE ts END AS ts
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), turns AS (
  SELECT conv_id, CAST(seq + shift AS BIGINT) AS turn_idx, role, ts FROM base
)"""

SQL_STREAM_SEQUENCE_EVENTS = f"""
WITH {_SQL_STREAM_TURNS}, lagged AS (
  SELECT conv_id, turn_idx, role, ts,
         lag(turn_idx) OVER w2 AS prev_idx,
         lag(role) OVER w2 AS prev_role,
         lag(ts) OVER w2 AS prev_ts
  FROM turns
  WINDOW w2 AS (PARTITION BY conv_id ORDER BY turn_idx)
)
SELECT * FROM (
  SELECT conv_id, turn_idx, 'stream.sequential' AS rule_id,
         CAST(turn_idx AS VARCHAR) AS value,
         'expected ' || (COALESCE(prev_idx, 0) + 1) || ' got ' || turn_idx AS message
  FROM lagged WHERE turn_idx != COALESCE(prev_idx, 0) + 1
  UNION ALL
  SELECT conv_id, turn_idx, 'stream.monotone',
         -- pandas renders timestamps with full 6-digit microseconds (or none
         -- when zero); DuckDB's CAST trims trailing zeros — format explicitly
         CASE WHEN strftime(ts, '%f') = '000000'
              THEN strftime(ts, '%Y-%m-%d %H:%M:%S')
              ELSE strftime(ts, '%Y-%m-%d %H:%M:%S.%f') END,
         'event time decreased'
  FROM lagged WHERE prev_ts IS NOT NULL AND ts < prev_ts
  UNION ALL
  SELECT conv_id, turn_idx, 'stream.grammar', role,
         'forbidden transition ' || COALESCE(prev_role, '') || '→' || role
  FROM lagged
  WHERE (prev_role IS NULL AND role != 'user')
     OR (prev_role IS NOT NULL AND NOT (
           (prev_role = 'user' AND role = 'assistant') OR
           (prev_role = 'assistant' AND role IN ('user','tool')) OR
           (prev_role = 'tool' AND role = 'assistant')))
)
ORDER BY conv_id, turn_idx, rule_id, message
"""


def q_transcript_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship engine run: full rule set over the synthetic bad transcript
    table (deterministic, independent of sf_dir scale), including the
    manifest-declared-vs-computed temporal extent congruence rule
    (reference final_checks, field.py:283-318)."""
    from safedata_validator_spark.data.synth import dims, transcripts_bad
    from safedata_validator_spark.engine.validator import ValidationEngine
    from safedata_validator_spark.rules.presets import SOFT_TS_BOUNDS, transcript_ruleset

    res = ValidationEngine().validate(
        transcripts_bad(spark),
        transcript_ruleset(declared_ts_extent=SOFT_TS_BOUNDS),
        dims(spark),
        with_stats=False,
    )
    return res.verdicts.select("scope", "rule_id", "severity", "n_rows", "n_failed", "passed")


#: Golden verdict table for the flagship run — the engine analogue of the
#: reference's exact-error-count corpus (test/test_dataset.py:11-24:
#: good=0 / bad=94). Deterministic because the synthetic generator is
#: hash-seeded; any engine or generator change that shifts a count fails the
#: gate loudly.
SQL_TRANSCRIPT_VERDICTS = """
SELECT * FROM (VALUES
  ('all', 'conv_id.not_blank', 'ERROR', CAST(3401 AS BIGINT), CAST(0 AS BIGINT), true),
  ('all', 'key.unique', 'ERROR', 3401, 1, false),
  ('all', 'role.grammar', 'ERROR', 3401, 7, false),
  ('all', 'role.in_levels', 'ERROR', 3401, 2, false),
  ('all', 'role.levels_audit', 'ERROR', 3401, 2, false),
  ('all', 'role.not_padded', 'ERROR', 3401, 1, false),
  ('all', 'row.not_all_blank', 'ERROR', 3401, 0, true),
  ('all', 'text.no_excel_error', 'ERROR', 3401, 1, false),
  ('all', 'text.not_blank', 'ERROR', 3401, 2, false),
  ('all', 'text.not_na', 'WARNING', 3401, 1, true),
  ('all', 'tool.ref_integrity', 'ERROR', 3401, 1, false),
  ('all', 'tool.ref_integrity.alias', 'WARNING', 3401, 1, true),
  ('all', 'tool.requires_tool_role', 'ERROR', 3401, 0, true),
  ('all', 'ts.extent_congruence', 'ERROR', 3401, 1, false),
  ('all', 'ts.extent_hard', 'ERROR', 3401, 1, false),
  ('all', 'ts.extent_soft', 'WARNING', 3401, 1, true),
  ('all', 'ts.monotone', 'ERROR', 3401, 1, false),
  ('all', 'turn_idx.positive', 'ERROR', 3401, 0, true),
  ('all', 'turn_idx.sequential', 'ERROR', 3401, 2, false)
) AS t(scope, rule_id, severity, n_rows, n_failed, passed)
"""


# --------------------------------------------------------------------------
# 28. Engine-level gates: ValidationEngine.validate() itself over sf-derived
#     tables, one gate per rule family. Defects are planted by key
#     arithmetic (as in _stream_turns), so every scale carries them, and
#     each DuckDB oracle re-derives the rule semantics in SQL over the same
#     derivation — no pinned VALUES, so the gates hold at any scale.
# --------------------------------------------------------------------------

#: adjacency block width for engine_ordering_events: far below the ~67
#: turns of an sf conversation, so the blocked window's boundary stitch
#: runs inside most conversations at every scale
ENGINE_BLOCK_SIZE = 4


def q_engine_ordering_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sequential + monotone + transition_grammar through validate() over
    the stream gate's turns (gaps at event_id % 17, ts regressions at
    event_id % 23)."""
    adj = {"group": "conv_id", "order": "turn_idx", "block_size": ENGINE_BLOCK_SIZE}
    rs = RuleSet(
        name="engine.ordering",
        key_cols=["conv_id", "turn_idx"],
        rules=[
            Rule("turn_idx.sequential", "sequential", column="turn_idx",
                 params={"group": "conv_id", "order": "turn_idx"}),
            Rule("ts.monotone", "monotone", column="ts", params=adj),
            Rule("role.grammar", "transition_grammar", column="role",
                 params={**adj, "transitions": STREAM_TRANSITIONS,
                         "allowed_start": ["user"]}),
        ],
    )
    turns = _stream_turns(spark, sf_dir).drop("__seq")
    return ValidationEngine().validate(turns, rs, with_stats=False).violations


_SQL_STREAM_EDGES = ", ".join(f"'{a}→{b}'" for a, b in STREAM_TRANSITIONS)

SQL_ENGINE_ORDERING_EVENTS = f"""
WITH {_SQL_STREAM_TURNS}, lagged AS (
  SELECT conv_id, turn_idx, role, ts,
         lag(role) OVER w AS prev_role, lag(ts) OVER w AS prev_ts
  FROM turns
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
), seq AS (
  SELECT conv_id, count(*) AS n, min(turn_idx) AS mn, max(turn_idx) AS mx,
         count(DISTINCT turn_idx) AS nd
  FROM turns GROUP BY conv_id
)
SELECT 'turn_idx.sequential' AS rule_id, 'ERROR' AS severity, 'all' AS scope,
       'conv_id=' || conv_id AS entity, 'turn_idx' AS "column",
       CAST(n AS VARCHAR) AS value,
       'turn_idx not consecutive from 1: n=' || n || ' nulls=0 min=' || mn
         || ' max=' || mx || ' distinct=' || nd AS message
FROM seq WHERE NOT (mn = 1 AND mx = n AND nd = n)
UNION ALL
SELECT 'ts.monotone', 'ERROR', 'all', 'conv_id=' || conv_id || '/turn_idx=' || turn_idx,
       'ts', CAST(ts AS VARCHAR),
       'ts decreased: ' || CAST(prev_ts AS VARCHAR) || ' → ' || CAST(ts AS VARCHAR)
FROM lagged WHERE ts < prev_ts
UNION ALL
-- the opening turn (turn_idx 1) must be a user turn; every other turn whose
-- predecessor exists must follow the grammar (a conversation whose first
-- row is a gap has no opening to judge)
SELECT 'role.grammar', 'ERROR', 'all', 'conv_id=' || conv_id || '/turn_idx=' || turn_idx,
       'role', role,
       CASE WHEN turn_idx = 1 THEN 'bad opening role: ' || role
            ELSE 'forbidden transition: ' || prev_role || ' → ' || role END
FROM lagged
WHERE (turn_idx = 1 AND role <> 'user')
   OR (turn_idx <> 1 AND prev_role IS NOT NULL
       AND prev_role || '→' || role NOT IN ({_SQL_STREAM_EDGES}))
"""


#: sequential_examples' row bound for engine_keys_events: above the whole
#: derived table at sf0.1 (104,193 rows; 55,219 of them examples), so the
#: limit never cuts and the example set is deterministic
ENGINE_MAX_EXAMPLES = 1_000_000


def _keyed_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(conv_id, turn_idx) keys over events with one planted key defect per
    conversation class (user_id % 5): 0 = gaps (turn_idx jumps one at
    event_id % 11 rows), 1 = NULL turn_idx at event_id % 13, 2 = duplicated
    rows (a second copy at event_id % 7, a third at event_id % 14); 3 and 4
    stay clean, so the hash-sum screen has conversations to pass."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cls, eid = F.col("user_id") % 5, F.col("event_id")
    gap = F.when((cls == 0) & (eid % 11 == 0), 1).otherwise(0)
    turn = F.row_number().over(w) + F.sum(gap).over(cum)
    copies = (
        1
        + F.when((cls == 2) & (eid % 7 == 0), 1).otherwise(0)
        + F.when((cls == 2) & (eid % 14 == 0), 1).otherwise(0)
    )
    keyed = ev.select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.when((cls == 1) & (eid % 13 == 0), None).otherwise(turn).cast("long").alias("turn_idx"),
        copies.alias("__copies"),
    )
    return keyed.select(
        "conv_id", "turn_idx", F.explode(F.sequence(F.lit(1), "__copies")).alias("__copy")
    ).drop("__copy")


def q_engine_keys_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sequential (with row examples) + unique_key over (conv_id, turn_idx)
    through validate(): the conversation-level hash-sum screen, then the
    key-count drilldown shared by sequential_from_counts,
    sequential_examples and unique_from_counts. No adjacency rule: among
    duplicate keys the order of tied rows is unspecified."""
    rs = RuleSet(
        name="engine.keys",
        key_cols=["conv_id", "turn_idx"],
        rules=[
            Rule("turn_idx.sequential", "sequential", column="turn_idx",
                 params={"group": "conv_id", "order": "turn_idx", "examples": True,
                         "max_examples": ENGINE_MAX_EXAMPLES}),
            Rule("key.unique", "unique_key", params={"keys": ["conv_id", "turn_idx"]}),
        ],
    )
    keyed = _keyed_turns(spark, sf_dir)
    return ValidationEngine().validate(keyed, rs, with_stats=False).violations


SQL_ENGINE_KEYS_EVENTS = """
WITH base AS (
  SELECT CAST(user_id AS VARCHAR) AS conv_id, user_id % 5 AS cls, event_id,
         row_number() OVER w
           + sum(CASE WHEN user_id % 5 = 0 AND event_id % 11 = 0 THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS turn
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), keyed AS (
  SELECT conv_id,
         CASE WHEN cls = 1 AND event_id % 13 = 0 THEN NULL
              ELSE CAST(turn AS BIGINT) END AS turn_idx,
         unnest(range(1 + CASE WHEN cls = 2 AND event_id % 7 = 0 THEN 1 ELSE 0 END
                        + CASE WHEN cls = 2 AND event_id % 14 = 0 THEN 1 ELSE 0 END)) AS copy
  FROM base
), seq AS (
  SELECT conv_id, count(*) AS n, count(turn_idx) AS nn, min(turn_idx) AS mn,
         max(turn_idx) AS mx, count(DISTINCT turn_idx) AS nd
  FROM keyed GROUP BY conv_id
), bad AS (
  SELECT * FROM seq WHERE NOT (n = nn AND mn = 1 AND mx = n AND nd = n)
), ranked AS (
  SELECT conv_id, turn_idx,
         row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx ASC NULLS LAST) AS expected
  FROM keyed WHERE conv_id IN (SELECT conv_id FROM bad)
), dup AS (
  SELECT conv_id, turn_idx, count(*) AS n FROM keyed GROUP BY conv_id, turn_idx
)
SELECT 'turn_idx.sequential' AS rule_id, 'ERROR' AS severity, 'all' AS scope,
       'conv_id=' || conv_id AS entity, 'turn_idx' AS "column",
       CAST(n AS VARCHAR) AS value,
       'turn_idx not consecutive from 1: n=' || n || ' nulls=' || (n - nn)
         || ' min=' || mn || ' max=' || mx || ' distinct=' || nd AS message
FROM bad
UNION ALL
SELECT 'turn_idx.sequential.example', 'ERROR', 'all',
       'conv_id=' || conv_id || '/turn_idx=' || coalesce(CAST(turn_idx AS VARCHAR), '∅'),
       'turn_idx', CAST(turn_idx AS VARCHAR),
       'turn_idx=' || coalesce(CAST(turn_idx AS VARCHAR), '∅')
         || ' where ' || expected || ' was expected'
FROM ranked WHERE turn_idx IS NULL OR turn_idx <> expected
UNION ALL
SELECT 'key.unique', 'ERROR', 'all',
       'conv_id=' || conv_id || '/turn_idx=' || coalesce(CAST(turn_idx AS VARCHAR), '∅'),
       'conv_id,turn_idx', CAST(n AS VARCHAR),
       'duplicate key: ' || n || ' occurrences'
FROM dup WHERE n > 1
"""


#: user_id shift that plants orphan events (no such customer at any scale)
ENGINE_ORPHAN_OFFSET = 1_000_000


def q_engine_categorical_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """levels_audit + ref_integrity (one stacked categorical-counts pass,
    broadcast joins against the declared levels and the customer
    dimension) + a row in_levels over events, scoped by ISO week. Planted:
    'view' renamed 'View' in week 2 (an undeclared level, and 'view' unused
    there), orphan user_ids at event_id % 43, NULL user_ids (ignored) at
    event_id % 61; 'error' is undeclared and 'login' unused everywhere."""
    ev = _t(spark, sf_dir, "events")
    eid = F.col("event_id")
    facts = ev.select(
        "event_id",
        "ts",
        F.when((F.col("event_type") == "view") & (F.weekofyear("ts") == 2), "View")
        .otherwise(F.col("event_type"))
        .alias("event_type"),
        F.when(eid % 61 == 0, None)
        .when(eid % 43 == 0, F.col("user_id") + ENGINE_ORPHAN_OFFSET)
        .otherwise(F.col("user_id"))
        .alias("user_id"),
    )
    levels = {"levels": DECLARED_EVENT_TYPES}
    rs = RuleSet(
        name="engine.categorical",
        key_cols=["event_id"],
        scope="weekofyear(ts)",
        rules=[
            Rule("event_type.levels_audit", "levels_audit", column="event_type", params=levels),
            Rule("event_type.in_levels", "in_levels", column="event_type",
                 severity=WARNING, params=levels),
            Rule("user_id.ref_integrity", "ref_integrity", column="user_id",
                 params={"dim": "customer", "dim_key": "c_custkey"}),
        ],
    )
    customer = _t(spark, sf_dir, "customer").select("c_custkey")
    dims = {"customer": customer}
    return ValidationEngine().validate(facts, rs, dims, with_stats=False).violations


_SQL_EVENT_LEVELS = ", ".join(f"'{v}'" for v in DECLARED_EVENT_TYPES)

SQL_ENGINE_CATEGORICAL_EVENTS = f"""
WITH facts AS (
  SELECT event_id, CAST(weekofyear(ts) AS VARCHAR) AS scope,
         CASE WHEN event_type = 'view' AND weekofyear(ts) = 2 THEN 'View'
              ELSE event_type END AS event_type,
         CASE WHEN event_id % 61 = 0 THEN NULL
              WHEN event_id % 43 = 0 THEN user_id + {ENGINE_ORPHAN_OFFSET}
              ELSE user_id END AS user_id
  FROM events
), used AS (
  SELECT scope, event_type, count(*) AS n
  FROM facts WHERE event_type IS NOT NULL GROUP BY scope, event_type
), declared AS (
  SELECT unnest([{_SQL_EVENT_LEVELS}]) AS lvl
), users AS (
  SELECT scope, user_id, count(*) AS n
  FROM facts WHERE user_id IS NOT NULL GROUP BY scope, user_id
)
SELECT 'event_type.levels_audit' AS rule_id, 'ERROR' AS severity, scope,
       'event_type=' || event_type AS entity, 'event_type' AS "column",
       event_type AS value, 'undeclared level (' || n || ' rows)' AS message
FROM used WHERE event_type NOT IN (SELECT lvl FROM declared)
UNION ALL
SELECT 'event_type.levels_audit.unused', 'WARNING', s.scope, 'event_type=' || d.lvl,
       'event_type', d.lvl, 'declared level never used'
FROM (SELECT DISTINCT scope FROM used) s CROSS JOIN declared d
WHERE NOT EXISTS (SELECT 1 FROM used u WHERE u.scope = s.scope AND u.event_type = d.lvl)
UNION ALL
SELECT 'event_type.in_levels', 'WARNING', scope, 'event_id=' || event_id,
       'event_type', event_type,
       'event_type outside declared levels {str(DECLARED_EVENT_TYPES).replace("'", "''")}'
FROM facts WHERE event_type IS NULL OR event_type NOT IN (SELECT lvl FROM declared)
UNION ALL
SELECT 'user_id.ref_integrity', 'ERROR', scope, 'user_id=' || user_id, 'user_id',
       CAST(user_id AS VARCHAR), 'user_id not in dimension customer (' || n || ' rows)'
FROM users u
WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = u.user_id)
"""


#: required shape of the (upper-case) market segment in engine_row_rules_customer
#: — a regex on which Java and RE2 agree
ENGINE_SEGMENT_RE = "^[A-Z]+$"
ENGINE_NATION_BOUNDS = (1, 24)


def q_engine_row_rules_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fused row battery through validate() — not_blank, not_na,
    no_excel_error, not_padded, numeric_string over a name column;
    castable over a balance string; pattern over the segment; row-level
    bounds on c_nationkey; an expr across columns — with defects planted by
    c_custkey arithmetic (see the CASE ladders in the oracle)."""
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    name = (
        F.when(k % 23 == 0, None)
        .when(k % 29 == 0, "   ")
        .when(k % 31 == 0, F.concat(F.lit(" "), "c_name"))
        .when(k % 37 == 0, "NA")
        .when(k % 41 == 0, "#N/A")
        .when(k % 43 == 0, (k * 7).cast("string"))
        .otherwise(F.col("c_name"))
    )
    amount = F.concat(
        (k % 1000).cast("string"), F.lit("."), F.lpad((k % 100).cast("string"), 2, "0")
    )
    balance = (
        F.when(k % 19 == 0, F.concat(amount, F.lit(" USD")))
        .when(k % 47 == 0, F.concat(F.lit("1,"), amount))
        .otherwise(amount)
    )
    segment = F.when(k % 17 == 0, F.lower("c_mktsegment")).otherwise(F.col("c_mktsegment"))
    df = c.select(
        "c_custkey", "c_nationkey", "c_acctbal",
        name.alias("name"), balance.alias("balance"), segment.alias("segment"),
    )
    lo, hi = ENGINE_NATION_BOUNDS
    rs = RuleSet(
        name="engine.row_rules",
        key_cols=["c_custkey"],
        rules=[
            Rule("name.not_blank", "not_blank", column="name"),
            Rule("name.not_na", "not_na", column="name", severity=WARNING),
            Rule("name.no_excel_error", "no_excel_error", column="name"),
            Rule("name.not_padded", "not_padded", column="name"),
            Rule("name.numeric_string", "numeric_string", column="name"),
            Rule("balance.castable", "castable", column="balance", params={"to": "double"}),
            Rule("segment.pattern", "pattern", column="segment",
                 params={"regex": ENGINE_SEGMENT_RE}),
            Rule("c_nationkey.bounds", "bounds", column="c_nationkey",
                 severity=WARNING, params={"lo": lo, "hi": hi}),
            Rule("segment.overdrawn", "expr", column="segment",
                 params={"sql": "segment <> 'AUTOMOBILE' OR c_acctbal >= 0",
                         "message": "AUTOMOBILE accounts must not be overdrawn"}),
        ],
    )
    return ValidationEngine().validate(df, rs, with_stats=False).violations


SQL_ENGINE_ROW_RULES_CUSTOMER = f"""
WITH c AS (
  SELECT c_custkey, c_nationkey, c_acctbal,
         CASE WHEN c_custkey % 23 = 0 THEN NULL
              WHEN c_custkey % 29 = 0 THEN '   '
              WHEN c_custkey % 31 = 0 THEN ' ' || c_name
              WHEN c_custkey % 37 = 0 THEN 'NA'
              WHEN c_custkey % 41 = 0 THEN '#N/A'
              WHEN c_custkey % 43 = 0 THEN CAST(c_custkey * 7 AS VARCHAR)
              ELSE c_name END AS name,
         CAST(c_custkey % 1000 AS VARCHAR) || '.'
           || lpad(CAST(c_custkey % 100 AS VARCHAR), 2, '0') AS amount,
         CASE WHEN c_custkey % 17 = 0 THEN lower(c_mktsegment)
              ELSE c_mktsegment END AS segment
  FROM customer
), r AS (
  SELECT *, 'c_custkey=' || c_custkey AS entity,
         CASE WHEN c_custkey % 19 = 0 THEN amount || ' USD'
              WHEN c_custkey % 47 = 0 THEN '1,' || amount
              ELSE amount END AS balance
  FROM c
)
SELECT 'name.not_blank' AS rule_id, 'ERROR' AS severity, 'all' AS scope, entity,
       'name' AS "column", name AS value, 'name is null/blank' AS message
FROM r WHERE name IS NULL OR trim(name) = ''
UNION ALL
SELECT 'name.not_na', 'WARNING', 'all', entity, 'name', name,
       'name is the ''NA'' missing sentinel'
FROM r WHERE name = 'NA'
UNION ALL
SELECT 'name.no_excel_error', 'ERROR', 'all', entity, 'name', name,
       'name contains a spreadsheet error sentinel'
FROM r WHERE name IN ({", ".join(f"'{e}'" for e in EXCEL_ERRORS)})
UNION ALL
SELECT 'name.not_padded', 'ERROR', 'all', entity, 'name', name,
       'name has leading/trailing whitespace'
FROM r WHERE name <> trim(name)
UNION ALL
SELECT 'name.numeric_string', 'ERROR', 'all', entity, 'name', name,
       'name is a numeric string'
FROM r WHERE TRY_CAST(name AS DOUBLE) IS NOT NULL
UNION ALL
SELECT 'balance.castable', 'ERROR', 'all', entity, 'balance', balance,
       'balance does not parse as double'
FROM r WHERE TRY_CAST(balance AS DOUBLE) IS NULL
UNION ALL
SELECT 'segment.pattern', 'ERROR', 'all', entity, 'segment', segment,
       'segment does not match required pattern ''{ENGINE_SEGMENT_RE}'''
FROM r WHERE NOT regexp_matches(segment, '{ENGINE_SEGMENT_RE}')
UNION ALL
SELECT 'c_nationkey.bounds', 'WARNING', 'all', entity, 'c_nationkey',
       CAST(c_nationkey AS VARCHAR),
       'c_nationkey outside bounds [{ENGINE_NATION_BOUNDS[0]}, {ENGINE_NATION_BOUNDS[1]})'
FROM r WHERE c_nationkey < {ENGINE_NATION_BOUNDS[0]} OR c_nationkey >= {ENGINE_NATION_BOUNDS[1]}
UNION ALL
SELECT 'segment.overdrawn', 'ERROR', 'all', entity, 'segment', segment,
       'AUTOMOBILE accounts must not be overdrawn'
FROM r WHERE NOT coalesce(segment <> 'AUTOMOBILE' OR c_acctbal >= 0, false)
"""


#: engine_verdicts_orders plants: years whose date strings mix date and
#: timestamp renderings (every 5th order), and the year whose every 50th
#: price turns negative
ENGINE_MIXED_YEARS = (1996, 1999)
ENGINE_NEGATIVE_YEAR = 1998
ENGINE_DECLARED_DATES = ("1995-01-01 00:00:00", "2000-12-31 00:00:00")


def q_engine_verdicts_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verdict table of a year-scoped run over orders: extent (hard and
    soft) and extent_congruence over the shared per-scope aggregate,
    format_consistency over a date string that mixes renderings in
    ENGINE_MIXED_YEARS, and a not_blank rule that never fires — one
    zero-filled row per (year, rule) with n_rows per scope."""
    o = _t(spark, sf_dir, "orders")
    k, year = F.col("o_orderkey"), F.year("o_orderdate")
    df = o.select(
        "o_orderkey",
        "o_orderdate",
        "o_orderpriority",
        F.when((year == ENGINE_NEGATIVE_YEAR) & (k % 50 == 0), -F.col("o_totalprice"))
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        F.when(
            year.isin(*ENGINE_MIXED_YEARS) & (k % 5 == 0),
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"),
        )
        .otherwise(F.date_format("o_orderdate", "yyyy-MM-dd"))
        .alias("o_orderdate_txt"),
    )
    lo, hi = ENGINE_DECLARED_DATES
    rs = RuleSet(
        name="engine.verdicts",
        key_cols=["o_orderkey"],
        scope="year(o_orderdate)",
        rules=[
            Rule("o_totalprice.extent_hard", "extent", column="o_totalprice",
                 params={"lo": 0.0, "hi": 500000.0}),
            Rule("o_totalprice.extent_soft", "extent", column="o_totalprice",
                 severity=WARNING, params={"lo": 1000.0, "hi": 499000.0}),
            Rule("o_orderdate.extent_congruence", "extent_congruence", column="o_orderdate",
                 params={"declared_lo": lo, "declared_hi": hi}),
            Rule("o_orderdate_txt.format", "format_consistency", column="o_orderdate_txt"),
            Rule("o_orderpriority.not_blank", "not_blank", column="o_orderpriority"),
        ],
    )
    return ValidationEngine().validate(df, rs, with_stats=False).verdicts


SQL_ENGINE_VERDICTS_ORDERS = f"""
WITH o AS (
  SELECT CAST(year(o_orderdate) AS VARCHAR) AS scope, o_orderdate, o_orderpriority,
         CASE WHEN year(o_orderdate) = {ENGINE_NEGATIVE_YEAR} AND o_orderkey % 50 = 0
              THEN -o_totalprice ELSE o_totalprice END AS price,
         CASE WHEN year(o_orderdate) IN {ENGINE_MIXED_YEARS} AND o_orderkey % 5 = 0
              THEN strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')
              ELSE strftime(o_orderdate, '%Y-%m-%d') END AS txt
  FROM orders
), agg AS (
  SELECT scope, count(*) AS n_rows,
         count(price) AS n_p, min(price) AS mn_p, max(price) AS mx_p,
         count(o_orderdate) AS n_d, min(o_orderdate) AS mn_d, max(o_orderdate) AS mx_d,
         -- format classes present (only the two date renderings occur)
         count(DISTINCT CASE
           WHEN regexp_matches(txt, '^\\d{{4}}-\\d{{2}}-\\d{{2}}[T ]')
                AND TRY_CAST(txt AS TIMESTAMP) IS NOT NULL THEN 'timestamp'
           WHEN regexp_matches(txt, '^\\d{{4}}-\\d{{2}}-\\d{{2}}$')
                AND TRY_CAST(txt AS DATE) IS NOT NULL THEN 'date'
           ELSE 'other' END) AS n_fmt,
         count(*) FILTER (WHERE o_orderpriority IS NULL OR trim(o_orderpriority) = '') AS n_blank
  FROM o GROUP BY scope
), failed AS (
  SELECT scope, n_rows, 'o_totalprice.extent_hard' AS rule_id, 'ERROR' AS severity,
         n_p > 0 AND (mn_p < 0.0 OR mx_p >= 500000.0) AS hit
  FROM agg
  UNION ALL
  SELECT scope, n_rows, 'o_totalprice.extent_soft', 'WARNING',
         n_p > 0 AND (mn_p < 1000.0 OR mx_p >= 499000.0)
  FROM agg
  UNION ALL
  SELECT scope, n_rows, 'o_orderdate.extent_congruence', 'ERROR',
         n_d > 0 AND (mn_d < TIMESTAMP '{ENGINE_DECLARED_DATES[0]}'
                      OR mx_d > TIMESTAMP '{ENGINE_DECLARED_DATES[1]}')
  FROM agg
  UNION ALL
  SELECT scope, n_rows, 'o_orderdate_txt.format', 'ERROR', n_fmt > 1 FROM agg
)
SELECT scope, rule_id, severity, n_rows, CAST(hit AS BIGINT) AS n_failed,
       severity <> 'ERROR' OR NOT hit AS passed
FROM failed
UNION ALL
SELECT scope, 'o_orderpriority.not_blank', 'ERROR', n_rows, n_blank, n_blank = 0
FROM agg
"""


#: engine_drift_keys_lineitem plants: the return flag whose even orders have
#: their price scaled (PSI there is about 2.5 at every scale, the other
#: flags stay under 0.05), and the order stride whose line 2 folds onto
#: line 1. The synthetic l_linenumber is drawn at random, so
#: (l_orderkey, l_linenumber) already repeats; the fold adds more repeats.
ENGINE_DRIFT_SCOPE = "R"
ENGINE_DRIFT_SCALE = 1.25
ENGINE_DRIFT_THRESHOLDS = {"psi_threshold": 0.25, "ks_threshold": 0.1}
ENGINE_DUP_LINE_MOD = 19


def q_engine_drift_keys_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """drift with a cohort split and unique_key on keys no sequential rule
    shares (eval_unique_key's own count) through validate(), scoped by
    l_returnflag: even orders are the current cohort, odd orders the
    baseline, and the even orders of ENGINE_DRIFT_SCOPE are priced
    ENGINE_DRIFT_SCALE times higher; line_key folds line 2 onto line 1 at
    l_orderkey % ENGINE_DUP_LINE_MOD, a duplicate wherever both lines
    share a flag."""
    li = _t(spark, sf_dir, "lineitem")
    k, price = F.col("l_orderkey"), F.col("l_extendedprice").cast("double")
    df = li.select(
        "l_orderkey",
        F.when((k % ENGINE_DUP_LINE_MOD == 0) & (F.col("l_linenumber") == 2), 1)
        .otherwise(F.col("l_linenumber"))
        .alias("line_key"),
        "l_returnflag",
        F.when(
            (F.col("l_returnflag") == ENGINE_DRIFT_SCOPE) & (k % 2 == 0),
            price * ENGINE_DRIFT_SCALE,
        )
        .otherwise(price)
        .alias("price"),
    )
    rs = RuleSet(
        name="engine.drift_keys",
        key_cols=["l_orderkey", "line_key"],
        scope="l_returnflag",
        rules=[
            Rule("price.drift", "drift", column="price",
                 params={"lo": PSI_LO, "hi": PSI_HI, "bins": PSI_BINS,
                         "split": "l_orderkey % 2 = 0", **ENGINE_DRIFT_THRESHOLDS}),
            Rule("line.unique", "unique_key", params={"keys": ["l_orderkey", "line_key"]}),
        ],
    )
    return ValidationEngine().validate(df, rs, with_stats=False).violations


SQL_ENGINE_DRIFT_KEYS_LINEITEM = f"""
WITH f AS (
  SELECT l_orderkey, l_returnflag AS scope, l_orderkey % 2 = 0 AS cur,
         CASE WHEN l_orderkey % {ENGINE_DUP_LINE_MOD} = 0 AND l_linenumber = 2 THEN 1
              ELSE l_linenumber END AS line_key,
         CASE WHEN l_returnflag = '{ENGINE_DRIFT_SCOPE}' AND l_orderkey % 2 = 0
              THEN CAST(l_extendedprice AS DOUBLE) * {ENGINE_DRIFT_SCALE}
              ELSE CAST(l_extendedprice AS DOUBLE) END AS price
  FROM lineitem
), hist AS (
  -- Spark's width_bucket: 0 below lo, bins + 1 at or above hi, NULLs dropped
  SELECT scope, cur,
         CASE WHEN price < {PSI_LO} THEN 0
              WHEN price >= {PSI_HI} THEN {PSI_BINS + 1}
              ELSE CAST(floor({PSI_BINS} * (price - {PSI_LO}) / {PSI_HI - PSI_LO}) AS BIGINT) + 1
         END AS bucket,
         count(*) AS n
  FROM f WHERE price IS NOT NULL GROUP BY ALL
), p AS (
  SELECT scope, cur, bucket, n / sum(n) OVER (PARTITION BY scope, cur) AS p FROM hist
), joined AS (
  SELECT coalesce(c.scope, b.scope) AS scope, coalesce(c.bucket, b.bucket) AS bucket,
         coalesce(c.p, 0.0) AS p_cur, coalesce(b.p, 0.0) AS p_base
  FROM (SELECT * FROM p WHERE cur) c
  FULL OUTER JOIN (SELECT * FROM p WHERE NOT cur) b USING (scope, bucket)
), cdf AS (
  SELECT scope, p_cur, p_base, sum(p_cur) OVER w AS cdf_cur, sum(p_base) OVER w AS cdf_base
  FROM joined
  WINDOW w AS (PARTITION BY scope ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), stats AS (
  SELECT scope, sum((p_cur - p_base) * ln((p_cur + 1e-6) / (p_base + 1e-6))) AS psi,
         max(abs(cdf_cur - cdf_base)) AS ks
  FROM cdf GROUP BY scope
), dup AS (
  SELECT l_orderkey, line_key, scope, count(*) AS n FROM f GROUP BY ALL
)
SELECT 'price.drift' AS rule_id, 'ERROR' AS severity, scope,
       'scope=' || scope AS entity, 'price' AS "column",
       CAST(round(psi, 6) AS VARCHAR) AS value,
       'drift on price: psi=' || CAST(round(psi, 4) AS VARCHAR)
         || ' ks=' || CAST(round(ks, 4) AS VARCHAR)
         || ' (thresholds psi>{ENGINE_DRIFT_THRESHOLDS["psi_threshold"]}, '
         || 'ks>{ENGINE_DRIFT_THRESHOLDS["ks_threshold"]})' AS message
FROM stats
WHERE psi > {ENGINE_DRIFT_THRESHOLDS["psi_threshold"]} OR ks > {ENGINE_DRIFT_THRESHOLDS["ks_threshold"]}
UNION ALL
SELECT 'line.unique', 'ERROR', scope,
       'l_orderkey=' || l_orderkey || '/line_key=' || line_key,
       'l_orderkey,line_key', CAST(n AS VARCHAR), 'duplicate key: ' || n || ' occurrences'
FROM dup WHERE n > 1
"""


QUERIES = {
    "profile_lineitem": q_profile_lineitem,
    "unique_key_orders": q_unique_key_orders,
    "sequential_lineitem": q_sequential_lineitem,
    "ref_integrity_events": q_ref_integrity_events,
    "monotone_events": q_monotone_events,
    "grammar_events": q_grammar_events,
    "levels_audit_events": q_levels_audit_events,
    "extent_orders": q_extent_orders,
    "drift_psi_lineitem": q_drift_psi_lineitem,
    "topk_parts_per_brand": q_topk_parts_per_brand,
    "dedup_exact_docs": q_dedup_exact_docs,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "text_stats_by_lang": q_text_stats_by_lang,
    "lang_id_docs": q_lang_id_docs,
    "embedding_topk": q_embedding_topk,
    "hierarchy_closure": q_hierarchy_closure,
    "name_resolution_events": q_name_resolution_events,
    "hierarchy_congruence_events": q_hierarchy_congruence_events,
    # round-5 training-hygiene ops (cross-doc span dedup, surgical
    # decontamination, LM quality) — full live DuckDB oracles
    "span_dedup_docs": q_span_dedup_docs,
    "decon_spans_docs": q_decon_spans_docs,
    "lm_quality_docs": q_lm_quality_docs,
    "quality_docs": q_quality_docs,
    "wkt_geo_audit": q_wkt_geo_audit,
    "ogc_validity_audit": q_ogc_validity_audit,
    "curate_corpus": q_curate_corpus,
    "decontaminate_docs": q_decontaminate_docs,
    "pii_audit_docs": q_pii_audit_docs,
    "corpus_split_docs": q_corpus_split_docs,
    "dedup_clusters_docs": q_dedup_clusters_docs,
    "repetition_docs": q_repetition_docs,
    "mixture_resample_docs": q_mixture_resample_docs,
    "pack_sequences_docs": q_pack_sequences_docs,
    "curate_corpus_cluster": q_curate_corpus_cluster,
    "url_audit_docs": q_url_audit_docs,
    # value-gated against a hard-coded golden VALUES table (deterministic run)
    "transcript_verdicts": q_transcript_verdicts,
    # validate() itself over sf-derived tables, one gate per rule family
    "engine_ordering_events": q_engine_ordering_events,
    "engine_keys_events": q_engine_keys_events,
    "engine_categorical_events": q_engine_categorical_events,
    "engine_row_rules_customer": q_engine_row_rules_customer,
    "engine_verdicts_orders": q_engine_verdicts_orders,
    "engine_drift_keys_lineitem": q_engine_drift_keys_lineitem,
    # stateful streaming == batch SQL (two real micro-batches, carried state)
    "stream_dedup_events": q_stream_dedup_events,
    "stream_sequence_events": q_stream_sequence_events,
    "stream_drift_events": q_stream_drift_events,
    # live recall vs the exact top-k; only the floor is pinned
    "ann_recall": q_ann_recall,
    # rows-only (non-SQL-expressible: hash-seeded signatures / engine-native)
    "minhash_lsh_docs": q_minhash_lsh_docs,
    "simhash_docs": q_simhash_docs,
    "embedding_near_dup": q_embedding_near_dup,
    "ann_topk": q_ann_topk,
    "winnow_overlap_docs": q_winnow_overlap_docs,
}

#: standalone per-backend / per-format callables kept OUT of the driver
#: catalog (capped at 50 entries) but addressable by bench.py, whose
#: headline composition must stay comparable round-over-round
BENCH_QUERIES = {
    **QUERIES,
    # relational extras displaced from the 50-entry driver catalog by the
    # round-5 hygiene gates; bench.py's HEADLINE composition still times
    # pricing_summary / top_revenue_orders round-over-round
    "pricing_summary": q_pricing_summary,
    "top_revenue_orders": q_top_revenue_orders,
    "sessionize_events": q_sessionize_events,
    "lsh_ann_topk": q_lsh_ann_topk,
    "ivf_ann_topk": q_ivf_ann_topk,
}

ORACLES = {
    "wkt_geo_audit": SQL_WKT_GEO_AUDIT,
    "ogc_validity_audit": SQL_OGC_VALIDITY_AUDIT,
    "curate_corpus": SQL_CURATE_CORPUS,
    "decontaminate_docs": SQL_DECONTAMINATE_DOCS,
    "pii_audit_docs": SQL_PII_AUDIT_DOCS,
    "corpus_split_docs": SQL_CORPUS_SPLIT_DOCS,
    "dedup_clusters_docs": SQL_DEDUP_CLUSTERS_DOCS,
    "repetition_docs": SQL_REPETITION_DOCS,
    "mixture_resample_docs": SQL_MIXTURE_RESAMPLE_DOCS,
    "pack_sequences_docs": SQL_PACK_SEQUENCES_DOCS,
    "curate_corpus_cluster": SQL_CURATE_CORPUS_CLUSTER,
    "url_audit_docs": SQL_URL_AUDIT_DOCS,
    "profile_lineitem": SQL_PROFILE_LINEITEM,
    "unique_key_orders": SQL_UNIQUE_KEY_ORDERS,
    "sequential_lineitem": SQL_SEQUENTIAL_LINEITEM,
    "ref_integrity_events": SQL_REF_INTEGRITY_EVENTS,
    "monotone_events": SQL_MONOTONE_EVENTS,
    "grammar_events": SQL_GRAMMAR_EVENTS,
    "levels_audit_events": SQL_LEVELS_AUDIT_EVENTS,
    "extent_orders": SQL_EXTENT_ORDERS,
    "drift_psi_lineitem": SQL_DRIFT_PSI_LINEITEM,
    "span_dedup_docs": SQL_SPAN_DEDUP_DOCS,
    "decon_spans_docs": SQL_DECON_SPANS_DOCS,
    "lm_quality_docs": SQL_LM_QUALITY_DOCS,
    "topk_parts_per_brand": SQL_TOPK_PARTS_PER_BRAND,
    "dedup_exact_docs": SQL_DEDUP_EXACT_DOCS,
    "dedup_ngram_jaccard": SQL_DEDUP_NGRAM_JACCARD,
    "text_stats_by_lang": SQL_TEXT_STATS_BY_LANG,
    "lang_id_docs": SQL_LANG_ID_DOCS,
    "embedding_topk": SQL_EMBEDDING_TOPK,
    "hierarchy_closure": SQL_HIERARCHY_CLOSURE,
    "name_resolution_events": SQL_NAME_RESOLUTION_EVENTS,
    "hierarchy_congruence_events": SQL_HIERARCHY_CONGRUENCE_EVENTS,
    "transcript_verdicts": SQL_TRANSCRIPT_VERDICTS,
    "engine_ordering_events": SQL_ENGINE_ORDERING_EVENTS,
    "engine_keys_events": SQL_ENGINE_KEYS_EVENTS,
    "engine_categorical_events": SQL_ENGINE_CATEGORICAL_EVENTS,
    "engine_row_rules_customer": SQL_ENGINE_ROW_RULES_CUSTOMER,
    "engine_verdicts_orders": SQL_ENGINE_VERDICTS_ORDERS,
    "engine_drift_keys_lineitem": SQL_ENGINE_DRIFT_KEYS_LINEITEM,
    "stream_sequence_events": SQL_STREAM_SEQUENCE_EVENTS,
    "stream_dedup_events": SQL_STREAM_DEDUP_EVENTS,
    "stream_drift_events": SQL_STREAM_DRIFT_EVENTS,
    "ann_recall": SQL_ANN_RECALL,
    "quality_docs": SQL_QUALITY_DOCS,
    "minhash_lsh_docs": SQL_MINHASH_LSH_DOCS,
    # pinned golden VALUES oracles (independent purepy_ref implementation,
    # generated by tools/gen_golden_oracles.py, valid at the driver's sf0.01)
    **GOLDEN_ORACLES,
}

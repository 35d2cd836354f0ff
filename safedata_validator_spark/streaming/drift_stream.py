"""Streaming distribution drift: watermarked per-window histograms scored
against a baseline with PSI/KS as windows close.

The batch engine checks drift between two static cohorts or against a
stored histogram (engine/drift.py); a monitoring pipeline needs the same
verdict PER EVENT-TIME WINDOW as data arrives — "did this hour/day of
traffic drift from the reference distribution?". Split into the two
natural halves of the streaming plan:

* ``windowed_histogram`` — the STATEFUL half: watermark + windowed
  ``groupBy(window, bucket).count()`` in append mode. One stateful
  aggregation (runs on any Spark that supports streaming aggs); state is
  bounded — at most nbins+2 counter rows per open window, evicted as the
  watermark passes the window end. A closed window emits its complete
  histogram exactly once (append semantics: emitted when
  ``window.end <= watermark``, watermark = max event time − delay).
* ``score_drift_windows`` — the STATELESS half, shared verbatim with the
  batch engine: PSI + KS per closed window against a (bucket, n) baseline
  via engine/drift.compare_histograms (each window becomes a ``scope``).
  Runs downstream of the histogram stream — inside ``foreachBatch``, over
  a sink table, or in the same micro-batch job — and costs O(nbins) per
  window, so the 100-TB side of the computation is entirely the map-side
  combined histogram; nothing heavier than nbins+2 rows per window ever
  shuffles or persists.

Scale shape: bucketing is a JVM-side ``width_bucket`` projection (no
Python); the windowed count has map-side partial aggregation, so each
executor contributes at most (windows × buckets) partial rows per batch
regardless of row count; hot windows (all traffic lands in the current
window) are fine because the groupBy key includes the bucket — skew is
spread over nbins+2 keys times shuffle partitions.

No reference analogue (the reference validates one file at a time); this
extends the engine's north-rule drift addition (BASELINE.json: "KS/PSI
distribution-drift checks on per-column summaries") to Structured
Streaming, beside the stateful sequence checks (validate_stream.py) and
streaming exact dedup (dedup_stream.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from safedata_validator_spark.engine.drift import compare_histograms, histogram_bucket


def windowed_histogram(
    stream_df: DataFrame,
    value_expr: str,
    lo: float,
    hi: float,
    nbins: int = 20,
    ts_col: str = "ts",
    window_dur: str = "1 hour",
    delay: str = "0 seconds",
) -> DataFrame:
    """Streaming fixed-width histogram per event-time window →
    (win_start, win_end, bucket, n), append mode. Bucket 0 = underflow,
    nbins+1 = overflow (width_bucket semantics, same as the batch
    engine.drift.histogram); NULL values are dropped. Each window's rows
    are emitted exactly once, complete, when the watermark
    (max event time − ``delay``) reaches the window end."""
    bucket = histogram_bucket(value_expr, lo, hi, nbins)
    return (
        # watermarks require TIMESTAMP (with tz); parquet sources often carry
        # TIMESTAMP_NTZ — the cast is value-preserving under the session's
        # pinned UTC timezone (session.build_session)
        stream_df.select(
            F.col(ts_col).cast("timestamp").alias("__ts"), bucket.alias("bucket")
        )
        .where(F.col("bucket").isNotNull())
        .withWatermark("__ts", delay)
        .groupBy(F.window("__ts", window_dur).alias("win"), "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "bucket",
            "n",
        )
    )


def score_drift_windows(hist_df: DataFrame, baseline: DataFrame) -> DataFrame:
    """Score each closed window's histogram against a static baseline →
    (win_start, psi, ks). ``hist_df`` is windowed_histogram output (batch
    or collected sink); ``baseline`` is a (bucket, n) reference histogram
    (e.g. engine.drift.histogram of the reference corpus, scope dropped).
    Reuses the batch engine's compare_histograms by treating each window
    start as a scope, so streaming and batch drift scores are the same
    code path — epsilon-smoothed PSI and max-|ΔCDF| KS over the bucket
    axis."""
    cur = hist_df.select(
        F.date_format("win_start", "yyyy-MM-dd HH:mm:ss").alias("scope"),
        "bucket",
        "n",
    )
    scopes = cur.select("scope").distinct()
    base = scopes.crossJoin(
        F.broadcast(baseline.select("bucket", "n"))
    ).select("scope", "bucket", "n")
    return compare_histograms(cur, base).select(
        F.col("scope").alias("win_start"), "psi", "ks"
    )

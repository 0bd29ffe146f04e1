"""Grouped outlier detection over metric columns.

Two detectors, both pure window/aggregate expressions (no Python, one
shuffle on the group key):

- zscore_outliers : |v - mean| / stddev over the group — the classic
  parametric flag; cheap, but mean/std are themselves skewed by the
  outliers they hunt.
- mad_outliers    : |v - median| / MAD (median absolute deviation) —
  the robust variant (Hampel); medians are data values, so it is both
  outlier-resistant and engine-reproducible (no float-sum ordering
  sensitivity).

Group statistics are computed with ONE aggregation and broadcast back
onto the events (group cardinality is small by contract — event types,
sensors, tenants). At 100 TB the event relation is never shuffled for
the stats; only the final filter scans it.

Degenerate groups are excluded, matching SQL NULL semantics: a
single-row group has NULL stddev; an all-identical group has MAD 0 —
both make the score NULL (guarded division), and NULL never passes the
threshold filter in either engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _score(v: Column, center: Column, spread: Column) -> Column:
    """(v - center) / spread, NULL when spread is NULL or 0."""
    return F.when(spread > 0, (v - center) / spread)


def winsorize(
    df: DataFrame,
    value_col: str = "value",
    keys: list[str] | None = None,
    lower: float = 0.05,
    upper: float = 0.95,
) -> DataFrame:
    """Per-key winsorization (outlier CAPPING, the treatment companion
    to the detection operators above): clip ``value_col`` into the
    per-key [p_lower, p_upper] continuous-percentile band — the
    standard robust preprocessing step before training on heavy-tailed
    features, where dropping outliers loses rows but capping keeps
    them.

    Adds ``p_lo`` / ``p_hi`` (the bounds, rounded 6) and ``value_w``
    (the clipped value, rounded 6; NULL stays NULL — least/greatest
    null semantics differ between engines, so the null case is pinned
    explicitly).

    Physical shape: one tiny per-key percentile aggregation broadcast
    back onto the relation — the same two-pass
    stats-never-shuffle-the-fact-table shape as zscore_outliers. Exact
    continuous percentiles are one sort per key inside the aggregate;
    at extreme group cardinality swap in approx_percentile upstream.
    """
    if not (0.0 <= lower <= upper <= 1.0):
        # lower > upper would silently collapse every value to p_upper
        # via least(greatest(v, plo), phi)
        raise ValueError(
            f"need 0 <= lower <= upper <= 1, got ({lower}, {upper})")
    keys = keys or []
    v = F.col(value_col)
    bounds = df.groupBy(*keys).agg(
        F.percentile(v, F.lit(float(lower))).alias("_plo"),
        F.percentile(v, F.lit(float(upper))).alias("_phi"))
    joined = (df.join(F.broadcast(bounds), on=keys)
              if keys else df.crossJoin(F.broadcast(bounds)))
    clipped = F.when(v.isNull(), F.lit(None).cast("double")).otherwise(
        F.least(F.greatest(v, F.col("_plo")), F.col("_phi")))
    return joined.select(
        *df.columns,
        F.round("_plo", 6).alias("p_lo"),
        F.round("_phi", 6).alias("p_hi"),
        F.round(clipped, 6).alias("value_w"),
    )


def zscore_outliers(
    df: DataFrame,
    value_col: str = "value",
    group_cols: list[str] | None = None,
    threshold: float = 2.0,
) -> DataFrame:
    """Rows whose |z| = |v - mean| / stddev_samp exceeds ``threshold``.

    Output: input columns + ``z`` (rounded 6; the filter runs on the
    ROUNDED score so an oracle replay rounds identically).
    """
    keys = group_cols or []
    stats = df.groupBy(*keys).agg(
        F.avg(value_col).alias("_mu"),
        F.stddev(value_col).alias("_sigma"))
    z = F.round(_score(F.col(value_col), F.col("_mu"), F.col("_sigma")), 6)
    joined = (df.join(F.broadcast(stats), keys) if keys
              else df.crossJoin(F.broadcast(stats)))
    return (joined.withColumn("z", z)
            .filter(F.abs(F.col("z")) > threshold)
            .drop("_mu", "_sigma"))


def mad_outliers(
    df: DataFrame,
    value_col: str = "value",
    group_cols: list[str] | None = None,
    threshold: float = 3.0,
) -> DataFrame:
    """Rows with |v - median| / MAD > threshold (Hampel identifier).

    MAD = median(|v - median(v)|) per group; two aggregation passes
    (the second needs the first's median), each over the group key —
    still no event-relation shuffle: stats broadcast back both times.
    """
    keys = group_cols or []
    med = df.groupBy(*keys).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("_med"))
    with_med = (df.join(F.broadcast(med), keys) if keys
                else df.crossJoin(F.broadcast(med)))
    mad = with_med.groupBy(*keys).agg(
        F.expr(f"percentile(abs({value_col} - _med), 0.5)").alias("_mad"))
    joined = (with_med.join(F.broadcast(mad), keys) if keys
              else with_med.crossJoin(F.broadcast(mad)))
    score = F.round(
        _score(F.col(value_col), F.col("_med"), F.col("_mad")), 6)
    return (joined.withColumn("mad_score", score)
            .filter(F.abs(F.col("mad_score")) > threshold)
            .drop("_med", "_mad"))

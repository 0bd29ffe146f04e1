"""Multi-resolution time rollups (hypertable-style continuous
aggregates) — north-star extension generalizing the reference's daily
bucketing (A-2, create_schema.sql:88,:93) to a resolution hierarchy.

The defining property: coarser levels re-aggregate the FINEST level, not
the raw table. At 100 TB the minute-level aggregate is typically 3-6
orders of magnitude smaller than the fact table, so hour/day levels cost
O(minute groups), and the raw data is scanned exactly ONCE for the whole
hierarchy. This is exact (not approximate) because the carried
aggregates are decomposable: count re-aggregates by sum, sum by sum
(in DECIMAL, so addition is associative bit-for-bit — double sums would
drift between direct and re-aggregated paths), min/max by min/max; avg
is derived at the end as sum/count and therefore also exact.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame

from dump1090_db_stream_spark.cache import track
from pyspark.sql import functions as F

#: resolution name -> date_trunc unit (ordered finest -> coarsest)
RESOLUTIONS = ["minute", "hour", "day"]


def time_rollup(
    df: DataFrame,
    ts: str,
    keys: list[str],
    value: str,
    bucket_col: str = "bucket_start",
    resolution_col: str = "resolution",
) -> DataFrame:
    """Exact rollup of count/sum/min/max of ``value`` per ``keys`` at each
    of :data:`RESOLUTIONS`, each coarser level derived from the previous
    one.

    Output columns: ``resolution, bucket_start, *keys, n_rows, value_sum,
    value_min, value_max`` — one row per (resolution, bucket, keys).

    Shuffle inventory: one full-size shuffle (raw -> minute, map-side
    partial agg first), then one tiny shuffle per extra level over the
    already-aggregated rows. A naive per-level GROUP BY over raw data
    would scan and shuffle the fact table once PER LEVEL.

    Each intermediate level is cached (``cache.track``) before the next
    derives from it. Without that, Spark's union would replay the whole
    lineage per branch — the day branch re-scanning the raw table
    through minute AND hour — because Catalyst does no cross-branch
    common-subexpression reuse. The cached levels are aggregate-sized
    (O(buckets x keys), not O(rows)).
    """
    finest = RESOLUTIONS[0]
    level = (
        df.groupBy(
            F.date_trunc(finest, F.col(ts)).alias(bucket_col),
            *[F.col(k) for k in keys],
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col(value).cast("decimal(28,8)")).alias("_sum"),
            F.min(value).alias("value_min"),
            F.max(value).alias("value_max"),
        )
    )
    level = track(level)
    levels = [level.withColumn(resolution_col, F.lit(finest))]
    for i, res in enumerate(RESOLUTIONS[1:], start=1):
        level = (
            level.groupBy(
                F.date_trunc(res, F.col(bucket_col)).alias(bucket_col),
                *[F.col(k) for k in keys],
            )
            .agg(
                F.sum("n_rows").alias("n_rows"),
                F.sum("_sum").alias("_sum"),
                F.min("value_min").alias("value_min"),
                F.max("value_max").alias("value_max"),
            )
        )
        if i < len(RESOLUTIONS) - 1:
            level = track(level)
        levels.append(level.withColumn(resolution_col, F.lit(res)))
    out = reduce(lambda a, b: a.unionByName(b), levels)
    return out.select(
        resolution_col,
        bucket_col,
        *keys,
        "n_rows",
        F.round(F.col("_sum").cast("double"), 6).alias("value_sum"),
        "value_min",
        "value_max",
    )

"""Event-time window operators beyond tumbling/session windows.

Shapes a telemetry/feature pipeline needs that the existing
rollup/session operators don't cover:

- sliding_window_agg : overlapping fixed windows (width > slide) via
  the built-in ``F.window`` — each event lands in width/slide windows,
  Spark plans it as one explode + hash aggregation (no self-join).
  The tumbling case is width == slide; session windows live in
  streaming/pipeline.py.
- trailing_range_stats : per-ROW trailing aggregates over an event-time
  RANGE frame ([t - range, t] per row) — the "features as of this
  event" primitive (trailing 1 h event count, rolling mean). Uses a
  numeric range frame over epoch MICROSECONDS so sub-second timestamps
  order exactly and any ANSI engine replays the frame bit-for-bit
  (interval-typed frames have engine-specific inclusivity folklore;
  integers do not).
- gap_fill : dense per-key time grid with last-observation-carried-
  forward and linear interpolation — the TimescaleDB
  ``time_bucket_gapfill``/``locf``/``interpolate`` triple, re-expressed
  as sequence-explode + ignore-nulls window frames (no Python, no
  per-gap joins).
- interval_overlap_pairs : overlapping-interval self-join via time
  bucket cover + later-start pair-once discipline (the 1-D analog of
  geo.close_encounters) — never a cross product.

Scale: both window operators are single-shuffle (window-key hash agg /
one partition-key exchange); the range frame is evaluated with a
sliding two-pointer in both engines — O(rows) per partition, state
bounded by the frame's row count. gap_fill adds two aggregate-sized
shuffles AFTER the raw table has been reduced to O(nonempty buckets).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dump1090_db_stream_spark.cache import track

MICROS_PER_SEC = 1_000_000


def epoch_bucket(ts: Column, period_seconds: int) -> Column:
    """Integer epoch bucket index: floor(epoch_us / period_us), as
    BIGINT. The shared bucketing primitive for gap_fill, cohort
    retention, trailing actives, and the sketch store — ONE definition
    so the semantics cannot drift between operators.

    F.floor (not a bare cast('long')) because casting truncates toward
    zero: a pre-1970 timestamp like 1969-12-31 18:00 (epoch_us < 0)
    must land in bucket -1 to match the ANSI floor-division (`//`)
    replay every oracle uses. The double division is exact here:
    |epoch_us| < 2^53 until the year 2255."""
    return F.floor(
        F.unix_micros(ts.cast("timestamp"))
        / F.lit(period_seconds * MICROS_PER_SEC)
    ).cast("long")


def sliding_window_agg(
    df: DataFrame,
    ts_col: str,
    width: str,
    slide: str,
    keys: list[str],
    *aggs: Column,
) -> DataFrame:
    """Aggregate per (sliding window, keys): window_start, window_end,
    keys..., aggs... — [start, end) semantics, width/slide windows per
    event."""
    return (
        df.groupBy(F.window(ts_col, width, slide).alias("_w"), *keys)
        .agg(*aggs)
        .withColumn("window_start", F.col("_w.start"))
        .withColumn("window_end", F.col("_w.end"))
        .drop("_w")
    )


def trailing_range_stats(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    part_col: str = "user_id",
    trailing_seconds: int = 3600,
) -> DataFrame:
    """Adds per-row trailing-frame features over [t - trailing, t]:

    - n_trail    : events in the frame (including the current row)
    - sum_trail  : sum of ``value_col`` over the frame (rounded 6)
    - avg_trail  : mean over the frame (rounded 6)

    Frame bounds are inclusive on both ends, expressed in epoch
    microseconds; ties in ts fall in the same frame position in any
    engine because RANGE frames group peers by ORDER BY value.
    """
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = (Window.partitionBy(part_col)
         .orderBy(us)
         .rangeBetween(-trailing_seconds * MICROS_PER_SEC, 0))
    return df.select(
        "*",
        F.count(F.lit(1)).over(w).alias("n_trail"),
        F.round(F.sum(value_col).over(w), 6).alias("sum_trail"),
        F.round(F.avg(value_col).over(w), 6).alias("avg_trail"),
    )


def gap_fill(
    df: DataFrame,
    ts_col: str = "ts",
    keys: list[str] | None = None,
    value_col: str = "value",
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Dense time grid per key with gap statistics, LOCF, and linear
    interpolation (the continuous-aggregate companion to ``time_rollup``;
    semantics follow TimescaleDB's gapfill family, re-derived here from
    its public docs — nothing in the reference covers gaps, its views
    simply skip empty days, create_schema.sql:85-93).

    Output, one row per (keys, bucket) covering EVERY bucket between each
    key's first and last observation (empty buckets included):

    - ``bucket_start``  : bucket timestamp (epoch // bucket_seconds grid)
    - ``n_obs``         : observations in the bucket (0 for gaps)
    - ``value_avg``     : mean of observed values (NULL for gaps), round 6
    - ``value_locf``    : value_avg with gaps filled by the most recent
      non-empty bucket (NULL before the first observation), round 6
    - ``value_interp``  : linear interpolation between the bracketing
      non-empty buckets, in bucket-index space; equals value_avg on
      non-empty buckets and NULL outside the observed span, round 6

    Plan shape (scale contract): one full-size map-side-combined shuffle
    reduces the raw table to O(nonempty buckets); everything after runs
    on aggregate-sized data — a per-key min/max agg, a ``sequence``
    explode generating span/bucket rows per key (no Python, no driver
    loop), one equi join grid<-buckets, and one window pass per key for
    the ignore-nulls LOCF/interp frames. The bucket aggregate is cached
    (``cache.track``) because it feeds BOTH the span agg and
    the grid join — without the barrier Catalyst replays the raw scan +
    shuffle per branch (no cross-branch reuse); the cache is
    aggregate-sized and the caller releases it (cache.release_tracked),
    the same contract as rollup.time_rollup. Buckets are integer epoch
    indices (epoch_us // (bucket_seconds * 1e6)) so any ANSI engine
    replays the grid bit-for-bit; interpolation runs in index space with
    integer deltas, so the only float ops (one divide, one multiply, one
    add over IEEE doubles) are order-fixed and engine-reproducible.

    At 100 TB the grid size is bounded by keys x (span / bucket): choose
    ``bucket_seconds`` so that per-key spans stay O(10^4-10^6) buckets;
    the raw relation is scanned exactly once regardless.
    """
    keys = keys or []
    idx = epoch_bucket(F.col(ts_col), bucket_seconds)
    buckets = track(
        df.groupBy(*keys, idx.alias("_b"))
        .agg(F.count(F.lit(1)).alias("n_obs"),
             F.avg(value_col).alias("_avg"))
    )
    grid = (
        buckets.groupBy(*keys)
        .agg(F.min("_b").alias("_lo"), F.max("_b").alias("_hi"))
        .select(*keys, F.explode(F.sequence("_lo", "_hi")).alias("_b"))
    )
    dense = (
        grid.join(buckets, on=[*keys, "_b"], how="left")
        .withColumn("n_obs", F.coalesce("n_obs", F.lit(0)))
    )
    w_past = (Window.partitionBy(*keys).orderBy("_b")
              .rowsBetween(Window.unboundedPreceding, 0))
    w_future = (Window.partitionBy(*keys).orderBy("_b")
                .rowsBetween(0, Window.unboundedFollowing))
    prev_v = F.last("_avg", ignorenulls=True).over(w_past)
    prev_b = F.last(F.when(F.col("_avg").isNotNull(), F.col("_b")),
                    ignorenulls=True).over(w_past)
    next_v = F.first("_avg", ignorenulls=True).over(w_future)
    next_b = F.first(F.when(F.col("_avg").isNotNull(), F.col("_b")),
                     ignorenulls=True).over(w_future)
    interp = F.when(F.col("_avg").isNotNull(), F.col("_avg")).otherwise(
        prev_v + (next_v - prev_v)
        * ((F.col("_b") - prev_b).cast("double")
           / (next_b - prev_b).cast("double")))
    return dense.select(
        *keys,
        F.timestamp_seconds(F.col("_b") * bucket_seconds)
         .alias("bucket_start"),
        "n_obs",
        F.round("_avg", 6).alias("value_avg"),
        F.round(prev_v, 6).alias("value_locf"),
        F.round(interp, 6).alias("value_interp"),
    )


def interval_overlap_pairs(
    df: DataFrame,
    id_cols: list[str],
    start_col: str,
    end_col: str,
    bucket_seconds: int,
    on_reversed: str = "drop",
) -> DataFrame:
    """Self-join of overlapping CLOSED intervals ([start, end] with
    a.start <= b.end AND b.start <= a.end) without a cross product —
    the 1-D analog of the spatio-temporal close-encounters join
    (operators.geo.close_encounters applies the same cover/discipline
    pattern in (time, lat, lon)): concurrent sessions, overlapping
    outages vs deploys, conflicting SCD2 validity runs.

    Spark-first shape: each interval is replicated onto the integer
    time buckets it covers (``sequence(floor(start/b), floor(end/b))``
    — length/bucket_seconds + 1 replicas, so pick ``bucket_seconds``
    near the typical interval length), candidates meet in a bucket
    EQUI-join, the exact overlap predicate runs as the residual, and
    the pair-once discipline keeps a pair only in the bucket holding
    the LATER start (``floor(greatest(a.start, b.start)/b)``) — if a
    and b overlap, a covers the bucket where b starts and vice versa,
    so exactly one copy of every qualifying pair survives with no
    ``distinct()``. Lexicographic id ordering emits each unordered
    pair once.

    Output: a-side ids (original names), b-side ids (``_b`` suffix),
    both intervals as epoch micros (``start_a/end_a/start_b/end_b``),
    and ``overlap_sec`` (rounded 6). Skew note: a bucket's cost is
    quadratic in its interval count — for heavy wall-clock hotspots
    shrink ``bucket_seconds`` (more replicas, finer buckets), the same
    dial as the geo grid cell.

    REVERSED intervals (end < start — corrupt rows) are excluded
    before the explode under the default ``on_reversed="drop"``
    (advisor r5 finding: Spark's ``sequence()`` generates DESCENDING
    ranges, so a reversed interval silently exploded onto wrong
    buckets and produced garbage/no pairs instead of surfacing the
    corrupt row — the token_budget_sample negative-cost exclusion
    rationale applies). ``on_reversed="raise"`` fails the job on the
    first reversed row instead, for pipelines that gate on clean
    inputs.
    """
    if bucket_seconds < 1:
        raise ValueError(f"bucket_seconds must be >= 1, got {bucket_seconds}")
    if on_reversed not in ("drop", "raise"):
        raise ValueError(
            f"on_reversed must be 'drop' or 'raise', got {on_reversed!r}")
    b_us = F.lit(bucket_seconds * MICROS_PER_SEC)
    st = F.unix_micros(F.col(start_col).cast("timestamp"))
    en = F.unix_micros(F.col(end_col).cast("timestamp"))
    if on_reversed == "raise":
        # the assertion lives in a FILTER (a projected-then-dropped
        # column would be pruned by Catalyst and never evaluated).
        # NULL bounds are NOT reversed intervals: they fall through to
        # the NULL branch, which the filter drops — the same silent
        # exclusion the pre-guard explode applied to NULL timestamps.
        df = df.filter(
            F.when(en.isNull() | st.isNull(), F.lit(None).cast("boolean"))
            .when(en >= st, F.lit(True))
            .otherwise(F.raise_error(F.concat(
                F.lit("interval_overlap_pairs: reversed interval "
                      "(end < start) at "),
                F.to_json(F.struct(*[F.col(c) for c in id_cols]))))))
    else:
        df = df.filter(en >= st)
    base = df.select(
        *[F.col(c) for c in id_cols],
        st.alias("_st"), en.alias("_en"),
        F.explode(F.sequence(F.floor(st / b_us), F.floor(en / b_us)))
         .alias("_bk"),
    )
    a = base.select(
        F.col("_bk"),
        *[F.col(c).alias(f"_a_{c}") for c in id_cols],
        F.col("_st").alias("start_a"), F.col("_en").alias("end_a"),
    )
    b = base.select(
        F.col("_bk"),
        *[F.col(c).alias(f"_b_{c}") for c in id_cols],
        F.col("_st").alias("start_b"), F.col("_en").alias("end_b"),
    )
    a_key = F.struct(*[F.col(f"_a_{c}") for c in id_cols])
    b_key = F.struct(*[F.col(f"_b_{c}") for c in id_cols])
    later_start = F.greatest(F.col("start_a"), F.col("start_b"))
    pairs = (
        a.join(b, "_bk")
        .filter(
            (a_key < b_key)
            & (F.col("start_a") <= F.col("end_b"))
            & (F.col("start_b") <= F.col("end_a"))
            & (F.floor(later_start / b_us) == F.col("_bk"))
        )
    )
    overlap = (
        F.least(F.col("end_a"), F.col("end_b")) - later_start
    ).cast("double") / MICROS_PER_SEC
    return pairs.select(
        *[F.col(f"_a_{c}").alias(c) for c in id_cols],
        *[F.col(f"_b_{c}") for c in id_cols],
        "start_a", "end_a", "start_b", "end_b",
        F.round(overlap, 6).alias("overlap_sec"),
    )

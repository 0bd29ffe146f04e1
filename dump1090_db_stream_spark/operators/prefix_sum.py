"""Distributed exclusive prefix-sum over an ordered relation.

The one plan shape Spark's Window API cannot express scale-safely on
its own: a cumulative sum in GLOBAL value order (``Window.orderBy(v)``
with no partitionBy plans an ``Exchange SinglePartition`` — the whole
relation through one task). The classic parallel fix decomposes it:

    1. bucket rows by broadcast quantile bounds of the order column
       (monotone bucketing — bucket i holds values strictly between
       bounds, so cross-bucket order is total);
    2. run the cumulative window PARTITIONED by bucket (parallel);
    3. per-bucket totals — a bounded ``n_range_buckets``-row relation —
       take the only remaining global ordered window, and their
       exclusive running totals broadcast back as bucket offsets.

Every intermediate is an integer sum, so the decomposition is
bit-identical to the single global window it replaces; the approximate
bounds only shift LOAD between buckets, never values. One primitive,
:func:`distributed_prev_counts_multi`, serves every caller:
``operators.evaluation.auc_score``/``auc_score_by`` (continuous-score
ranks), ``operators.sampling.quantile_normalize`` (distinct-value
grids), the ``operators.drift`` KS / rank-sum / W1 family (W1 adds the
ordered neighbour, ``with_next``), ``operators.profiling`` exact
quantiles and ``operators.relevance`` vocabulary Gini.

No reference-repo counterpart (the reference delegates ordering to
PostgreSQL, ``create_schema.sql`` end-to-end); this is engine-level
machinery for the 100 TB extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Broadcast budget for the per-group relations: the bounds (one
# ~n_range_buckets-double row per group) and the offsets (groups x
# buckets rows of (key, bucket, offset)). 2**20 offset rows ~= 60-80 MB
# as a hash relation — the per-executor ceiling.
_OFFSET_ROW_BUDGET = 1 << 20
_MAX_BROADCAST_GROUPS = 65_536


def distributed_prev_counts_multi(
    rel: DataFrame,
    order_col: str,
    cnt_cols: tuple[str, ...],
    n_range_buckets: int = 64,
    extra_cols: tuple[str, ...] = (),
    partition_cols: tuple[str, ...] = (),
    with_totals: bool = False,
    with_next: bool = False,
) -> DataFrame:
    """Add, for each count column ``c`` in ``cnt_cols``, ``_prev<c>`` —
    the exclusive running sum of ``c`` in ``order_col`` order — to
    ``rel`` (one row per distinct ``(*partition_cols, order_col)``
    value) without an input-grain single-task sort. All count columns
    share ONE bucketed pass: one quantile-bounds aggregate (counted
    once when grouped), one cumulative window (same spec — one sort), one
    bucket-totals aggregate and one offsets join; every output column
    rides the same row, so there is no re-join. The two-sample drift
    family needs the union and ref-side counts at every distinct
    (key, score) point, and W1 the next distinct score as well.

    With ``partition_cols`` the running sums restart per
    partition-key combination and EVERY stage is keyed by the
    partition columns too: quantile bounds come from a grouped
    ``percentile_approx`` (one bounded row per group), the cumulative
    window runs over (group, bucket), and the offsets window over the
    (group, bucket) totals is PARTITIONED by group — so even a group
    holding 80% of a corpus of continuous values sorts at most
    ~its-share / ``n_range_buckets`` rows per task. Partition columns
    must be non-null (a NULL group key would drop at the bounds join).

    ``rel`` feeds three branches (quantile bounds, bucket totals, the
    ranked output); callers that read it from an expensive upstream
    should persist it first (``cache.track`` discipline).

    Output columns: ``*partition_cols, order_col, *cnt_cols,
    *extra_cols``, one ``_prev<c>`` per count column, one
    ``_total<c>`` (the per-group sum of ``c``; the grand total when
    ungrouped) per count column when ``with_totals`` — it rides the
    bounds aggregate/broadcast that already exists — and ``_next``
    (the next distinct ``order_col`` value per group, NULL on the last
    row) when ``with_next``. ``rel`` must be DISTINCT on
    ``(*partition_cols, order_col)`` when ``with_next``: ``lead`` runs
    per (group, bucket) and each bucket's last row stitches to the
    next non-empty bucket's minimum, which monotone bucketing makes
    exact. Pinned against plain global windows by
    ``tests/test_prefix_sum.py``.

    Degenerate ``n_range_buckets=1`` (exercised by the exactness
    tests): the bucket column collapses to a constant, so with NO
    partition cols the whole distinct relation goes through one task
    — exactly the funnel this module exists to avoid. Scale-path
    callers keep the default 64.

    JOIN CHOICE: the grouped bounds relation holds one
    ~``n_range_buckets``-double row per partition-key combination and
    the offsets relation ``groups x n_range_buckets`` rows. When
    grouped, the bounds relation is persisted and counted before the
    plan is built (the join reuses the persisted relation). Up to
    ``min(65,536, 2**20 // n_range_buckets)`` groups both relations are
    BROADCAST; above that they attach through plain equi-joins on the
    partition key, which scale to any cardinality. The two plans are
    bit-identical.
    """
    if n_range_buckets < 1:
        raise ValueError(
            f"n_range_buckets must be >= 1, got {n_range_buckets}")
    if not cnt_cols:
        raise ValueError("cnt_cols must be non-empty")
    pcols = list(partition_cols)
    cnts = list(cnt_cols)
    probs = [i / n_range_buckets for i in range(1, n_range_buckets)]
    tot = ([F.sum(c).alias(f"_total{c}") for c in cnts]
           if with_totals else [])

    per_group = tot
    if probs:
        per_group = [F.percentile_approx(order_col, probs, 1_000)
                     .alias("_bnds"), *tot]
    small = rel.groupBy(*pcols).agg(*per_group) if per_group else None
    broadcast = True
    if pcols:
        from dump1090_db_stream_spark.cache import track

        if small is None:
            n_groups = rel.select(*pcols).distinct().count()
        else:
            small = track(small)    # the count and the join reuse it
            n_groups = small.count()
        broadcast = n_groups <= min(
            _MAX_BROADCAST_GROUPS,
            max(1, _OFFSET_ROW_BUDGET // n_range_buckets))
    if small is None:
        bucketed = rel
    elif pcols:
        bucketed = rel.join(F.broadcast(small) if broadcast else small,
                            pcols)
    else:
        bucketed = rel.crossJoin(F.broadcast(small))
    if probs:
        bucket = F.aggregate(
            "_bnds", F.lit(0),
            lambda acc, b: acc + F.when(F.col(order_col) >= b,
                                        F.lit(1)).otherwise(F.lit(0)))
        bucketed = bucketed.withColumn("_b", bucket).drop("_bnds")
    else:                               # n_range_buckets == 1: degenerate
        bucketed = bucketed.withColumn("_b", F.lit(0))
    w_local = (Window.partitionBy(*pcols, "_b").orderBy(order_col)
               .rowsBetween(Window.unboundedPreceding, -1))
    btot = bucketed.groupBy(*pcols, "_b").agg(
        *[F.sum(c).alias(f"_btot{c}") for c in cnts],
        *([F.min(order_col).alias("_bfirst")] if with_next else []))
    w_off = (Window.partitionBy(*pcols).orderBy("_b")
             .rowsBetween(Window.unboundedPreceding, -1))
    off_cols = [F.coalesce(F.sum(f"_btot{c}").over(w_off), F.lit(0))
                .alias(f"_off{c}") for c in cnts]
    if with_next:
        # the cross-bucket stitch value rides the SAME bounded offsets
        # relation instead of a second broadcast + join
        off_cols.append(
            F.first("_bfirst").over(
                Window.partitionBy(*pcols).orderBy("_b")
                .rowsBetween(1, Window.unboundedFollowing))
            .alias("_nextb_first"))
    offsets = btot.select(*pcols, "_b", *off_cols)
    if broadcast:
        offsets = F.broadcast(offsets)
    out = bucketed
    for c in cnts:
        out = out.withColumn(
            f"_loc{c}",
            F.coalesce(F.sum(c).over(w_local), F.lit(0)))
    if with_next:
        # same (group, bucket) partitioning and order as w_local — the
        # planner reuses the one exchange + sort
        out = out.withColumn(
            "_lead",
            F.lead(order_col).over(
                Window.partitionBy(*pcols, "_b").orderBy(order_col)))
    return (out
            .join(offsets, pcols + ["_b"])
            .select(*pcols, order_col, *cnts, *extra_cols,
                    *[(F.col(f"_off{c}") + F.col(f"_loc{c}"))
                      .alias(f"_prev{c}") for c in cnts],
                    *([f"_total{c}" for c in cnts] if with_totals
                      else []),
                    *([F.coalesce("_lead", "_nextb_first").alias("_next")]
                      if with_next else [])))

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

# Row budget for the grouped OFFSETS broadcast (groups x buckets rows
# of (key, bucket, offset)): 2**20 rows ~= 60-80 MB as a hash
# relation — the per-executor ceiling the vocabulary guard enforces.
_OFFSET_ROW_BUDGET = 1 << 20


def distributed_prev_counts_multi(
    rel: DataFrame,
    order_col: str,
    cnt_cols: tuple[str, ...],
    n_range_buckets: int = 64,
    extra_cols: tuple[str, ...] = (),
    partition_cols: tuple[str, ...] = (),
    with_totals: bool = False,
    with_next: bool = False,
    max_partition_groups: int | None = 65_536,
    bounds_join: str = "broadcast",
) -> DataFrame:
    """Add, for each count column ``c`` in ``cnt_cols``, ``_prev<c>`` —
    the exclusive running sum of ``c`` in ``order_col`` order — to
    ``rel`` (one row per distinct ``(*partition_cols, order_col)``
    value) without an input-grain single-task sort. All count columns
    share ONE bucketed pass: one quantile-bounds aggregate (one guard
    count), one cumulative window (same spec — one sort), one
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

    GUARD: the grouped bounds relation broadcasts one
    ~``n_range_buckets``-double row per partition-key combination and
    the offsets relation ``groups x n_range_buckets`` rows, so
    ``partition_cols`` must be a bounded vocabulary (languages, crawl
    sources, shards). When grouped, the bounds relation is persisted
    and counted before the plan is built; above
    ``min(max_partition_groups, 2**20 // n_range_buckets)`` groups the
    call raises with routing advice. The count only ever RAISES — it
    never changes the plan. Pass ``max_partition_groups=None`` to skip
    the probe job, or ``bounds_join="shuffle"`` for unbounded keys:
    the bounds and offsets then attach through plain equi-joins on the
    partition key (no broadcast, no guard). The two modes are
    bit-identical.
    """
    if bounds_join not in ("broadcast", "shuffle"):
        raise ValueError(
            f"bounds_join must be 'broadcast' or 'shuffle', "
            f"got {bounds_join!r}")
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

    def _guard(small: DataFrame) -> DataFrame:
        # the ceiling covers the LARGER grouped broadcast (offsets /
        # nxt-first are groups x buckets rows); the count only ever
        # RAISES — it never changes the plan
        if not pcols or max_partition_groups is None:
            return small
        from dump1090_db_stream_spark.cache import track

        allowed = min(max_partition_groups,
                      max(1, _OFFSET_ROW_BUDGET // n_range_buckets))
        small = track(small)       # the count and the join reuse it
        n_groups = small.count()
        if n_groups > allowed:
            raise ValueError(
                f"distributed_prev_counts_multi vocabulary guard: "
                f"partition_cols {pcols} has {n_groups} distinct "
                f"combinations (allowed {allowed} = "
                f"min(max_partition_groups={max_partition_groups}, "
                f"{_OFFSET_ROW_BUDGET}//n_range_buckets="
                f"{n_range_buckets})); the per-group quantile bounds "
                f"and bucket offsets are BROADCAST, so the group key "
                f"must be a bounded vocabulary. Group by an enum-like "
                f"column, bucket the key upstream, pass "
                f"bounds_join='shuffle' (plain equi-joins — scales to "
                f"any cardinality), or raise max_partition_groups / "
                f"pass None if the broadcast genuinely fits.")
        return small

    def _keyed(small: DataFrame):
        return (F.broadcast(_guard(small)) if bounds_join == "broadcast"
                else small)

    def _attach(small: DataFrame) -> DataFrame:
        return (rel.join(_keyed(small), pcols) if pcols
                else rel.crossJoin(F.broadcast(small)))

    if not probs:                       # n_range_buckets == 1: degenerate
        if tot:
            bucketed = _attach(rel.groupBy(*pcols).agg(*tot))
        else:
            # nothing to attach, but grouped broadcast mode still
            # broadcasts the offsets relation below — run the guard
            if pcols and bounds_join == "broadcast":
                _guard(rel.groupBy(*pcols).agg(F.lit(1).alias("_one")))
            bucketed = rel
        bucketed = bucketed.withColumn("_b", F.lit(0))
    else:
        bnds = F.percentile_approx(order_col, probs, 1_000).alias("_bnds")
        bucket = F.aggregate(
            "_bnds", F.lit(0),
            lambda acc, b: acc + F.when(F.col(order_col) >= b,
                                        F.lit(1)).otherwise(F.lit(0)))
        bucketed = (_attach(rel.groupBy(*pcols).agg(bnds, *tot))
                    .withColumn("_b", bucket)
                    .drop("_bnds"))
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
    offsets = (F.broadcast(offsets)
               if not pcols or bounds_join == "broadcast" else offsets)
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

"""Exact two-sample Kolmogorov-Smirnov drift test over value slices.

A 100 TB corpus pipeline re-ingests sources continually; the first
question after every refresh is "did this slice's value distribution
move?". The binned answer (Population Stability Index) already exists
as :func:`operators.profiling.psi_drift`; this module adds the EXACT,
binning-free two-sample KS statistic — sensitive anywhere on the CDF,
no edge-placement folklore, with the classic large-sample rejection
threshold attached. Neither exists in the reference (it delegates all
analytics to PostgreSQL views, ``create_schema.sql`` end-to-end); both
are extension-surface operators.

Scale shape (the whole point): a two-sample KS needs both empirical
CDFs — cumulative counts in GLOBAL score order, the one plan Spark's
Window API cannot express scale-safely when the score is continuous
(|distinct| ~ n). Both cumulative relations therefore come from
:func:`operators.prefix_sum.distributed_prev_counts_multi` — the
quantile-bucketed distributed prefix-sum — so no unpartitioned ordered
window exists anywhere in the plan: the per-group CDF uses the GROUPED
form (per-group bounds, windows over (group, bucket)), the pooled CDF
the ungrouped form, and the two meet in a plain equi-join on the score
(distinct-score-sized, never input-grain). Every cumulative is an
integer, so the decomposition is bit-identical to the naive single
window and the DuckDB oracle can replay it with plain SQL windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Two-sample KS flag level: the attached critical value is the
#: classic large-sample threshold at alpha = 0.05. c(alpha) =
#: sqrt(-ln(alpha/2) / 2) is written as an expression (not a rounded
#: literal) in both engines so the flag compares the same IEEE double
#: everywhere.
_KS_ALPHA_05 = 0.05


def ks_drift_by(
    df: DataFrame,
    score_col: str,
    group_col: str,
    n_range_buckets: int = 64,
) -> DataFrame:
    """Per-group EXACT two-sample Kolmogorov-Smirnov statistic of
    ``score_col`` in the group vs the REST of the corpus — one row per
    group with ``(group, n, n_rest, ks, ks_crit_05, drifted)``.

    D_g = sup_x |F_g(x) - F_rest(x)| computed exactly: the supremum of
    a difference of step functions is attained at a jump of either
    ECDF, and it suffices to evaluate BOTH one-sided limits at the
    group's own points — between two consecutive group points F_g is
    constant while F_rest only climbs, so ``F_rest - F_g`` on that
    stretch is maximized at the next group point's LEFT limit, and
    ``F_g - F_rest`` immediately AFTER a group jump (its right limit,
    which also covers ties where both ECDFs jump at once). Hence per
    distinct (group, score) point x:

        right = |cum_g(x)/n - (cum_all(x) - cum_g(x)) / n_rest|
        left  = |prev_g(x)/n - (prev_all(x) - prev_g(x)) / n_rest|
        D_g   = max over x of max(right, left)

    with cum/prev inclusive/exclusive integer cumulative counts — the
    only float ops are four divisions of exactly-represented integers,
    so Spark and the DuckDB oracle produce the identical IEEE double
    before the final round(6).

    ``ks_crit_05`` is the classic large-sample rejection threshold
    c(0.05) * sqrt((n + n_rest) / (n * n_rest)) with c(a) =
    sqrt(-ln(a/2)/2); ``drifted`` compares the UNROUNDED statistic to
    it. A single-group input has no rest sample: ``try_divide`` yields
    NULL diffs and the group emits ``ks = NULL`` (not evaluable — the
    single-class contract of :func:`operators.evaluation.auc_score`).

    Rows with NULL/NaN score or NULL group are excluded (NaN breaks
    the prefix-sum's monotone bucketing; a NULL group has no slice).
    ``group_col`` may have any cardinality: the grouped prefix-sum
    counts the groups and picks a broadcast or an equi-join plan.
    """
    base = df.select(
        F.col(group_col).alias("g"),
        F.col(score_col).cast("double").alias("s"),
    ).filter(F.col("s").isNotNull() & ~F.isnan("s")
             & F.col("g").isNotNull())
    per_gs = base.groupBy("g", "s").agg(F.count(F.lit(1)).alias("_cnt"))

    from dump1090_db_stream_spark.cache import track
    from dump1090_db_stream_spark.operators.prefix_sum import (
        distributed_prev_counts_multi,
    )

    # the (group, score) relation feeds the grouped prefix-sum's three
    # branches AND the pooled marginal below — persist once
    per_gs = track(per_gs)
    grouped = distributed_prev_counts_multi(
        per_gs, "s", ("_cnt",), n_range_buckets,
        partition_cols=("g",), with_totals=True)
    # pooled CDF over the distinct-score marginal (never input-grain:
    # it aggregates the already-aggregated (g, s) relation)
    per_s = per_gs.groupBy("s").agg(F.sum("_cnt").alias("_call"))
    pooled = distributed_prev_counts_multi(
        track(per_s), "s", ("_call",), n_range_buckets, with_totals=True)

    pts = (grouped
           .withColumnRenamed("_total_cnt", "n")
           .join(pooled.select("s",
                               F.col("_prev_call").alias("_pall"),
                               (F.col("_prev_call") + F.col("_call"))
                               .alias("_call_incl"),
                               F.col("_total_call").alias("_n_all")),
                 "s")
           .select("g", "n",
                   (F.col("_n_all") - F.col("n")).alias("n_rest"),
                   F.col("_prev_cnt").alias("_pg"),
                   (F.col("_prev_cnt") + F.col("_cnt")).alias("_cg"),
                   "_pall", "_call_incl"))
    right = F.abs(
        F.col("_cg").cast("double") / F.col("n").cast("double")
        - F.try_divide((F.col("_call_incl") - F.col("_cg"))
                       .cast("double"),
                       F.col("n_rest").cast("double")))
    left = F.abs(
        F.col("_pg").cast("double") / F.col("n").cast("double")
        - F.try_divide((F.col("_pall") - F.col("_pg")).cast("double"),
                       F.col("n_rest").cast("double")))
    c05 = F.sqrt(-F.log(F.lit(_KS_ALPHA_05 / 2)) / F.lit(2.0))
    crit = c05 * F.sqrt(
        (F.col("n") + F.col("n_rest")).cast("double")
        / (F.col("n").cast("double") * F.col("n_rest").cast("double")))
    return (pts.select("g", "n", "n_rest",
                       F.greatest(right, left).alias("_d"))
            .groupBy("g")
            .agg(F.max("n").alias("n"),          # constant per group
                 F.max("n_rest").alias("n_rest"),
                 F.max("_d").alias("_ks"))
            .select(F.col("g").alias(group_col), "n", "n_rest",
                    F.round("_ks", 6).alias("ks"),
                    F.when(F.col("n_rest") > 0, F.round(crit, 6))
                     .alias("ks_crit_05"),
                    F.when(F.col("n_rest") > 0, F.col("_ks") > crit)
                     .alias("drifted")))


def _crit_expr(n_col, m_col):
    """c(0.05) * sqrt((n + m) / (n * m)) — the shared large-sample
    threshold, one expression form in both engines."""
    c05 = F.sqrt(-F.log(F.lit(_KS_ALPHA_05 / 2)) / F.lit(2.0))
    return c05 * F.sqrt((n_col + m_col).cast("double")
                        / (n_col.cast("double") * m_col.cast("double")))


def ks_drift(
    ref: DataFrame,
    cur: DataFrame,
    score_col: str,
    keys: list[str] | None = None,
    n_range_buckets: int = 64,
) -> DataFrame:
    """EXACT two-sample KS between a REFERENCE snapshot and the
    CURRENT one, per key slice — the retrain/alarm gate
    :func:`operators.profiling.psi_drift` answers with bins, answered
    binning-free: one row per key combination with ``(*keys, n_ref,
    n_cur, ks, ks_crit_05, drifted)``.

    Same sup-of-step-functions identity as :func:`ks_drift_by`,
    evaluated at BOTH one-sided limits of every point of the UNION
    sample (trivially covers every jump of either ECDF):

        right = |cum_ref(x)/n_ref - (cum_all(x) - cum_ref(x))/n_cur|
        left  = the same over the exclusive cumulatives

    Both cumulative relations come from ONE grouped
    :func:`operators.prefix_sum.distributed_prev_counts_multi` pass
    over the per-(key, score) grain — the union counts and the
    ref-side counts (zero-filled at cur-only points) ride the same
    rows through one shared bucket decomposition (r15: previously two
    single-column passes re-joined 1:1 on (key, score); the fused pass
    is bit-identical by construction and halves the relations) — so no
    unpartitioned ordered window exists for any slice, however
    dominant. Integer cumulatives end-to-end; the four divisions are
    the only float ops (oracle-identical). ``keys=None``/``[]`` gives
    the single whole-table row (ungrouped prefix sums).

    A slice present in only ONE snapshot has no opposing sample:
    ``try_divide`` yields NULL and the row emits ``ks = NULL`` (not
    evaluable) — a slice APPEARING or VANISHING is a schema-level
    event the caller must notice, not a distance this statistic can
    fake. NULL/NaN scores and NULL keys are excluded as in
    :func:`ks_drift_by`.
    """
    kcols = list(keys or [])

    def _side(df: DataFrame, tag: int) -> DataFrame:
        out = df.select(
            *[F.col(k).alias(f"k{i}") for i, k in enumerate(kcols)],
            F.col(score_col).cast("double").alias("s"),
            F.lit(tag).alias("_ref"),
        ).filter(F.col("s").isNotNull() & ~F.isnan("s"))
        for i in range(len(kcols)):
            out = out.filter(F.col(f"k{i}").isNotNull())
        return out

    ks_ = [f"k{i}" for i in range(len(kcols))]
    both = _side(ref, 1).unionByName(_side(cur, 0))
    per = both.groupBy(*ks_, "s").agg(
        F.count(F.lit(1)).alias("_call"),
        F.sum("_ref").alias("_cref"))

    from dump1090_db_stream_spark.cache import track
    from dump1090_db_stream_spark.operators.prefix_sum import (
        distributed_prev_counts_multi,
    )

    per = track(per)  # feeds the pass's bounds/totals/ranked branches
    pts = (distributed_prev_counts_multi(
        per, "s", ("_call", "_cref"), n_range_buckets=n_range_buckets,
        partition_cols=tuple(ks_), with_totals=True)
        .select(*ks_, "s", "_call",
                F.col("_prev_call").alias("_pall"),
                F.col("_total_call").alias("_nall"),
                F.col("_cref").alias("_cr"),
                F.col("_prev_cref").alias("_pref"),
                F.col("_total_cref").alias("n_ref")))
    n_cur = (F.col("_nall") - F.col("n_ref")).alias("n_cur")
    cum_r = F.col("_pref") + F.col("_cr")
    cum_a = F.col("_pall") + F.col("_call")
    right = F.abs(
        F.col("_cumr").cast("double") / F.col("n_ref").cast("double")
        - (F.col("_cuma") - F.col("_cumr")).cast("double")
        / F.col("n_cur").cast("double"))
    left = F.abs(
        F.col("_pref").cast("double") / F.col("n_ref").cast("double")
        - (F.col("_pall") - F.col("_pref")).cast("double")
        / F.col("n_cur").cast("double"))
    evaluable = (F.col("n_ref") > 0) & (F.col("n_cur") > 0)
    out = (pts.select(*ks_, "n_ref", n_cur, "_pref", "_pall",
                      cum_r.alias("_cumr"), cum_a.alias("_cuma"))
           .select(*ks_, "n_ref", "n_cur",
                   F.when(evaluable,
                          F.greatest(right, left)).alias("_d"))
           .groupBy(*ks_)
           .agg(F.max("n_ref").alias("n_ref"),
                F.max("n_cur").alias("n_cur"),
                F.max("_d").alias("_ks")))
    crit = _crit_expr(F.col("n_ref"), F.col("n_cur"))
    sel = [F.col(f"k{i}").alias(k) for i, k in enumerate(kcols)]
    return out.select(
        *sel, "n_ref", "n_cur",
        F.round("_ks", 6).alias("ks"),
        F.when(evaluable, F.round(crit, 6)).alias("ks_crit_05"),
        F.when(evaluable, F.col("_ks") > crit).alias("drifted"))


def w1_drift(
    ref: DataFrame,
    cur: DataFrame,
    score_col: str,
    keys: list[str] | None = None,
    n_range_buckets: int = 64,
) -> DataFrame:
    """EXACT Wasserstein-1 (earth mover's) distance between a
    reference snapshot and the current one, per key slice — the
    INTEGRAL drift metric next to :func:`ks_drift`'s sup: KS sees the
    single worst CDF gap (and saturates at 1), W1 integrates every
    gap weighted by how far the mass must move, in the score's own
    units — the number a "how MUCH did the mean-ish behavior shift"
    decision wants. One row per key combination: ``(*keys, n_ref,
    n_cur, w1)`` (rounded 6).

    For one-dimensional samples W1 has the closed form
    integral of |F_ref(x) - F_cur(x)| dx, a step integral over the
    union sample's distinct scores:

        W1 = sum over consecutive distinct scores s_i < s_{i+1} of
             |cum_ref(s_i)/n_ref - cum_cur(s_i)/n_cur| * (s_{i+1}-s_i)

    Cumulatives AND the interval widths come from ONE grouped
    :func:`operators.prefix_sum.distributed_prev_counts_multi` pass
    over the (key, score) grain (ref counts zero-filled — the
    :func:`ks_drift` plumbing; ``with_next`` adds the
    ordered-neighbor stitch to the same bucketed rows), so neither
    the CDFs nor the gaps ever route through an unpartitioned ordered
    window.

    DETERMINISM: the per-interval contributions are doubles (the gap
    width is a score difference), so their SUM is quantized to 1e-9
    scaled DECIMAL integers before aggregation (the
    ``operators.relevance._quantized`` partition-order discipline) —
    the oracle replays the identical fold. Slices present in only one
    snapshot emit ``w1 = NULL``; NULL/NaN scores and NULL keys are
    excluded as in :func:`ks_drift`.
    """
    kcols = list(keys or [])

    def _side(df: DataFrame, tag: int) -> DataFrame:
        out = df.select(
            *[F.col(k).alias(f"k{i}") for i, k in enumerate(kcols)],
            F.col(score_col).cast("double").alias("s"),
            F.lit(tag).alias("_ref"),
        ).filter(F.col("s").isNotNull() & ~F.isnan("s"))
        for i in range(len(kcols)):
            out = out.filter(F.col(f"k{i}").isNotNull())
        return out

    ks_ = [f"k{i}" for i in range(len(kcols))]
    both = _side(ref, 1).unionByName(_side(cur, 0))
    per = both.groupBy(*ks_, "s").agg(
        F.count(F.lit(1)).alias("_call"),
        F.sum("_ref").alias("_cref"))

    from dump1090_db_stream_spark.cache import track
    from dump1090_db_stream_spark.operators.prefix_sum import (
        distributed_prev_counts_multi,
    )
    from dump1090_db_stream_spark.operators.relevance import _quantized

    per = track(per)  # feeds the pass's bounds/totals/ranked branches
    pts = (distributed_prev_counts_multi(
        per, "s", ("_call", "_cref"), n_range_buckets=n_range_buckets,
        partition_cols=tuple(ks_), with_totals=True, with_next=True)
        .select(*ks_, "s", "_call",
                F.col("_prev_call").alias("_pall"),
                F.col("_total_call").alias("_nall"),
                F.col("_cref").alias("_cr"),
                F.col("_prev_cref").alias("_pref"),
                F.col("_total_cref").alias("n_ref"),
                "_next"))
    n_cur = (F.col("_nall") - F.col("n_ref")).alias("n_cur")
    cum_r = (F.col("_pref") + F.col("_cr")).alias("_cumr")
    cum_a = (F.col("_pall") + F.col("_call")).alias("_cuma")
    gap = F.col("_next") - F.col("s")
    diff = F.abs(
        F.col("_cumr").cast("double") / F.col("n_ref").cast("double")
        - (F.col("_cuma") - F.col("_cumr")).cast("double")
        / F.col("n_cur").cast("double"))
    evaluable = (F.col("n_ref") > 0) & (F.col("n_cur") > 0)
    contrib = F.when(F.col("_next").isNotNull() & evaluable,
                     _quantized(diff * gap)) \
               .otherwise(F.lit(0).cast("decimal(38,0)"))
    out = (pts.select(*ks_, "n_ref", n_cur, cum_r, cum_a, "s", "_next")
           .select(*ks_, "n_ref", "n_cur",
                   contrib.alias("_q"),
                   F.when(evaluable, 0).otherwise(1).alias("_bad"))
           .groupBy(*ks_)
           .agg(F.max("n_ref").alias("n_ref"),
                F.max("n_cur").alias("n_cur"),
                F.sum("_q").alias("_qs"),
                F.sum("_bad").alias("_nbad")))
    sel = [F.col(f"k{i}").alias(k) for i, k in enumerate(kcols)]
    return out.select(
        *sel, "n_ref", "n_cur",
        F.when(F.col("_nbad") == 0,
               F.round(F.col("_qs").cast("double") / 1e9, 6))
         .alias("w1"))


def ranksum_drift(
    ref: DataFrame,
    cur: DataFrame,
    score_col: str,
    keys: list[str] | None = None,
    n_range_buckets: int = 64,
) -> DataFrame:
    """EXACT Mann-Whitney U (Wilcoxon rank-sum) test between a
    reference snapshot and the current one, per key slice — the
    LOCATION-drift companion to :func:`ks_drift` (sup of CDF gap) and
    :func:`w1_drift` (integral of CDF gap): U asks specifically "did
    the distribution SHIFT toward higher or lower values", is
    insensitive to monotone transforms of the score, and comes with
    the classic normal approximation. One row per key combination:
    ``(*keys, n_ref, n_cur, u_cur, z, drifted)`` where ``u_cur`` is
    the current side's U statistic, ``z`` its tie-corrected normal
    deviate and ``drifted`` the two-sided alpha = 0.05 flag
    (|z| > 1.959964).

    Exact-arithmetic derivation (no per-row rank window anywhere):
    with midranks, the DOUBLED rank sum of the current side is

        2R = sum over distinct scores s of
             c_cur(s) * (2 * prev_all(s) + c_all(s) + 1)

    an INTEGER (midranks are the only halves and they double away), so
    2U = 2R - n_cur * (n_cur + 1) is exact; the tie-corrected variance
    uses T = sum(c_all^3 - c_all). ``prev_all`` — the exclusive
    cumulative count in global score order per slice — is the grouped
    :func:`operators.prefix_sum.distributed_prev_counts_multi` (the ks_drift
    plumbing), so no unpartitioned ordered window exists for any
    slice. 2R and T accumulate in DECIMAL(38,0) (exact to ~1e38 —
    safe past 1e12-row slices where int64 products would overflow);
    the z computation converts each exact total to double ONCE and
    applies the same IEEE expression order in both engines.

    Degenerate slices: present in only one snapshot -> NULL u/z (the
    ks_drift contract); every value tied -> variance 0 -> NULL z.
    NULL/NaN scores and NULL keys are excluded.
    """
    kcols = list(keys or [])

    def _side(df: DataFrame, tag: int) -> DataFrame:
        out = df.select(
            *[F.col(k).alias(f"k{i}") for i, k in enumerate(kcols)],
            F.col(score_col).cast("double").alias("s"),
            F.lit(tag).alias("_ref"),
        ).filter(F.col("s").isNotNull() & ~F.isnan("s"))
        for i in range(len(kcols)):
            out = out.filter(F.col(f"k{i}").isNotNull())
        return out

    ks_ = [f"k{i}" for i in range(len(kcols))]
    both = _side(ref, 1).unionByName(_side(cur, 0))
    per = both.groupBy(*ks_, "s").agg(
        F.count(F.lit(1)).alias("_call"),
        F.sum("_ref").alias("_cref"))

    from dump1090_db_stream_spark.operators.prefix_sum import (
        distributed_prev_counts_multi,
    )

    pts = distributed_prev_counts_multi(
        per, "s", ("_call",), n_range_buckets,
        extra_cols=("_cref",), partition_cols=tuple(ks_),
        with_totals=True)

    dec = "decimal(38,0)"
    c_cur = (F.col("_call") - F.col("_cref")).cast(dec)
    two_rank = (F.lit(2).cast(dec) * F.col("_prev_call").cast(dec)
                + F.col("_call").cast(dec) + F.lit(1).cast(dec))
    tie = (F.col("_call").cast(dec) * F.col("_call").cast(dec)
           * F.col("_call").cast(dec) - F.col("_call").cast(dec))
    agg = (pts.groupBy(*ks_)
           .agg(F.sum(c_cur * two_rank).alias("_2r"),
                F.sum(tie).alias("_t"),
                F.sum("_cref").cast("long").alias("n_ref"),
                F.max("_total_call").cast("long").alias("_nall")))

    n_cur = (F.col("_nall") - F.col("n_ref")).alias("n_cur")
    # exact totals -> double ONCE, then one shared IEEE expression
    # order (the oracle replays it verbatim)
    r2 = F.col("_2r").cast("double")
    ncur_d = F.col("n_cur").cast("double")
    nref_d = F.col("n_ref").cast("double")
    nall_d = F.col("_nall").cast("double")
    u2 = r2 - ncur_d * (ncur_d + F.lit(1.0))
    mu2 = nref_d * ncur_d
    var = (mu2 / F.lit(12.0)
           * ((nall_d + F.lit(1.0))
              - F.col("_t").cast("double")
              / (nall_d * (nall_d - F.lit(1.0)))))
    evaluable = (F.col("n_ref") > 0) & (F.col("n_cur") > 0)
    z = F.when(evaluable & (var > 0),
               (u2 - mu2) / (F.lit(2.0) * F.sqrt(var)))
    sel = [F.col(f"k{i}").alias(k) for i, k in enumerate(kcols)]
    return (agg.select(*ks_, "n_ref", n_cur, "_2r", "_t", "_nall")
            .select(*sel, "n_ref", "n_cur",
                    F.when(evaluable, F.round(u2 / F.lit(2.0), 6))
                     .alias("u_cur"),
                    F.round(z, 6).alias("z"),
                    F.when(evaluable & (var > 0),
                           F.abs(z) > F.lit(1.959964)).alias("drifted")))


def chisq_drift(
    ref: DataFrame,
    cur: DataFrame,
    cat_col: str,
    keys: list[str] | None = None,
) -> DataFrame:
    """Pearson chi-square homogeneity test between a reference
    snapshot's CATEGORY distribution and the current one, per key
    slice — the categorical companion to :func:`ks_drift` (that one
    needs an ordered score; this one needs only a nominal column:
    event types, languages, sources, schema variants). One row per
    key combination: ``(*keys, n_ref, n_cur, n_categories, df,
    chisq, z_wh, drifted)``.

    chisq = sum over categories and both sides of (o - e)^2 / e with
    e = row_total * category_total / N — each cell contribution is a
    closed-form double of exactly-represented integers, and the SUM
    across categories is quantized to 1e-9 scaled DECIMAL integers
    before aggregation (the ``operators.relevance._quantized``
    partition-order discipline) so both engines fold identically.
    ``z_wh`` is the Wilson-Hilferty normal deviate
    ((chisq/df)^(1/3) - (1 - 2/(9 df))) / sqrt(2/(9 df)) — a pure
    expression, no inverse-chi-square table — and ``drifted`` its
    one-sided alpha = 0.05 flag (z_wh > 1.644854).

    Scale shape: one groupBy to the (key, category) grain (bounded:
    categories are a vocabulary), margins by a second bounded
    aggregate, everything joined on the key — the corpus shuffles
    once to the category grain and never again. Slices with a single
    category (df = 0) or one empty side emit NULL statistics. NULL
    categories and NULL keys are excluded.
    """
    kcols = list(keys or [])

    def _side(df: DataFrame, tag: int) -> DataFrame:
        out = df.select(
            *[F.col(k).alias(f"k{i}") for i, k in enumerate(kcols)],
            F.col(cat_col).cast("string").alias("c"),
            F.lit(tag).alias("_ref"),
        ).filter(F.col("c").isNotNull())
        for i in range(len(kcols)):
            out = out.filter(F.col(f"k{i}").isNotNull())
        return out

    from dump1090_db_stream_spark.operators.relevance import _quantized

    ks_ = [f"k{i}" for i in range(len(kcols))]
    both = _side(ref, 1).unionByName(_side(cur, 0))
    cells = both.groupBy(*ks_, "c").agg(
        F.count(F.lit(1)).alias("_tot"),
        F.sum("_ref").alias("_oref"))
    margins = cells.groupBy(*ks_).agg(
        F.sum("_oref").cast("long").alias("n_ref"),
        F.sum(F.col("_tot") - F.col("_oref")).cast("long")
        .alias("n_cur"),
        F.count(F.lit(1)).alias("n_categories"))

    o_ref = F.col("_oref").cast("double")
    o_cur = (F.col("_tot") - F.col("_oref")).cast("double")
    ct = F.col("_tot").cast("double")
    nr = F.col("n_ref").cast("double")
    nc = F.col("n_cur").cast("double")
    nn = nr + nc
    e_ref = nr * ct / nn
    e_cur = nc * ct / nn
    # explicit degenerate guard (ANSI mode: 0/0 raises, and the
    # downstream NULL-out happens AFTER this expression would have
    # evaluated): a slice with an empty side has e = 0 for every
    # cell — contributions go NULL, the sum goes NULL, and the final
    # projection already emits NULL statistics for that slice
    contrib = F.when(
        (e_ref > 0) & (e_cur > 0),
        (o_ref - e_ref) * (o_ref - e_ref) / e_ref
        + (o_cur - e_cur) * (o_cur - e_cur) / e_cur)
    per_cell = (cells.join(margins, ks_) if ks_
                else cells.crossJoin(F.broadcast(margins)))
    agg = (per_cell
           .select(*ks_, "n_ref", "n_cur", "n_categories",
                   _quantized(contrib).alias("_qc"))
           .groupBy(*ks_, "n_ref", "n_cur", "n_categories")
           .agg(F.sum("_qc").alias("_qs")))

    dfree = (F.col("n_categories") - 1).cast("double")
    chisq = F.col("_qs").cast("double") / F.lit(1e9)
    z_wh = (F.when(
        (F.col("n_ref") > 0) & (F.col("n_cur") > 0) & (dfree > 0),
        (F.pow(chisq / dfree, F.lit(1.0 / 3.0))
         - (F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * dfree)))
        / F.sqrt(F.lit(2.0) / (F.lit(9.0) * dfree))))
    sel = [F.col(f"k{i}").alias(k) for i, k in enumerate(kcols)]
    return agg.select(
        *sel, "n_ref", "n_cur", "n_categories",
        F.when((F.col("n_ref") > 0) & (F.col("n_cur") > 0),
               (F.col("n_categories") - 1).cast("long")).alias("df"),
        F.when((F.col("n_ref") > 0) & (F.col("n_cur") > 0),
               F.round(chisq, 6)).alias("chisq"),
        F.round(z_wh, 6).alias("z_wh"),
        F.when(z_wh.isNotNull(), z_wh > F.lit(1.644854))
         .alias("drifted"))


def js_divergence_drift(
    ref: DataFrame,
    cur: DataFrame,
    cat_col: str,
    keys: list[str] | None = None,
    threshold: float = 0.1,
) -> DataFrame:
    """Jensen-Shannon divergence (base 2) between a reference
    snapshot's CATEGORY distribution and the current one, per key
    slice — the BOUNDED, symmetric member of the categorical drift
    family: chi-square (:func:`chisq_drift`) grows with sample size at
    a fixed mix shift (a significance test), PSI is unbounded and
    blows up on vanishing cells, while JSD(P, Q) = KL(P||M)/2 +
    KL(Q||M)/2 with M = (P+Q)/2 lives in [0, 1], is finite even when
    a category exists on only one side, and its square root is a
    metric — the number mixture-monitoring dashboards actually
    threshold. One row per key combination: ``(*keys, n_ref, n_cur,
    n_categories, jsd, js_distance, drifted)``.

    Determinism: each cell's contribution
    ``0.5 p log2(p/m) + 0.5 q log2(q/m)`` (p, q the cell's share of
    its side; zero-share terms contribute exactly 0) is a closed-form
    double of exactly-represented integers in ONE pinned expression
    order; contributions are quantized to 1e-9 scaled DECIMAL(38,0)
    before summation (the ``_quantized`` partition-order discipline —
    an INDIVIDUAL p- or q-term can be negative, but the cell sum
    ``0.5 p log2(p/m) + 0.5 q log2(q/m)`` is provably >= 0 by
    convexity of x log x, so quantized cell values are nonnegative)
    and the final values use the
    floor-based 1e-6 micro-quantization (NOT round(): Spark's exact
    BigDecimal HALF_UP diverges from a float multiply on .5e-6 ties).
    ``drifted`` compares the UNROUNDED divergence against
    ``threshold`` (default 0.1 — a conventional alert level, not a
    significance test; chisq_drift is the calibrated sibling).

    Scale shape: identical to :func:`chisq_drift` — one shuffle to the
    (key, category) grain (categories are a vocabulary), margins by a
    second bounded aggregate, a key equi-join, one bounded sum. Slices
    with an empty side emit NULL statistics; NULL categories/keys are
    excluded.
    """
    kcols = list(keys or [])

    def _side(df: DataFrame, tag: int) -> DataFrame:
        out = df.select(
            *[F.col(k).alias(f"k{i}") for i, k in enumerate(kcols)],
            F.col(cat_col).cast("string").alias("c"),
            F.lit(tag).alias("_ref"),
        ).filter(F.col("c").isNotNull())
        for i in range(len(kcols)):
            out = out.filter(F.col(f"k{i}").isNotNull())
        return out

    from dump1090_db_stream_spark.operators.relevance import _quantized

    ks_ = [f"k{i}" for i in range(len(kcols))]
    both = _side(ref, 1).unionByName(_side(cur, 0))
    cells = both.groupBy(*ks_, "c").agg(
        F.count(F.lit(1)).alias("_tot"),
        F.sum("_ref").alias("_oref"))
    margins = cells.groupBy(*ks_).agg(
        F.sum("_oref").cast("long").alias("n_ref"),
        F.sum(F.col("_tot") - F.col("_oref")).cast("long")
        .alias("n_cur"),
        F.count(F.lit(1)).alias("n_categories"))

    o_ref = F.col("_oref").cast("double")
    o_cur = (F.col("_tot") - F.col("_oref")).cast("double")
    nr = F.col("n_ref").cast("double")
    nc = F.col("n_cur").cast("double")
    # ANSI guard: every division sits under the both-sides-nonempty
    # branch (a one-sided slice would otherwise evaluate x/0 BEFORE
    # the final projection NULLs it out). m > 0 inside the branch:
    # a cell exists only with _tot >= 1, so p + q > 0.
    p = o_ref / nr
    q = o_cur / nc
    m = (p + q) / F.lit(2.0)
    term_p = F.when(o_ref > 0, p * F.log2(p / m)).otherwise(F.lit(0.0))
    term_q = F.when(o_cur > 0, q * F.log2(q / m)).otherwise(F.lit(0.0))
    contrib = F.when((nr > 0) & (nc > 0),
                     F.lit(0.5) * term_p + F.lit(0.5) * term_q)
    per_cell = (cells.join(margins, ks_) if ks_
                else cells.crossJoin(F.broadcast(margins)))
    agg = (per_cell
           .select(*ks_, "n_ref", "n_cur", "n_categories",
                   _quantized(contrib).alias("_qc"))
           .groupBy(*ks_, "n_ref", "n_cur", "n_categories")
           .agg(F.sum("_qc").alias("_qs")))

    jsd = F.col("_qs").cast("double") / F.lit(1e9)
    ok = (F.col("n_ref") > 0) & (F.col("n_cur") > 0)

    def _micro(x):
        return F.floor(x * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    sel = [F.col(f"k{i}").alias(k) for i, k in enumerate(kcols)]
    return agg.select(
        *sel, "n_ref", "n_cur", "n_categories",
        F.when(ok, _micro(jsd)).alias("jsd"),
        # DEFENSIVE only: each quantized cell sum is >= 0 (see the
        # docstring), so the total cannot go negative — the clamp just
        # pins the invariant in front of sqrt
        F.when(ok, _micro(F.sqrt(F.greatest(jsd, F.lit(0.0)))))
        .alias("js_distance"),
        F.when(ok, jsd > F.lit(threshold)).alias("drifted"))


def page_hinkley_drift(
    df: DataFrame,
    value_col: str,
    ts_col: str = "ts",
    keys: list[str] | None = None,
    bucket_seconds: int = 3600,
    delta: float = 0.0,
    lam: float = 5.0,
) -> DataFrame:
    """Page-Hinkley sequential changepoint detection per key slice —
    the ONLINE member of the drift family (KS/W1/rank-sum compare two
    snapshots, chi-square/JSD compare category mixes; this one watches
    a metric's time series and reports WHERE the mean shifted upward):
    bucket the stream into ``bucket_seconds`` epochs, track
    ``m_t = sum_{i<=t} (x_i - mean_{1..i} - delta)`` over the bucket
    means and alarm when ``m_t - min_{s<=t} m_s`` exceeds ``lam``
    (Page 1954 / Hinkley 1971 — the standard streaming-monitoring
    formulation; ``delta`` is the magnitude tolerance, ``lam`` the
    alarm threshold in the metric's units x buckets). One row per key:
    ``(*keys, n_buckets, ph_stat, drifted, alarm_bucket)`` with
    ``alarm_bucket`` the FIRST epoch-bucket index whose excess crosses
    ``lam`` (NULL when none does).

    Determinism: raw values fold into per-bucket means through the
    1e-9 quantized-decimal sum (partition-order-free); every running
    statistic is a window over the BOUNDED (key, bucket) relation —
    O(hours) rows after one map-side-combined shuffle, never an
    input-grain ordered window — and accumulates in DECIMAL(38,0)
    (the running deviation sum and its running min are EXACT, so the
    max-excess and first-crossing are bit-replayable); the only IEEE
    steps are the two pinned divisions (bucket mean, running mean).
    NULL/NaN values, NULL timestamps and NULL keys are excluded.

    Scale shape: the corpus shuffles ONCE to the (key, bucket) grain;
    the per-key windows run over that bounded relation partitioned by
    key — the weekly_growth/gap_fill precedent. At 100 TB the bucket
    relation is still tiny (keys x hours), and the detector is
    deployable incrementally: state per key is (t, running sums, M_t),
    the applyInPandasWithState shape, with THIS batch form as its
    replayable oracle.
    """
    buckets = ph_bucketize(df, value_col, ts_col, keys, bucket_seconds)
    return page_hinkley_from_buckets(buckets, keys, delta, lam)


def ph_bucketize(
    df: DataFrame,
    value_col: str,
    ts_col: str = "ts",
    keys: list[str] | None = None,
    bucket_seconds: int = 3600,
) -> DataFrame:
    """The Page-Hinkley pipeline's BUCKET-GRAIN state: one row per
    (key, epoch-bucket) with the exact quantized-decimal value sum and
    count — the relation :func:`page_hinkley_from_buckets` consumes
    and the one a streaming monitor persists between micro-batches.
    Associative by construction: bucketizing a UNION of batches equals
    merging per-batch rows with ``sum(qsum), sum(cnt)`` (decimal
    sums). Output: ``(*keys, b, qsum DECIMAL(38,0),
    cnt BIGINT)``."""
    from dump1090_db_stream_spark.operators.relevance import _quantized

    if bucket_seconds < 1:
        raise ValueError(
            f"bucket_seconds must be >= 1, got {bucket_seconds}")
    kcols = list(keys or [])
    v = F.col(value_col).cast("double")
    base = df.select(
        *[F.col(k) for k in kcols],
        F.floor(F.unix_timestamp(F.col(ts_col))
                / F.lit(bucket_seconds)).cast("long").alias("b"),
        v.alias("x"),
    ).filter(F.col("x").isNotNull() & ~F.isnan(F.col("x"))
             & F.col("b").isNotNull())
    for k in kcols:
        base = base.filter(F.col(k).isNotNull())
    return base.groupBy(*kcols, "b").agg(
        F.sum(_quantized(F.col("x"))).alias("qsum"),
        F.count(F.lit(1)).alias("cnt"))


def page_hinkley_from_buckets(
    buckets: DataFrame,
    keys: list[str] | None = None,
    delta: float = 0.0,
    lam: float = 5.0,
) -> DataFrame:
    """:func:`page_hinkley_drift`'s detection windows over an
    already-built (and possibly batch-merged) :func:`ph_bucketize`
    relation — the seam a streaming monitor recomputes from
    accumulated state. Same output contract and determinism
    disciplines as the one-shot form."""
    from pyspark.sql import Window

    from dump1090_db_stream_spark.operators.relevance import _quantized

    kcols = list(keys or [])
    buckets = buckets.select(
        *[F.col(k).alias(f"k{i}") for i, k in enumerate(kcols)],
        "b", F.col("qsum").alias("_qsum"), F.col("cnt").alias("_cnt"))
    ks_ = [f"k{i}" for i in range(len(kcols))]
    w = (Window.partitionBy(*ks_).orderBy("b")
         if ks_ else Window.orderBy("b"))
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    # pinned division order: (decimal -> double) / 1e9 / count
    x_t = (F.col("_qsum").cast("double") / F.lit(1e9)
           / F.col("_cnt").cast("double"))
    staged = (buckets
              .withColumn("_x", x_t)
              .withColumn("_qx", _quantized(F.col("_x")))
              .withColumn("_t", F.row_number().over(w))
              .withColumn("_sx", F.sum("_qx").over(wrun)))
    mean_t = (F.col("_sx").cast("double") / F.lit(1e9)
              / F.col("_t").cast("double"))
    staged = (staged
              .withColumn("_qdev", _quantized(
                  F.col("_x") - mean_t - F.lit(delta)))
              .withColumn("_m", F.sum("_qdev").over(wrun))
              .withColumn("_mmin", F.min("_m").over(wrun))
              .withColumn("_exc", F.col("_m") - F.col("_mmin")))
    # one comparison grain for BOTH outputs (excess_double > lam*1e9):
    # deriving `drifted` from a second, differently-rounded comparison
    # (max_exc/1e9 > lam) could disagree with the first-crossing scan
    # on an exact-boundary tie — drifted IS "an alarm bucket exists"
    qlam = F.lit(lam) * F.lit(1e9)
    return (staged.groupBy(*ks_)
            .agg(F.count(F.lit(1)).alias("n_buckets"),
                 (F.max("_exc").cast("double") / F.lit(1e9))
                 .alias("_ph"),
                 F.min(F.when(F.col("_exc").cast("double") > qlam,
                              F.col("b"))).alias("alarm_bucket"))
            .select(
                *[F.col(f"k{i}").alias(k)
                  for i, k in enumerate(kcols)],
                "n_buckets",
                (F.floor(F.col("_ph") * F.lit(1e6) + F.lit(0.5))
                 / F.lit(1e6)).alias("ph_stat"),
                F.col("alarm_bucket").isNotNull().alias("drifted"),
                "alarm_bucket"))

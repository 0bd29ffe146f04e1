"""Sketch-based approximate aggregation (north-star extension; the
reference has no aggregate surface beyond min/max — SURVEY.md §2.4
'absent' list).

Two tiers, both JVM-native (zero Python in the data path):

1. One-shot approximations: ``approx_count_distinct`` (HyperLogLog++)
   and ``percentile_approx`` — constant memory per group vs the
   O(distinct)/O(rows) state of their exact twins. At 100 TB an exact
   COUNT(DISTINCT user) materializes every key through an Expand +
   two-phase aggregate; the sketch keeps ~1.5 KB per group regardless.

2. MERGEABLE sketch columns (Apache DataSketches HLL via
   ``hll_sketch_agg`` / ``hll_union_agg``): the sketch itself is stored
   as a binary column, so coarse aggregates derive from fine ones
   WITHOUT touching raw data — the same continuous-aggregate shape as
   ``operators.rollup.time_rollup``, but for distinct counts, which are
   not decomposable exactly (sum-of-daily-distincts overcounts).
   Pattern: roll per-day sketches once; any ad-hoc span (week, month,
   arbitrary date range, per-key or global) is a union over day
   sketches — O(days × groups × 1.5 KB), never a raw rescan.

Estimates are deterministic for a given input set (HLL has no RNG), but
not SQL-portable — DuckDB's approx_count_distinct uses a different
sketch — so driver-contract checks are rows-only; accuracy is asserted
against exact values in tests (HLL++ rsd and DataSketches lgK bound the
error; defaults here give ~1-2%).

3. PORTABLE threshold sketches (``threshold_distinct`` /
   ``daily_hash_samples`` / ``span_estimate``; ``sampled_item_counts``
   extends the family from distincts/quantiles to FREQUENCY estimates —
   heavy hitters from a deterministic row sample): distinct counting via
   hash-threshold sampling (Wegman's adaptive-sampling idea — keep only
   values whose deterministic hash lands below ``MODULUS/rate``, count
   the surviving distinct hashes, scale by ``rate``). Unlike HLL the
   whole computation is closed-form BIGINT arithmetic over
   ``sampling.portable_hash``, so a SQL oracle reproduces the estimate
   BIT-FOR-BIT — this tier is the oracle-checked face of the
   approximate-distinct capability, while the HLL tiers remain the
   engine-default (tighter error per byte, but implementation-specific).

   Scale shape: the threshold filter runs BEFORE the shuffle, so the
   exchange carries only ~distinct/rate (key, hash) pairs after
   map-side partial dedup — at 100 TB with rate=1024 that is ~0.1% of
   the exact COUNT(DISTINCT) shuffle. The stored form
   (``daily_hash_samples``) keeps the sampled hash SET per (day, group)
   as a sorted array column: mergeable by set-union exactly like the
   HLL sketch bytes, but SQL-readable — any span estimate equals the
   direct raw-scan estimate (proven by the ``daily_portable_rollup``
   contract oracle), with per-group state bounded at distinct/rate
   elements in expectation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .sampling import HASH_MODULUS, portable_hash, portable_hash_sql


def approx_group_stats(
    df: DataFrame,
    keys: list[str],
    distinct_col: str,
    value_col: str,
    rsd: float = 0.01,
    accuracy: int = 10_000,
) -> DataFrame:
    """Per-group approximate distinct count (HLL++, relative std dev
    ``rsd``) and median (``percentile_approx`` with 1/``accuracy``
    rank error). Single partial-aggregatable pass, constant state per
    group."""
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.approx_count_distinct(distinct_col, rsd).alias("approx_distinct"),
        F.percentile_approx(value_col, 0.5, accuracy).alias("approx_median"),
    )


def daily_sketches(
    df: DataFrame,
    ts: str,
    keys: list[str],
    distinct_col: str,
    lg_k: int = 12,
    day_col: str = "day",
    sketch_col: str = "sketch",
) -> DataFrame:
    """Per-(day, keys) DataSketches HLL sketch of ``distinct_col`` as a
    binary column — the stored, mergeable form. lg_k=12 → ~2.5 KB and
    ~1.6% standard error per sketch."""
    return (
        df.groupBy(F.to_date(F.col(ts)).alias(day_col),
                   *[F.col(k) for k in keys])
        .agg(F.hll_sketch_agg(distinct_col, F.lit(lg_k)).alias(sketch_col))
    )


def union_estimate(
    sketches: DataFrame,
    keys: list[str],
    sketch_col: str = "sketch",
    estimate_col: str = "distinct_estimate",
) -> DataFrame:
    """Merge stored sketches down to ``keys`` and estimate distincts —
    re-aggregation over sketch bytes only. An empty ``keys`` gives the
    global estimate."""
    merged = (
        sketches.groupBy(*[F.col(k) for k in keys])
        .agg(F.hll_union_agg(sketch_col).alias("_u"))
        if keys else
        sketches.agg(F.hll_union_agg(sketch_col).alias("_u"))
    )
    return merged.select(
        *keys,
        F.hll_sketch_estimate("_u").alias(estimate_col),
    )


# --- Tier 3: portable threshold sketches (oracle-checkable) -----------------


def sample_threshold(rate: int) -> int:
    """Hash threshold for a ~1/``rate`` sample: keep values whose
    portable hash is below ``HASH_MODULUS // rate``."""
    if rate < 1:
        raise ValueError(f"rate must be >= 1, got {rate}")
    return HASH_MODULUS // rate


def threshold_distinct(
    df: DataFrame,
    keys: list[str],
    distinct_col: str,
    rate: int = 64,
    n_col: str = "n",
    est_col: str = "est_distinct",
) -> DataFrame:
    """Per-group distinct estimate by hash-threshold sampling: count the
    distinct hashes below ``HASH_MODULUS/rate`` and scale by ``rate``.

    One aggregate pass; the distinct-agg state carries only sampled
    hashes (the ``when`` yields NULL above the threshold and
    count_distinct ignores NULLs), so the shuffle is ~distinct/rate
    hash values per group instead of every distinct key. Exactly
    reproducible in ANSI SQL — see :func:`threshold_distinct_sql_exprs`.
    """
    t = sample_threshold(rate)
    h = portable_hash(distinct_col)
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias(n_col),
        (F.count_distinct(F.when(h < t, h)) * F.lit(rate)).alias(est_col),
    )


def threshold_distinct_sql_exprs(distinct_expr: str,
                                 rate: int = 64) -> tuple[str, str]:
    """(sampled-hash CASE expression, estimate expression) — the ANSI-SQL
    twins of :func:`threshold_distinct`'s aggregate inputs, for oracle
    embedding."""
    t = sample_threshold(rate)
    h = portable_hash_sql(distinct_expr)
    case = f"CASE WHEN ({h}) < {t} THEN ({h}) END"
    return case, f"count(DISTINCT {case}) * {rate}"


def daily_hash_samples(
    df: DataFrame,
    ts: str,
    keys: list[str],
    distinct_col: str,
    rate: int = 64,
    day_col: str = "day",
    sample_col: str = "hash_sample",
) -> DataFrame:
    """Stored mergeable form: per-(day, keys) SORTED ARRAY of the sampled
    distinct hashes of ``distinct_col`` — the SQL-readable analogue of a
    stored HLL sketch column. Expected size distinct/rate elements per
    group; the threshold filter precedes the shuffle, so the exchange
    never carries unsampled values."""
    t = sample_threshold(rate)
    return (
        df.select(F.to_date(F.col(ts)).alias(day_col),
                  *[F.col(k) for k in keys],
                  portable_hash(distinct_col).alias("_h"))
        .where(F.col("_h") < t)
        .groupBy(day_col, *keys)
        .agg(F.sort_array(F.collect_set("_h")).alias(sample_col))
    )


def span_estimate(
    samples: DataFrame,
    keys: list[str],
    rate: int = 64,
    sample_col: str = "hash_sample",
    est_col: str = "est_distinct",
) -> DataFrame:
    """Merge stored hash samples down to ``keys`` (set-union via explode
    + distinct) and estimate distincts for the span. Because the sample
    is a deterministic subset keyed by value hash, the merged estimate
    EQUALS the direct raw-scan estimate over the same rows — the
    losslessness the ``daily_portable_rollup`` oracle proves. Shuffle
    carries sampled hashes only."""
    ex = samples.select(*[F.col(k) for k in keys],
                        F.explode(F.col(sample_col)).alias("_h"))
    est = (F.count_distinct("_h") * F.lit(rate)).alias(est_col)
    if keys:
        return ex.groupBy(*keys).agg(est)
    return ex.agg(est)


# --- portable mergeable QUANTILE samples (value distribution analog of
#     the hash-sample distinct tier) ---


def _disc_quantile(arr, q: float):
    """Discrete (nearest-lower-rank) quantile of a SORTED array column:
    element at index floor(q * (n-1)) + 1 (1-based). No interpolation —
    the result is an actual data value, so cross-engine comparison is
    exact (no float-arithmetic drift)."""
    idx = F.floor(F.lit(q) * (F.size(arr) - 1)).cast("int") + 1
    # an empty sample (e.g. keys=[] over a fully-filtered store still
    # emits one global row) must yield NULL, not an index-0 error
    return F.when(F.size(arr) > 0, F.element_at(arr, idx))


def _q_name(q: float) -> str:
    return f"p{round(q * 100)}"


def threshold_quantiles(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    id_col: str,
    qs: tuple[float, ...] = (0.5, 0.95),
    rate: int = 64,
    n_col: str = "n_sampled",
) -> DataFrame:
    """Per-group approximate quantiles from a deterministic ~1/``rate``
    ROW sample: keep rows whose ``portable_hash(id_col)`` lands under
    the threshold, sort the sampled values, take discrete quantiles.

    The filter runs BEFORE the shuffle, so the exchange carries
    ~rows/rate values per group — the quantile analog of
    :func:`threshold_distinct`, and like it fully closed-form: a SQL
    oracle reproduces every sampled row, hence every estimate, exactly.
    (Engine-default alternative: ``percentile_approx`` in
    :func:`approx_group_stats` — tighter error per byte, but its
    sketch is implementation-specific.) ``value_col`` must be non-null
    (NULL handling differs between collect_list and SQL list()-style
    aggregates across engines)."""
    t = sample_threshold(rate)
    sampled = (df.where(portable_hash(id_col) < t)
               .select(*[F.col(k) for k in keys], F.col(value_col)))
    arr = F.sort_array(F.collect_list(value_col))
    aggs = [F.count(F.lit(1)).alias(n_col)] + [
        _disc_quantile(arr, q).alias(_q_name(q)) for q in qs]
    return sampled.groupBy(*keys).agg(*aggs)


def daily_value_samples(
    df: DataFrame,
    ts: str,
    keys: list[str],
    value_col: str,
    id_col: str,
    rate: int = 64,
    day_col: str = "day",
    sample_col: str = "value_sample",
) -> DataFrame:
    """Stored mergeable form: per-(day, keys) SORTED ARRAY of the
    ~1/``rate`` deterministically sampled values — the quantile analog
    of :func:`daily_hash_samples`. Because membership is decided by the
    row's own id hash, the union of any span's stored samples IS the
    sample of the span's raw rows: quantile rollups over arbitrary
    date ranges never rescan raw data and lose nothing vs computing
    directly (the ``daily_quantile_rollup`` oracle proves equality)."""
    t = sample_threshold(rate)
    return (
        df.where(portable_hash(id_col) < t)
        .select(F.to_date(F.col(ts)).alias(day_col),
                *[F.col(k) for k in keys], F.col(value_col).alias("_v"))
        .groupBy(day_col, *keys)
        .agg(F.sort_array(F.collect_list("_v")).alias(sample_col))
    )


def span_quantiles(
    samples: DataFrame,
    keys: list[str],
    qs: tuple[float, ...] = (0.5, 0.95),
    sample_col: str = "value_sample",
    n_col: str = "n_sampled",
) -> DataFrame:
    """Merge stored value samples down to ``keys`` (concatenate via
    explode — a deterministic row sample is closed under union) and
    take discrete quantiles for the span. Shuffle carries sampled
    values only."""
    ex = samples.select(*[F.col(k) for k in keys],
                        F.explode(F.col(sample_col)).alias("_v"))
    arr = F.sort_array(F.collect_list("_v"))
    aggs = [F.count(F.lit(1)).alias(n_col)] + [
        _disc_quantile(arr, q).alias(_q_name(q)) for q in qs]
    if keys:
        return ex.groupBy(*keys).agg(*aggs)
    return ex.agg(*aggs)


def trailing_distinct_estimate(
    df: DataFrame,
    ts: str,
    distinct_col: str,
    window_days: int = 7,
    rate: int = 64,
    est_col: str = "est_active",
    materialize: bool = True,
) -> DataFrame:
    """Sketch-tier trailing distinct actives — the 100 TB companion to
    ``journeys.trailing_active_users`` (which is exact and shuffles
    window_days x the FULL deduped activity): per trailing-day window,
    estimate distinct ``distinct_col`` values from the stored daily
    hash samples.

    Composition, all existing tiers: :func:`daily_hash_samples` reduces
    raw rows to per-day sampled-hash arrays (the threshold filter runs
    BEFORE any shuffle, so the exchange carries ~distinct/rate hashes
    per day), then each day's sample votes for the ``window_days``
    window-end days it falls in (the same sequence-explode grid as the
    exact operator, but over day-sized sample rows) and the estimate is
    rate x distinct sampled hashes per window. Because the sample is a
    deterministic subset keyed by value hash, the merged trailing
    estimate EQUALS the direct raw-scan estimate over the same window —
    so a SQL oracle replays it exactly (same losslessness argument the
    daily_portable_rollup oracle proves).

    Span contract: window-end days are clipped to the last day that has
    at least one SAMPLED value (the store's span); a window whose every
    member day sampled nothing emits no row.

    Output: ``day`` (timestamp midnight UTC), ``est_col``.
    """
    samples = daily_hash_samples(df, ts, [], distinct_col, rate=rate)
    return trailing_estimate_from_samples(
        samples, window_days=window_days, rate=rate, est_col=est_col,
        materialize=materialize)


def trailing_estimate_from_samples(
    samples: DataFrame,
    window_days: int = 7,
    rate: int = 64,
    day_col: str = "day",
    sample_col: str = "hash_sample",
    est_col: str = "est_active",
    materialize: bool = True,
) -> DataFrame:
    """Trailing estimate straight from a STORED (possibly append-only
    duplicated) sample relation: the
    deployment shape, where the daily store is maintained by a stream
    and trailing metrics are answered without touching raw events.
    Duplicate day-partial rows are harmless: the per-window
    count_distinct reads through them unchanged.

    ``materialize`` (default True) caches the day-sample relation
    because it feeds BOTH the span max-aggregate and the vote explode;
    Catalyst has no cross-branch reuse, so without the barrier the
    sample pipeline (through trailing_distinct_estimate: the full raw
    scan + day shuffle) would run once per branch. Pass False for
    streaming inputs (persist is illegal there) or when the caller
    materializes upstream; caller releases via cache.release_tracked.
    """
    from dump1090_db_stream_spark.operators.timeseries import epoch_bucket

    if window_days < 1:
        # sequence(start, stop) auto-steps -1 when start > stop, so a
        # zero/negative window would silently vote BACKWARD in time
        raise ValueError(f"window_days must be >= 1, got {window_days}")
    d = epoch_bucket(F.col(day_col), 86400)
    days = samples.select(d.alias("_d"), F.col(sample_col).alias("_s"))
    if materialize:
        from dump1090_db_stream_spark.cache import track

        days = track(days)
    hi = days.agg(F.max("_d").alias("_hi"))
    # one generator per select: days fan out to windows first, then the
    # (never-empty — sampled-only days have rows) array unnests
    votes = (
        days.crossJoin(F.broadcast(hi))
        .select(F.explode(F.sequence(
            F.col("_d"),
            F.least(F.col("_d") + (window_days - 1), F.col("_hi"))
        )).alias("_w"), "_s")
        .select("_w", F.explode("_s").alias("_h"))
    )
    return (
        votes.groupBy("_w")
        .agg((F.count_distinct("_h") * F.lit(rate)).alias(est_col))
        .select(F.timestamp_seconds(F.col("_w") * 86400).alias("day"),
                est_col)
    )


def sampled_item_counts(
    df: DataFrame,
    item_cols: list[str] | str,
    id_col: str,
    keys: list[str] | None = None,
    rate: int = 64,
    min_sampled: int = 1,
    n_sampled_col: str = "n_sampled",
    est_col: str = "est_count",
) -> DataFrame:
    """Heavy hitters / frequency estimation from a deterministic row
    sample — the COUNT analog of :func:`threshold_distinct` (the
    portable sketch family covers distincts and quantiles; this closes
    the frequency gap). Per (keys, item), estimate the row count as
    (rows whose ``portable_hash(id) < MODULUS/rate``) x rate.

    The sample is a deterministic, layout-invariant subset keyed on the
    row id's portable hash, so the estimate is reproducible across
    reruns, partitionings, and engines (closed-form BIGINT + md5-free —
    a SQL oracle replays it bit-for-bit; see
    :func:`sampled_item_counts_sql`).

    Estimator contract: a sampled count s estimates the true frequency
    f with relative error ~ sqrt(rate/f) (binomial) — tight for HEAVY
    items (f >> rate), useless for rare ones; that asymmetry is the
    point (the rare tail is what the sample exists to discard).
    ``min_sampled`` is the noise floor: items with fewer sampled rows
    are dropped rather than reported with garbage estimates. The
    default (1) reports everything sampled; raise it to ~8+ when only
    defensible estimates should surface.

    Scale: the hash filter is a NARROW row filter BEFORE the shuffle —
    the exchange carries ~1/rate of the input, map-side combined to
    one row per (keys, item) per partition. State per group is O(1).
    """
    keys = keys or []
    item_cols = [item_cols] if isinstance(item_cols, str) else list(item_cols)
    t = sample_threshold(rate)
    return (
        df.where(portable_hash(id_col) < t)
        .groupBy(*keys, *item_cols)
        .agg(F.count(F.lit(1)).alias(n_sampled_col))
        .where(F.col(n_sampled_col) >= min_sampled)
        .withColumn(est_col, F.col(n_sampled_col) * F.lit(rate))
    )


def sampled_item_counts_sql(
    table: str,
    item_exprs: list[str] | str,
    id_expr: str,
    keys: list[str] | None = None,
    rate: int = 64,
    min_sampled: int = 1,
) -> str:
    """ANSI-SQL twin of :func:`sampled_item_counts` for oracle
    embedding."""
    keys = keys or []
    item_exprs = ([item_exprs] if isinstance(item_exprs, str)
                  else list(item_exprs))
    t = sample_threshold(rate)
    h = portable_hash_sql(id_expr)
    group = ", ".join([*keys, *item_exprs])
    return f"""
        SELECT {group}, count(*) AS n_sampled,
               count(*) * {rate} AS est_count
        FROM {table}
        WHERE ({h}) < {t}
        GROUP BY {group}
        HAVING count(*) >= {min_sampled}
    """

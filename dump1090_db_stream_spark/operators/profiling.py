"""Table profiling: per-column quality statistics in one scan.

The data-quality audit primitive a pipeline runs before trusting a new
snapshot: row count, null count, distinct count, and min/max per
column, emitted long-format (one row per column) so downstream checks
diff profiles across versions like any other relation.

Physical shape: ONE aggregation over the table computes every
column's statistics simultaneously (a single row of ~4 x n_cols
aggregates, partial-combined map-side), then a narrow explode unpivots
it — the table is scanned once regardless of column count, never once
per column.

Typing discipline for the long format: numeric columns report min/max
as DOUBLE (exact for integers/decimals below 2^53); string, date and
timestamp columns report min/max as their STRING form (ISO dates are
identical across ANSI engines). Mixing both through one string cast
would make numeric mins lexical ("10" < "9") and engine-formatted —
the classic profiling-tool bug this split avoids.

Distinct-count tiers (``distinct_mode``): Spark plans N simultaneous
COUNT(DISTINCT) aggregates as an Expand — every input row is
multiplied x(n_cols+1) BEFORE the shuffle, which at 100 TB turns the
"one scan" into n_cols row-id shuffles. So exact is the CONTRACT tier,
not the default:

- ``"approx"`` (default) — HLL++ ``approx_count_distinct`` per column:
  a regular (non-distinct) aggregate, so no Expand, constant state per
  column, ~2% error. The 100 TB default.
- ``"portable"`` — threshold hash-sampling (the
  ``operators.sketches.threshold_distinct`` estimator, per column):
  collect_set of the sampled portable md5-hashes (values whose hash <
  MODULUS/rate), estimate = |set| * rate. Also a regular aggregate (no
  Expand); state ~distinct/rate hashes per column (pick rate ~
  expected_distinct/1e5 at scale); and — unlike HLL — every step is
  closed-form ANSI SQL, so the DuckDB oracle hash-checks the ESTIMATE
  itself. Values are canonicalized per type before hashing (ints/
  strings/dates via string cast, timestamps via epoch micros, floats
  via DECIMAL(30,6) — sub-1e-6 float distinctions merge; use another
  tier if that matters). Columns with n_distinct << rate sample
  nothing and estimate 0 — inherent to threshold sampling; pick rate
  below the smallest cardinality you care to resolve.
- ``"exact"`` — COUNT(DISTINCT col): bit-exact, Expand-planned; right
  for contract/oracle runs and small tables.

``value_histogram`` extends the profile to distributions: per-key
equi-width histograms over a numeric column, two aggregate passes
(per-key min/max, then bin counts with the tiny extent relation
broadcast back) — never a driver-side collect of values.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_NUMERIC = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType, T.DecimalType)
_STRINGY = (T.StringType, T.DateType, T.TimestampType, T.TimestampNTZType)


def _portable_canon(f: T.StructField) -> Column:
    """Engine-portable canonical string of a column value for hashing:
    identical text in Spark and any ANSI engine, so md5-derived hashes
    (and therefore the portable distinct estimate) match bit-for-bit."""
    c = F.col(f.name)
    if isinstance(f.dataType, (T.FloatType, T.DoubleType)):
        # raw float->string differs across engines (1.0E7 vs 10000000.0);
        # fixed-scale decimal renders identically, merging only sub-1e-6
        # distinctions (documented in the module docstring)
        return c.cast("decimal(30,6)").cast("string")
    if isinstance(f.dataType, (T.TimestampType, T.TimestampNTZType)):
        # epoch micros: engine-neutral integer text, no format folklore
        return F.unix_micros(c.cast("timestamp")).cast("string")
    return c.cast("string")


def table_profile(
    df: DataFrame,
    cols: list[str] | None = None,
    distinct_mode: str = "approx",
    rate: int = 64,
) -> DataFrame:
    """(column, n_rows, n_null, n_distinct, min_num, max_num, min_str,
    max_str) — one output row per profiled column, one input scan.
    ``distinct_mode`` in {"approx", "portable", "exact"} picks the
    n_distinct tier (see module docstring); ``rate`` is the portable
    tier's sampling rate."""
    if distinct_mode not in ("approx", "portable", "exact"):
        raise ValueError(f"unknown distinct_mode {distinct_mode!r}")
    from dump1090_db_stream_spark.operators.sampling import HASH_MODULUS
    from dump1090_db_stream_spark.operators.sketches import sample_threshold

    t = sample_threshold(rate)
    fields = [f for f in df.schema.fields
              if cols is None or f.name in cols]
    aggs = [F.count(F.lit(1)).alias("_n")]
    for f in fields:
        c, name = F.col(f.name), f.name
        aggs.append((F.count(F.lit(1)) - F.count(c)).alias(f"_null_{name}"))
        if distinct_mode == "exact":
            nd = F.count_distinct(c)
        elif distinct_mode == "approx":
            nd = F.approx_count_distinct(c)
        else:
            h = (F.conv(F.substring(F.md5(_portable_canon(f)), 1, 15),
                        16, 10).cast("long") % F.lit(HASH_MODULUS))
            # when() yields NULL above the threshold and collect_set
            # ignores NULLs: the aggregate state only ever holds the
            # ~distinct/rate sampled hashes
            nd = (F.size(F.collect_set(F.when(h < t, h))).cast("long")
                  * F.lit(rate))
        aggs.append(nd.alias(f"_nd_{name}"))
        if isinstance(f.dataType, _NUMERIC):
            aggs.append(F.min(c).cast("double").alias(f"_min_{name}"))
            aggs.append(F.max(c).cast("double").alias(f"_max_{name}"))
        elif isinstance(f.dataType, _STRINGY):
            aggs.append(F.min(c).cast("string").alias(f"_smin_{name}"))
            aggs.append(F.max(c).cast("string").alias(f"_smax_{name}"))
    one = df.agg(*aggs)
    rows = []
    for f in fields:
        name = f.name
        numeric = isinstance(f.dataType, _NUMERIC)
        stringy = isinstance(f.dataType, _STRINGY)
        rows.append(F.struct(
            F.lit(name).alias("column"),
            F.col("_n").alias("n_rows"),
            F.col(f"_null_{name}").alias("n_null"),
            F.col(f"_nd_{name}").alias("n_distinct"),
            (F.col(f"_min_{name}") if numeric
             else F.lit(None).cast("double")).alias("min_num"),
            (F.col(f"_max_{name}") if numeric
             else F.lit(None).cast("double")).alias("max_num"),
            (F.col(f"_smin_{name}") if stringy
             else F.lit(None).cast("string")).alias("min_str"),
            (F.col(f"_smax_{name}") if stringy
             else F.lit(None).cast("string")).alias("max_str"),
        ))
    return (one.select(F.explode(F.array(*rows)).alias("p"))
            .select("p.*"))


def value_histogram(
    df: DataFrame,
    value_col: str = "value",
    keys: list[str] | None = None,
    n_bins: int = 10,
) -> DataFrame:
    """Per-key equi-width histogram of ``value_col``: one row per
    (keys, bin) with the bin bounds and count; only non-empty bins are
    emitted (a dense grid is a trivial downstream sequence-join if a
    renderer needs it).

    - ``bin``            : 0..n_bins-1; bin i covers
      [min + i*w, min + (i+1)*w) with the last bin closed on the right
      (the max value lands in bin n_bins-1, the standard equi-width
      convention)
    - ``bin_lo/bin_hi``  : bounds, rounded 6
    - ``n``              : rows in the bin

    Degenerate extent (min == max, including single-row keys) puts all
    rows in bin 0 with lo == hi. NULL values are excluded (they have no
    bin; the null count is table_profile's job).

    Physical shape: a per-key min/max aggregation (aggregate-sized),
    broadcast-joined back, then one map-side-combined count per (keys,
    bin). The raw relation is scanned twice but shuffled once at
    aggregate size — at 100 TB both scans prune to (keys..., value) at
    the reader. Bin index arithmetic is the order-fixed IEEE sequence
    floor((v - min) / (max - min) * n_bins) clamped to n_bins-1, so any
    ANSI engine reproduces bin placement bit-for-bit.
    """
    keys = keys or []
    vals = df.filter(F.col(value_col).isNotNull())
    extent = vals.groupBy(*keys).agg(
        F.min(F.col(value_col).cast("double")).alias("_lo"),
        F.max(F.col(value_col).cast("double")).alias("_hi"))
    joined = (vals.join(F.broadcast(extent), on=keys)
              if keys else vals.crossJoin(F.broadcast(extent)))
    raw_bin = F.floor((F.col(value_col).cast("double") - F.col("_lo"))
                      / (F.col("_hi") - F.col("_lo")) * n_bins)
    bin_idx = F.when(F.col("_hi") == F.col("_lo"), F.lit(0)).otherwise(
        F.least(raw_bin, F.lit(n_bins - 1))).cast("int")
    width = (F.col("_hi") - F.col("_lo")) / n_bins
    return (
        joined.select(*keys, "_lo", "_hi", bin_idx.alias("bin"))
        .groupBy(*keys, "_lo", "_hi", "bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            *keys,
            "bin",
            F.round(F.col("_lo") + F.col("bin") * width, 6).alias("bin_lo"),
            F.round(F.col("_lo") + (F.col("bin") + 1) * width, 6)
             .alias("bin_hi"),
            "n",
        )
    )


def check_expectations(
    df: DataFrame,
    rules: list[dict],
) -> DataFrame:
    """Declarative data-quality assertions in ONE aggregation pass —
    the Deequ/Great-Expectations primitive a pipeline gates a new
    snapshot on (table_profile describes; this PASSES or FAILS).

    ``rules`` is a list of dicts, each with a unique ``name``, a
    ``type``, and per-type keys:

    - ``not_null``:    column, max_null_frac — fraction of NULLs
    - ``min_value``:   column, threshold — observed min >= threshold
    - ``max_value``:   column, threshold — observed max <= threshold
    - ``accepted``:    column, values, max_other_frac — fraction of
                       non-NULL values outside the accepted list
    - ``unique``:      column — duplicate fraction must be 0
                       (1 - distinct/count over non-NULLs)
    - ``row_count_min``: threshold — table must have >= threshold rows

    Output, one row per rule: (rule, rule_type, column, metric,
    threshold, passed) with metric rounded to 6. Every rule's metric
    is computed in the SAME single aggregation (map-side combined, one
    row), then unpivoted — the table scans once however many rules
    run. ``unique`` uses COUNT(DISTINCT): one such rule keeps the plan
    Expand-free in practice (Spark plans ONE distinct aggregate
    without Expand); many unique rules multiply scan rows like
    table_profile's exact tier — prefer one, or the approx profile.

    FAIL-CLOSED on empty populations (advisor r5 finding): on an empty
    table or an all-NULL column the fraction metrics have a zero
    denominator, so the metric is NULL — and a NULL verdict would make
    the gate neither pass nor fail (misread as passing by consumers
    checking only ``passed == false``). ``passed`` is therefore
    coalesced to false whenever the metric comparison is NULL: a gate
    that cannot measure its population fails it. ``metric`` stays NULL
    in that row to signal "no data" rather than a real 0.
    """
    allowed = {"not_null", "min_value", "max_value", "accepted",
               "unique", "row_count_min"}
    names = [r["name"] for r in rules]
    if len(set(names)) != len(names):
        raise ValueError(f"rule names must be unique, got {names}")
    aggs = [F.count(F.lit(1)).alias("_n_rows")]
    for r in rules:
        t, nm = r["type"], r["name"]
        if t not in allowed:
            raise ValueError(f"unknown rule type {t!r} in {nm!r}")
        if t == "not_null":
            c = F.col(r["column"])
            # try_divide: a zero denominator (empty population) must
            # yield NULL -> fail-closed, not an ANSI DIVIDE_BY_ZERO
            aggs.append(F.try_divide(F.sum(c.isNull().cast("long")),
                                     F.count(F.lit(1))).alias(f"_m_{nm}"))
        elif t == "min_value":
            aggs.append(F.min(F.col(r["column"]).cast("double"))
                        .alias(f"_m_{nm}"))
        elif t == "max_value":
            aggs.append(F.max(F.col(r["column"]).cast("double"))
                        .alias(f"_m_{nm}"))
        elif t == "accepted":
            c = F.col(r["column"])
            vals = F.array(*[F.lit(v) for v in r["values"]])
            bad = F.when(c.isNotNull() & ~F.array_contains(vals, c),
                         F.lit(1)).otherwise(F.lit(0))
            aggs.append(F.try_divide(F.sum(bad),
                                     F.sum(c.isNotNull().cast("long")))
                        .alias(f"_m_{nm}"))
        elif t == "unique":
            c = F.col(r["column"])
            aggs.append((F.lit(1.0)
                         - F.try_divide(
                             F.countDistinct(c),
                             F.sum(c.isNotNull().cast("long"))))
                        .alias(f"_m_{nm}"))
        elif t == "row_count_min":
            aggs.append(F.count(F.lit(1)).cast("double")
                        .alias(f"_m_{nm}"))
    one = df.agg(*aggs)
    checks = []
    for r in rules:
        t, nm = r["type"], r["name"]
        metric = F.round(F.col(f"_m_{nm}").cast("double"), 6)
        if t == "not_null":
            thr, passed = float(r["max_null_frac"]), metric <= r["max_null_frac"]
        elif t == "min_value":
            thr, passed = float(r["threshold"]), metric >= r["threshold"]
        elif t == "max_value":
            thr, passed = float(r["threshold"]), metric <= r["threshold"]
        elif t == "accepted":
            thr, passed = float(r["max_other_frac"]), metric <= r["max_other_frac"]
        elif t == "unique":
            thr, passed = 0.0, metric <= 0.0
        else:  # row_count_min
            thr, passed = float(r["threshold"]), metric >= r["threshold"]
        checks.append(F.struct(
            F.lit(nm).alias("rule"),
            F.lit(t).alias("rule_type"),
            F.lit(r.get("column")).cast("string").alias("column"),
            metric.alias("metric"),
            F.lit(thr).alias("threshold"),
            F.coalesce(passed, F.lit(False)).alias("passed"),
        ))
    return (one.select(F.explode(F.array(*checks)).alias("_c"))
            .select("_c.rule", "_c.rule_type", "_c.column",
                    "_c.metric", "_c.threshold", "_c.passed"))


def psi_drift(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    keys: list[str] | None = None,
    n_bins: int = 10,
) -> DataFrame:
    """Population Stability Index between a reference snapshot and a
    current one — the standard drift monitor a pipeline gates retrains
    and schema alarms on:

        PSI = sum over bins of (p_cur - p_ref) * ln(p_cur / p_ref)

    Bin edges are equi-width over the REFERENCE extent (per key group),
    so the metric answers "how far has the distribution moved from
    where it was", and current values outside the reference range
    clamp into the edge bins. Shares are Laplace-smoothed
    ((count + 0.5) / (n + 0.5 * bins)) — deterministic, no epsilon
    folklore, and both engines compute the identical closed form.

    Scale shape: one extent aggregate over the reference (per key,
    broadcast back), one bin-count aggregate per side (map-side
    combined, <= keys x bins rows), one keys-sized join. Output per
    key group: psi (rounded 6) + the conventional verdict bands
    (stable < 0.1 <= moderate < 0.25 <= major).
    """
    keys = keys or []
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2, got {n_bins}")
    rv = ref.filter(F.col(value_col).isNotNull())
    cv = cur.filter(F.col(value_col).isNotNull())
    extent = rv.groupBy(*keys).agg(
        F.min(F.col(value_col).cast("double")).alias("_lo"),
        F.max(F.col(value_col).cast("double")).alias("_hi"))

    def binned(df: DataFrame, out: str) -> DataFrame:
        j = (df.join(F.broadcast(extent), on=keys) if keys
             else df.crossJoin(F.broadcast(extent)))
        raw = F.floor((F.col(value_col).cast("double") - F.col("_lo"))
                      / (F.col("_hi") - F.col("_lo")) * n_bins)
        idx = F.when(F.col("_hi") == F.col("_lo"), F.lit(0)).otherwise(
            F.greatest(F.least(raw, F.lit(n_bins - 1)), F.lit(0))
        ).cast("int")
        return (j.select(*keys, idx.alias("_bin"))
                .groupBy(*keys, "_bin")
                .agg(F.count(F.lit(1)).alias(out)))

    a = binned(rv, "_ca")
    b = binned(cv, "_cb")
    grid = (extent.select(
        *keys, F.explode(F.sequence(F.lit(0), F.lit(n_bins - 1)))
        .alias("_bin")))
    on = [*keys, "_bin"]
    cells = (grid.join(a, on, "left").join(b, on, "left")
             .fillna(0, subset=["_ca", "_cb"]))
    tot = cells.groupBy(*keys).agg(F.sum("_ca").alias("_na"),
                                   F.sum("_cb").alias("_nb"))
    joined = cells.join(F.broadcast(tot), on=keys) if keys else \
        cells.crossJoin(F.broadcast(tot))
    pa = (F.col("_ca") + 0.5) / (F.col("_na") + 0.5 * n_bins)
    pb = (F.col("_cb") + 0.5) / (F.col("_nb") + 0.5 * n_bins)
    psi = F.round(F.sum((pb - pa) * F.log(pb / pa)), 6)
    out = (joined.groupBy(*keys)
           .agg(psi.alias("psi"),
                F.max("_na").alias("n_ref"),
                F.max("_nb").alias("n_cur")))
    verdict = (F.when(F.col("psi") < 0.1, "stable")
               .when(F.col("psi") < 0.25, "moderate")
               .otherwise("major"))
    return out.select(*keys, "n_ref", "n_cur", "psi",
                      verdict.alias("verdict"))


def exact_quantiles_by(
    df: DataFrame,
    value_col: str,
    keys: list[str] | None = None,
    probs: list[float] = (0.25, 0.5, 0.75),
    n_range_buckets: int = 64,
) -> DataFrame:
    """EXACT per-group quantiles of a continuous column at cluster
    scale — the exact tier next to ``percentile_approx`` (bounded
    error, one pass) and the threshold-sampled sketches
    (:mod:`operators.sketches`): one row per (key combination, prob)
    with ``(*keys, prob, q)``.

    Definition: type-1 (lower) sample quantile — the smallest observed
    value whose inclusive cumulative count reaches ``ceil(p * n)``
    (for p = 0 the minimum). No interpolation: the result is always an
    OBSERVED value, identical in any engine, which is what makes the
    statistic oracle-replayable (interpolating definitions differ
    between engines and even between Spark's own percentile flavors).

    Why not the built-ins: Spark's exact ``percentile`` buffers each
    group's values in executor memory (OOM-bound for a dominant
    group), and ``Window.orderBy(v)`` ranks route the whole relation
    through one task. Here the cumulative counts come from the GROUPED
    :func:`operators.prefix_sum.distributed_prev_counts_multi` over the
    distinct (key, value) grain — per-group quantile-bucketed, no
    unpartitioned ordered window, memory bounded by the distinct-value
    relation per task — and each quantile is then ONE filtered min per
    (key, prob) over that relation. ``probs`` explode multiplies only
    the distinct-value relation, and the (key, prob) aggregate
    map-side combines.

    NULL/NaN values and NULL keys are excluded (as everywhere in the
    stats family); an empty group simply emits no rows. ``probs`` must
    be in [0, 1].
    """
    ps = sorted(set(float(p) for p in probs))
    if not ps or ps[0] < 0.0 or ps[-1] > 1.0:
        raise ValueError(f"probs must lie in [0, 1], got {probs}")
    kcols = list(keys or [])
    base = df.select(
        *kcols,
        F.col(value_col).cast("double").alias("_v"),
    ).filter(F.col("_v").isNotNull() & ~F.isnan("_v"))
    for k in kcols:
        base = base.filter(F.col(k).isNotNull())
    per = base.groupBy(*kcols, "_v").agg(
        F.count(F.lit(1)).alias("_cnt"))

    from dump1090_db_stream_spark.cache import track
    from dump1090_db_stream_spark.operators.prefix_sum import (
        distributed_prev_counts_multi,
    )

    ranked = distributed_prev_counts_multi(
        track(per), "_v", ("_cnt",), n_range_buckets,
        partition_cols=tuple(kcols), with_totals=True)
    # target rank per prob: ceil(p * n), floored at 1 (p = 0 -> min).
    # ceil on the exact double p*n: n < 2^53 keeps the product exact
    # enough that both engines agree except for p*n landing EXACTLY on
    # an integer, which IS exact in IEEE for representable p
    probs_arr = F.array(*[F.lit(p) for p in ps])
    exploded = ranked.select(
        *kcols, "_v", "_cnt", "_prev_cnt", "_total_cnt",
        F.explode(probs_arr).alias("prob"))
    target = F.greatest(
        F.lit(1).cast("long"),
        F.ceil(F.col("prob") * F.col("_total_cnt").cast("double")))
    return (exploded
            .filter((F.col("_prev_cnt") + F.col("_cnt")) >= target)
            .groupBy(*kcols, "prob")
            .agg(F.min("_v").alias("q"))
            .select(*kcols, "prob", "q"))

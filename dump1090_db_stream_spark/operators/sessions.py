"""Generic sessionization + time-band join operators.

Generalizations of the reference's callsigns view (create_schema.sql:85-93)
and flights band join (create_schema.sql:116-124) to arbitrary key/label/
timestamp columns, so the same operators serve both the ADS-B schema and
any other event table.

Scale notes:
- ``daily_sessions`` is a partial-aggregatable groupBy (map-side combine);
  output cardinality = distinct (key, label, day), typically orders of
  magnitude below the input.
- ``band_join`` is an equi-join on the session key with the time band as
  a residual predicate; the planner broadcasts whichever side its size
  estimate finds small (``views.flights`` measured both ways), else it
  shuffles both on the equi key. Never a nested-loop: the equi key
  always anchors the join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def daily_sessions(
    df: DataFrame,
    key: str,
    label: str,
    ts: str,
    date_alias: str = "date_seen",
    first_alias: str = "first_seen",
    last_alias: str = "last_seen",
) -> DataFrame:
    """Per-day (key, label) sessions with first/last timestamps.

    Reference semantics (create_schema.sql:85-93): rows with an empty or
    NULL label are excluded (F-9); grouping key includes the calendar date
    of ``ts`` (A-2); aggregates are min/max (A-3/A-4).
    """
    return (
        df.filter(F.col(label).isNotNull() & (F.col(label) != ""))
        .groupBy(
            F.col(key),
            F.col(label),
            F.col(ts).cast("date").alias(date_alias),
        )
        .agg(
            F.max(ts).alias(last_alias),
            F.min(ts).alias(first_alias),
        )
    )


def band_join(
    fixes: DataFrame,
    sessions: DataFrame,
    key: str,
    ts: str,
    band: Column | str = "INTERVAL 10 MINUTES",
    first_col: str = "first_seen",
    last_col: str = "last_seen",
    session_cols: list[str] | None = None,
    distinct: bool = True,
    salt_buckets: int | None = None,
) -> DataFrame:
    """Associate each timestamped row with every session active (± band)
    at that time — the reference's flights join (create_schema.sql:116-124,
    condition :124) with SELECT DISTINCT (A-5) on top.

    ``session_cols`` are the session-side columns carried into the output
    (default: all non-key, non-bound columns, i.e. the label columns).

    ``salt_buckets``: skew mitigation for hot keys (one aircraft/user
    dominating the feed). The big (fixes) side gets a random-ish salt
    derived from xxhash64(ts); the session side is replicated
    salt_buckets ways; the join key becomes (key, salt). Row concentration
    per shuffle partition drops by the bucket factor at the cost of
    replicating the (small, aggregated) session side. Results are
    identical — the salt is a join-key refinement, not a semantic change.
    AQE's skewJoin handles moderate skew without this; salting is for the
    pathological key that exceeds a single executor's memory.
    """
    if isinstance(band, str):
        band = F.expr(band)
    if salt_buckets:
        fixes = fixes.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col(ts)), F.lit(salt_buckets)))
        sessions = sessions.withColumn(
            "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)])))
    l, s = fixes.alias("l"), sessions.alias("s")
    cond = (
        (F.col(f"l.{key}") == F.col(f"s.{key}"))
        & (F.col(f"l.{ts}") <= F.col(f"s.{last_col}") + band)
        & (F.col(f"l.{ts}") >= F.col(f"s.{first_col}") - band)
    )
    if salt_buckets:
        cond = cond & (F.col("l._salt") == F.col("s._salt"))
    joined = l.join(s, cond, "inner")
    if session_cols is None:
        bound = {key, first_col, last_col, "_salt"}
        session_cols = [c for c in sessions.columns if c not in bound]
    out = joined.select(
        *[F.col(f"l.{c}").alias(c) for c in fixes.columns if c != "_salt"],
        *[F.col(f"s.{c}").alias(c) for c in session_cols],
    )
    return out.distinct() if distinct else out


def dedup_by_key(
    df: DataFrame,
    keys: list[str],
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Key-based dedup (A-6): the reference's PK
    (transmission_type, parsed_time, hex_ident) (create_schema.sql:132-133)
    keeps the first row per key. ``dropDuplicates`` picks an arbitrary
    survivor; with ``tiebreak`` columns the survivor is deterministic
    (lowest tiebreak tuple wins) — required for oracle comparison and for
    reproducible pipelines.

    Scale: single hash-shuffle on the key columns; the row_number window
    re-uses the same shuffle partitioning (no second exchange).
    """
    if not tiebreak:
        return df.dropDuplicates(keys)
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(*[F.col(c).asc_nulls_last() for c in tiebreak])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def cap_events_per_key(
    df: DataFrame,
    keys: list[str] | str,
    ts: str,
    max_rows: int,
    tie_col: str | None = None,
    keep: str = "first",
) -> DataFrame:
    """Skew guard: keep at most ``max_rows`` events per key — the
    deterministic upstream cap that every per-key window/aggregate
    operator's scale contract assumes (journeys, funnel folds,
    value_runs all document "bounded rows per key"; this operator IS
    that bound, not a docstring).

    ``keep="first"`` keeps the EARLIEST ``max_rows`` rows per key by
    (ts, tie_col); ``keep="last"`` the latest. ``tie_col`` (the
    relation's unique id) makes the cut deterministic across engines
    when timestamps tie — without it, equal-ts rows at the boundary are
    engine-ordered. NULL ordering is engine-specific (Spark sorts NULLs
    first ascending, DuckDB last by default) — keep ``ts``/``tie_col``
    NOT NULL if the cut must replay identically elsewhere.

    Physical shape: ONE hash shuffle on ``keys``; ``row_number`` is a
    streaming window frame, so task state is O(1) per key regardless of
    how many events the hottest key owns — a 10^8-event user costs sort
    time, never executor memory. Better: Catalyst rewrites the
    rank-filter into a WindowGroupLimit with a PARTIAL (map-side)
    stage, so each input partition pre-caps to max_rows rows/key
    BEFORE the exchange — the shuffle itself never carries the hot
    key's full history (plan-asserted in test_sessions). Downstream
    per-key operators then see <= max_rows rows/key, turning their
    "skew bound = rows per key" caveat into a hard invariant, and the
    window's output partitioning satisfies any following groupBy on
    the same key (no second Exchange).
    """
    if max_rows < 1:
        raise ValueError(f"max_rows must be >= 1, got {max_rows}")
    if keep not in ("first", "last"):
        raise ValueError(f"keep must be 'first' or 'last', got {keep!r}")
    from pyspark.sql import Window

    keys = [keys] if isinstance(keys, str) else list(keys)
    order = [F.col(ts)] + ([F.col(tie_col)] if tie_col else [])
    if keep == "last":
        order = [c.desc() for c in order]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_rows)
        .drop("_rn")
    )


def sessionize(
    df: DataFrame,
    key: str,
    ts: str,
    gap_seconds: int,
    tie_col: str | None = None,
    session_col: str = "session_id",
) -> DataFrame:
    """Row-level gap sessionization: assign every event a 1-based
    ``session_col`` per ``key``, starting a new session whenever the
    time since the key's previous event exceeds ``gap_seconds`` — the
    batch, row-preserving member of the session family
    (``F.session_window`` AGGREGATES to one row per session;
    ``streaming.stateful.session_flights`` is the streaming form; this
    labels the events themselves, which is what downstream per-session
    operators — funnels, journey paths, value runs — consume).

    Classic gaps-and-islands, the same one-Exchange shape as
    :func:`value_runs`: one window pass computes the new-session flag
    (lag + gap compare), a running sum over the SAME window spec turns
    flags into ids — Catalyst plans ONE Exchange + ONE sort, O(1)
    state per row. ``tie_col`` (the relation's unique id) makes
    equal-timestamp ordering deterministic across engines; boundary
    semantics are strict (dt > gap starts a new session; dt == gap
    continues), on microsecond arithmetic so any ANSI engine replays
    ids exactly.

    Skew: one key's rows land in one task (any per-key window's
    contract) — sort cost, O(1) memory; pre-split pathological keys
    with :func:`cap_events_per_key` if even sort time is unaffordable.
    """
    if gap_seconds <= 0:
        raise ValueError(f"gap_seconds must be > 0, got {gap_seconds}")
    from pyspark.sql import Window

    order = [F.col(ts)] + ([F.col(tie_col)] if tie_col else [])
    w = Window.partitionBy(key).orderBy(*order)
    prev_us = F.lag(F.unix_micros(F.col(ts).cast("timestamp"))).over(w)
    dt_us = F.unix_micros(F.col(ts).cast("timestamp")) - prev_us
    new_sess = F.when(
        prev_us.isNull() | (dt_us > gap_seconds * 1_000_000), 1
    ).otherwise(0)
    return df.withColumn(
        session_col,
        F.sum(new_sess).over(
            w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"))


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str | None = None,
    right_cols: list[str] | None = None,
    suffix: str = "_asof",
) -> DataFrame:
    """As-of (backward) join: for each left row, attach the LATEST right
    row with the same key whose timestamp is <= the left timestamp
    (inclusive) — the time-series point-in-time lookup Spark lacks as a
    builtin.

    Scale design — union + tagged window, NOT a range join:
    a naive implementation joins on key with ``r.ts <= l.ts`` and takes
    max per left row, exploding to |left| x |right-per-key| intermediate
    rows before aggregation. Here both sides are UNIONED (right rows
    tagged sort-first at ties), and one window pass per key ordered by
    (ts, tag) carries the last non-null right payload forward:

        shuffle volume = |left| + |right|  (one Exchange, the window's)
        memory         = O(1) per row (running frame, no buffering)

    Right columns are struct-packed before the window so the carried
    payload is ROW-ATOMIC — per-column last() would mix columns from
    different right rows when nulls interleave.

    Output: all left columns + each right payload column as
    ``<name><suffix>`` (NULL when no right row precedes the left row).
    """
    right_ts = right_ts or left_ts
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in (key, right_ts)]
    from pyspark.sql import Window

    payload = F.struct(*[F.col(c) for c in right_cols])
    r = right.select(
        F.col(key),
        F.col(right_ts).alias(left_ts),
        payload.alias("_r"),
        F.lit(0).alias("_tag"),  # sorts BEFORE left rows at equal ts
    )
    l = left.select(
        *left.columns,
        F.lit(None).cast(r.schema["_r"].dataType).alias("_r"),
        F.lit(1).alias("_tag"),
    )
    unioned = l.unionByName(r, allowMissingColumns=True)
    w = (Window.partitionBy(key).orderBy(left_ts, "_tag")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    carried = unioned.withColumn("_m", F.last("_r", ignorenulls=True).over(w))
    return (carried.filter(F.col("_tag") == 1)
            .select(*left.columns,
                    *[F.col("_m")[c].alias(f"{c}{suffix}")
                      for c in right_cols]))


def value_runs(
    df: DataFrame,
    key: str,
    ts: str,
    value: str,
    tie_col: str | None = None,
) -> DataFrame:
    """Coalesce a change log into validity intervals (gaps-and-islands /
    SCD type-2): consecutive same-``value`` rows per ``key`` become ONE
    row with a half-open [valid_from, valid_to) interval; the current
    run's valid_to is NULL (the warehouse "open row" convention).

    Output: key, value (as named), ``run`` (1-based per key),
    ``valid_from``, ``valid_to``, ``n_rows`` (events in the run).

    Classic two-window derivation, one shuffle total (all three window
    passes share the same (key) partitioning and (ts, tie) ordering, so
    Catalyst plans ONE Exchange + ONE sort):

      1. change flag  : value IS DISTINCT FROM lag(value)  — null-safe,
         so NULL-valued runs coalesce like any other value
      2. run id       : running sum of change flags (gaps-and-islands)
      3. interval     : groupBy(key, run) min(ts); valid_to = the NEXT
         run's valid_from via lead over the aggregated runs (tiny)

    ``tie_col`` (default: none) breaks equal timestamps so run
    boundaries are deterministic across engines; pass the relation's
    unique id when ts can tie.

    Scale: state per row is O(1); the groupBy carries (key, run) —
    output cardinality = number of value changes, typically orders of
    magnitude below the input. Skew bound = rows per key (same contract
    as any per-key window; :func:`cap_events_per_key` or sessionize
    upstream if a key is unbounded).
    """
    from pyspark.sql import Window

    order = [F.col(ts)] + ([F.col(tie_col)] if tie_col else [])
    w = Window.partitionBy(key).orderBy(*order)
    # lag over a STRUCT is NULL exactly on the first row per key, even
    # when the value column itself is NULL — the bare-lag version would
    # start NULL-valued keys at run 1 but everyone else at run 2
    prev = F.lag(F.struct(F.col(value).alias("v"))).over(w)
    chg = F.when(prev.isNull(), 0).when(
        prev["v"].eqNullSafe(F.col(value)), 0).otherwise(1)
    runs = (
        df.withColumn("_chg", chg)
        .withColumn("run", (F.sum("_chg").over(
            w.rowsBetween(Window.unboundedPreceding, 0)) + 1)
            .cast("long"))
        .groupBy(key, "run")
        # value is CONSTANT within a run by construction, so min() is
        # just extraction, not a choice
        .agg(F.min(ts).alias("valid_from"),
             F.min(value).alias(value),
             F.count(F.lit(1)).alias("n_rows"))
    )
    w_runs = Window.partitionBy(key).orderBy("run")
    return runs.select(
        key, value, "run", "valid_from",
        F.lead("valid_from").over(w_runs).alias("valid_to"), "n_rows",
    )

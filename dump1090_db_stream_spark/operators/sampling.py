"""Deterministic sampling / splitting operators for training-data
pipelines (north-star extension; the reference has no sampling surface —
SURVEY.md §2.7/§7 stage 5).

Everything here is HASH-driven, never RNG-driven: at 100 TB a sample must
be (a) reproducible across reruns and cluster layouts, (b) computable
row-locally with no shuffle, and (c) auditable from the row alone.
``rand(seed)`` gives none of that — its output depends on partition
layout, so a repartition silently changes the sample. A hash of a stable
row id is invariant to layout, join order, and engine.

The hash is a multiplicative-congruential mix over BIGINT arithmetic
(``portable_hash``) chosen to be *engine-portable*: every intermediate
stays far below 2^63, so Spark, DuckDB, and any ANSI engine compute the
identical value — which is what lets the driver's DuckDB oracle verify
the sample membership bit-for-bit (xxhash64/md5-to-int round-trips are
not portable SQL).

Scale notes:
- ``hash_bucket`` / ``hash_split`` are NARROW projections: no shuffle, no
  state; they vectorize inside WholeStageCodegen.
- ``stratified_cap`` is one hash-shuffle on the strata keys; the
  row_number window reuses that single Exchange. Cap state per group is
  O(1) (running count), never a buffer of the group.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Knuth's multiplicative constant (2654435761 = 2^32 * phi) over a large
# prime modulus. All intermediates <= 1000002 * 2654435761 + 40503
# < 2.7e15 << 2^63: no overflow in any BIGINT engine.
_M1 = 1_000_003          # pre-mod keeps the product bounded
_A = 2_654_435_761       # Knuth multiplicative hash constant
_C = 40_503              # odd offset so 0 doesn't fix-point
_P = 1_000_000_007       # large prime modulus

#: Total weight denominator for ``hash_split`` fractions.
SPLIT_BUCKETS = 10_000

#: ``hash_split`` labels and fractions; the remainder of the rounded
#: bucket bounds falls into the LAST label.
SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}

#: Public alias of the hash modulus — the exclusive upper bound of
#: :func:`portable_hash` output. Consumers (e.g. threshold sketches in
#: ``operators.sketches``) derive sampling thresholds from it.
HASH_MODULUS = _P


def portable_hash(col: Column | str) -> Column:
    """Engine-portable deterministic hash of a BIGINT column into
    [0, 1_000_000_007). Same closed form as :func:`portable_hash_sql`."""
    c = F.col(col) if isinstance(col, str) else col
    c = c.cast("long")
    return (F.pmod(c, F.lit(_M1)) * F.lit(_A) + F.lit(_C)) % F.lit(_P)


def portable_hash_sql(expr: str) -> str:
    """The ANSI-SQL twin of :func:`portable_hash` — embed in oracle SQL so
    DuckDB reproduces the exact bucket assignment."""
    return (f"(((({expr}) % {_M1} + {_M1}) % {_M1}) * {_A} + {_C}) % {_P}"
            )


def portable_hash_seeded(col: Column | str, seed: int) -> Column:
    """Seeded variant of :func:`portable_hash`, built as TWO
    multiplicative rounds:

        h1 = (id mod M1) * (A + 2*seed) + C + seed   (mod P)
        h2 = (h1 mod M1) * A + C                     (mod P)

    Round 1 puts the seed in the MULTIPLIER so two seeds differ by a
    per-row-varying amount (an additive seed would shift every hash by
    the same constant — "independent" draws as mere rotations). Round 2
    re-multiplies, turning round 1's small per-row deltas (2*ds*id,
    tiny for small ids) into order-of-P jumps — without it, two nearby
    seeds produce almost the same hash ORDERING over small id ranges,
    so rank-based samples (uniform_sample) barely change between
    "independent" draws. Both rounds stay within BIGINT in any engine.
    """
    c = F.col(col) if isinstance(col, str) else col
    c = c.cast("long")
    a = _A + 2 * seed  # stays odd -> full-period multiplier
    h1 = (F.pmod(c, F.lit(_M1)) * F.lit(a) + F.lit(_C + seed)) % F.lit(_P)
    return (F.pmod(h1, F.lit(_M1)) * F.lit(_A) + F.lit(_C)) % F.lit(_P)


def portable_hash_seeded_sql(expr: str, seed: int) -> str:
    """ANSI-SQL twin of :func:`portable_hash_seeded`."""
    a, c = _A + 2 * seed, _C + seed
    h1 = f"(((({expr}) % {_M1} + {_M1}) % {_M1}) * {a} + {c}) % {_P}"
    return f"((({h1}) % {_M1}) * {_A} + {_C}) % {_P}"


def hash_bucket(col: Column | str, n_buckets: int) -> Column:
    """Stable bucket id in [0, n_buckets) from a BIGINT id column."""
    return portable_hash(col) % F.lit(n_buckets)


def hash_bucket_sql(expr: str, n_buckets: int) -> str:
    return f"({portable_hash_sql(expr)}) % {n_buckets}"


def hash_split(
    df: DataFrame,
    id_col: str,
    split_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test split by hashed id, in the
    :data:`SPLITS` fractions. Assignment is per-row from the id hash
    alone: disjoint, exhaustive, stable under repartition/rerun, and a
    row's split never changes when the dataset grows (the property that
    keeps eval sets uncontaminated across dataset versions).
    """
    bucket = hash_bucket(id_col, SPLIT_BUCKETS)
    labels = list(SPLITS.items())
    expr: Column | None = None
    cum = 0
    for name, frac in labels[:-1]:
        cum += int(round(frac * SPLIT_BUCKETS))
        cond = bucket < F.lit(cum)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(
            cond, F.lit(name))
    last = F.lit(labels[-1][0])
    out = last if expr is None else expr.otherwise(last)
    return df.withColumn(split_col, out)


def hash_split_case_sql(id_expr: str) -> str:
    """Oracle-side CASE expression matching :func:`hash_split`."""
    b = hash_bucket_sql(id_expr, SPLIT_BUCKETS)
    labels = list(SPLITS.items())
    parts, cum = [], 0
    for name, frac in labels[:-1]:
        cum += int(round(frac * SPLIT_BUCKETS))
        parts.append(f"WHEN ({b}) < {cum} THEN '{name}'")
    return ("CASE " + " ".join(parts)
            + f" ELSE '{labels[-1][0]}' END")


def kfold_assign(df: DataFrame, id_col: str, n_folds: int,
                 seed: int = 0, fold_col: str = "fold") -> DataFrame:
    """Deterministic k-fold cross-validation assignment.

    Fold = seeded portable hash of the id, mod ``n_folds``: disjoint,
    exhaustive, stable under repartition/rerun/dataset growth (a row's
    fold never changes when other rows arrive), and re-drawable with a
    different ``seed`` for repeated CV.  Pure projection — no shuffle.
    """
    return df.withColumn(
        fold_col,
        (portable_hash_seeded(id_col, seed) % F.lit(n_folds))
        .cast("int"))


def kfold_assign_sql(id_expr: str, n_folds: int, seed: int = 0) -> str:
    """Oracle-side expression matching :func:`kfold_assign`."""
    return (f"CAST(({portable_hash_seeded_sql(id_expr, seed)})"
            f" % {n_folds} AS INT)")


def leakage_safe_split(
    df: DataFrame,
    canonical: DataFrame,
    id_col: str = "doc_id",
    canonical_col: str = "canonical_id",
    split_col: str = "split",
) -> DataFrame:
    """Contamination-safe train/val/test split: hash the NEAR-DUP
    CLUSTER's canonical id instead of the row id, so no two
    near-duplicate documents ever straddle a split boundary — the
    train/eval leakage that row-hash splitting (:func:`hash_split`)
    cannot prevent (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better", measures exactly this
    contamination).

    ``canonical`` is an (id, canonical_id) map — the output of
    ``graph.canonical_map`` over near-dup pairs.  Ids missing from the
    map split by their own id (singleton semantics), so a PARTIAL map
    (e.g. only duplicate groups) is safe.

    Scale: one id-equi shuffle join of the corpus against the
    canonical map (same grain — at 100 TB neither side broadcasts, a
    plain hash join on the id is the right plan), then the split is a
    pure projection on the joined key.
    """
    keyed = (df.join(
        canonical.select(F.col(id_col), F.col(canonical_col)),
        id_col, "left")
        .withColumn(canonical_col,
                    F.coalesce(F.col(canonical_col), F.col(id_col))))
    return hash_split(keyed, canonical_col, split_col)


def stratified_cap(
    df: DataFrame,
    strata: list[str],
    n_per_stratum: int,
    id_col: str,
    keep_rank: bool = False,
    rank_col: str = "rk",
) -> DataFrame:
    """At most ``n_per_stratum`` rows per strata group, chosen
    deterministically: rows are ranked by (portable_hash(id), id) inside
    each stratum and the first N kept. The hash makes the selection
    pseudo-random w.r.t. any natural ordering; the id tiebreak makes it
    total, so the kept set is unique and oracle-checkable.

    One shuffle (on the strata keys); the per-group running row_number
    never buffers the group. For heavily skewed strata this is the
    sampling analog of a skew join: the cap bounds OUTPUT per group, and
    input-side concentration is AQE's problem, not a correctness one.
    """
    from pyspark.sql import Window

    w = (Window.partitionBy(*strata)
         .orderBy(portable_hash(id_col).asc(), F.col(id_col).asc()))
    out = (df.withColumn(rank_col, F.row_number().over(w))
           .filter(F.col(rank_col) <= n_per_stratum))
    return out if keep_rank else out.drop(rank_col)


def mixture_sample(
    df: DataFrame,
    weights: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
    default_weight: float = 0.0,
    seed: int = 0,
) -> DataFrame:
    """Deterministic domain-mixture downsampling: keep each row with the
    probability assigned to its source (the Pile/Dolma recipe step that
    turns raw domain counts into a target training mixture).

    The keep decision is ``portable_hash(id + seed) bucket < weight``,
    NOT rand(): assignment is exact under rerun/repartition, the kept
    set is reproducible (oracle-checkable), and a document keeps or
    loses its slot independently of scan order. Different ``seed``
    values draw independent mixtures (e.g. epoch re-rolls) without
    correlating with hash_split's train/val/test assignment.

    Stateless narrow projection + filter: no shuffle, pipelined into
    the scan at any scale. Sources absent from ``weights`` fall back to
    ``default_weight`` (0.0 = drop)."""
    bucket = portable_hash_seeded(id_col, seed) % F.lit(SPLIT_BUCKETS)
    expr: Column | None = None
    for src, w in weights.items():
        cond = F.col(source_col) == F.lit(src)
        thr = F.lit(int(round(w * SPLIT_BUCKETS)))
        expr = F.when(cond, thr) if expr is None else expr.when(cond, thr)
    thr_default = F.lit(int(round(default_weight * SPLIT_BUCKETS)))
    thr_expr = thr_default if expr is None else expr.otherwise(thr_default)
    return df.filter(bucket < thr_expr)


def mixture_sample_where_sql(
    weights: dict[str, float],
    source_expr: str = "source",
    id_expr: str = "doc_id",
    default_weight: float = 0.0,
    seed: int = 0,
) -> str:
    """Oracle-side WHERE predicate matching :func:`mixture_sample`."""
    b = f"({portable_hash_seeded_sql(id_expr, seed)}) % {SPLIT_BUCKETS}"
    whens = " ".join(
        f"WHEN ({source_expr}) = '{src}' THEN {int(round(w * SPLIT_BUCKETS))}"
        for src, w in weights.items())
    default = int(round(default_weight * SPLIT_BUCKETS))
    return f"({b}) < (CASE {whens} ELSE {default} END)"


def uniform_sample(
    df: DataFrame,
    n: int,
    id_col: str,
    seed: int = 0,
) -> DataFrame:
    """Deterministic global sample of exactly ``n`` rows (or all rows if
    the input is smaller): rows ranked by (seeded portable hash, id) and
    the first n kept.

    The hash order makes the sample pseudo-random w.r.t. any natural
    ordering yet layout/rerun-stable; the id tiebreak makes the kept
    set unique, so it is oracle-checkable. Plans as
    TakeOrderedAndProject: per-partition top-n then a single merge of
    n-row heaps on the driver side of the exchange — never a global
    sort of the corpus.
    """
    return (df.orderBy(portable_hash_seeded(id_col, seed).asc(),
                       F.col(id_col).asc())
            .limit(n))


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    id_col: str,
    seed: int = 0,
) -> DataFrame:
    """Per-row weighted downsampling: keep each row with probability
    equal to its ``weight_col`` value in [0, 1] — the quality-weighted
    keep step (e.g. keep probability from a quality score) that
    generalizes :func:`mixture_sample` from per-source rates to per-row
    rates.

    Same hash discipline: the keep decision compares the row's seeded
    hash bucket against ``weight * SPLIT_BUCKETS``, so the kept set is
    deterministic, layout-invariant, and oracle-checkable; weights
    outside [0, 1] clamp. Stateless narrow filter — no shuffle."""
    bucket = portable_hash_seeded(id_col, seed) % F.lit(SPLIT_BUCKETS)
    thr = F.round(
        F.least(F.greatest(F.col(weight_col).cast("double"), F.lit(0.0)),
                F.lit(1.0)) * SPLIT_BUCKETS, 0)
    return df.filter(bucket < thr)


def weighted_sample_where_sql(
    weight_expr: str,
    id_expr: str,
    seed: int = 0,
) -> str:
    """Oracle-side WHERE predicate matching :func:`weighted_sample`."""
    b = f"({portable_hash_seeded_sql(id_expr, seed)}) % {SPLIT_BUCKETS}"
    thr = (f"round(least(greatest(CAST({weight_expr} AS DOUBLE), 0.0),"
           f" 1.0) * {SPLIT_BUCKETS}, 0)")
    return f"({b}) < ({thr})"


def weighted_fixed_sample(
    df: DataFrame,
    n: int,
    weight_col: str,
    id_col: str,
    seed: int = 0,
) -> DataFrame:
    """Fixed-SIZE weighted sample without replacement — Efraimidis &
    Spirakis A-Res (IPL 2006): each row draws u in (0, 1] and ranks by
    key = ln(u) / w; the top n keys are a weighted sample where row i's
    inclusion odds are proportional to w_i. Complements
    :func:`weighted_sample` (Bernoulli per-row keeps -> variable size):
    mixture building usually needs EXACTLY n rows per bucket.

    u comes from the seeded portable hash ((h + 1) / P, never 0), so
    the draw is deterministic, layout-invariant, and replayable in any
    ANSI engine. Rows with w <= 0 are excluded (their key would be
    undefined — ln(u)/w flips sign); ties broken by id.

    Scale: narrow key projection + ORDER BY key LIMIT n — plans as
    TakeOrderedAndProject (per-partition heap of n), no global sort.
    Output adds ``ares_key`` (rounded 6) so samples are auditable.
    """
    u = ((portable_hash_seeded(id_col, seed) + 1).cast("double")
         / float(_P))
    key = F.log(u) / F.col(weight_col).cast("double")
    return (
        df.filter(F.col(weight_col).cast("double") > 0)
        .withColumn("_ares", key)
        .orderBy(F.col("_ares").desc(), F.col(id_col))
        .limit(n)
        .select(*df.columns, F.round("_ares", 6).alias("ares_key"))
    )


def weighted_fixed_sample_sql(
    table: str,
    n: int,
    weight_expr: str,
    id_expr: str,
    seed: int = 0,
    select_cols: str = "*",
) -> str:
    """Oracle-side twin of :func:`weighted_fixed_sample` (same key, same
    ordering, same tie-break)."""
    u = f"((({portable_hash_seeded_sql(id_expr, seed)}) + 1) / {_P}.0)"
    key = f"ln({u}) / CAST({weight_expr} AS DOUBLE)"
    return f"""
        SELECT {select_cols}, round({key}, 6) AS ares_key
        FROM {table}
        WHERE CAST({weight_expr} AS DOUBLE) > 0
        ORDER BY {key} DESC, {id_expr}
        LIMIT {n}
    """


def token_budget_sample(
    df: DataFrame,
    budget_tokens: int,
    id_col: str = "doc_id",
    keys: list[str] | None = None,
    token_col: str | None = None,
    text_col: str = "text",
    seed: int = 0,
) -> DataFrame:
    """Deterministic per-key sample that fills a TOKEN budget — how
    training mixtures are actually specified ("20B tokens of web, 5B of
    code"), where :func:`mixture_sample`'s row fractions are only a
    proxy: documents vary 1000x in length, so a doc-count quota does
    not pin the token count.

    Semantics (prefix-truncation, the "shuffle then take until the
    budget is full" pipeline convention): per ``keys`` group, order
    documents by the seeded portable hash of ``id_col`` (a
    deterministic, layout-invariant shuffle; ties on id), then keep the
    maximal PREFIX whose cumulative token count is <= budget_tokens.
    NOT bin-packing: a document that overflows the budget ends the
    prefix even if a later, smaller one would still fit — packing would
    bias the tail of the sample toward short documents and requires a
    sequential fold besides.

    Token counts come from ``token_col`` if given (a precomputed/BPE
    count), else the whitespace ``token_count`` of ``text_col`` (the
    portable convention shared with the text-analysis queries).

    Output: input columns + ``n_tokens`` + ``cum_tokens`` (the audit
    trail: cum_tokens <= budget_tokens on every row by construction).
    Rows whose token count is NULL (NULL text / NULL token_col) or
    NEGATIVE (a corrupt user-supplied token_col) are EXCLUDED up
    front: a NULL cost can neither consume nor respect a budget
    (leaving it in would make the running sum's NULL semantics decide
    membership by position), and a negative cost would let a document
    AFTER the overflow point re-enter the sample — cum <= budget is
    only a prefix when costs are non-negative. Count or impute tokens
    upstream if those rows must participate; zero-cost rows are fine
    and pass through without consuming budget.

    Scale: ONE hash shuffle on ``keys``; the running sum is a streaming
    window frame (O(1) state/row). Rows past the budget still sort —
    at extreme per-key volume pre-filter with a generous
    :func:`stratified_cap` / row-count bound first; the hash order
    makes any such cap a superset of the final prefix as long as it
    keeps >= the budget's worth of documents.
    """
    if budget_tokens < 0:
        raise ValueError(
            f"budget_tokens must be >= 0, got {budget_tokens}")
    from pyspark.sql import Window

    from dump1090_db_stream_spark.operators.text import token_count

    keys = keys or []
    n_tok = (F.col(token_col).cast("long") if token_col
             else token_count(text_col).cast("long"))
    order = portable_hash_seeded(id_col, seed)
    w = (Window.partitionBy(*keys).orderBy(order, F.col(id_col))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    out = (
        df.withColumn("n_tokens", n_tok)
        .filter(F.col("n_tokens") >= 0)  # also drops NULLs
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
    )
    return out.filter(F.col("cum_tokens") <= budget_tokens)


def token_budget_sample_sql(
    table: str,
    budget_tokens: int,
    id_expr: str = "doc_id",
    keys: list[str] | None = None,
    text_expr: str = "text",
    seed: int = 0,
    select_cols: str = "*",
) -> str:
    """Oracle-side twin of :func:`token_budget_sample` without
    ``token_col`` (same hash order, same tie-break, same prefix rule;
    tokens are the whitespace split of ``text_expr``)."""
    keys = keys or []
    tok = f"length(regexp_split_to_array(trim({text_expr}), '\\s+'))"
    part = f"PARTITION BY {', '.join(keys)} " if keys else ""
    h = portable_hash_seeded_sql(id_expr, seed)
    # DuckDB's sum(BIGINT) widens to HUGEINT; cast back so the schema
    # matches Spark's LongType running sum
    return f"""
        SELECT {select_cols}, n_tokens, cum_tokens FROM (
            SELECT *, CAST({tok} AS BIGINT) AS n_tokens,
                   CAST(sum(CAST({tok} AS BIGINT)) OVER (
                       {part}ORDER BY ({h}), {id_expr}
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS cum_tokens
            FROM {table}
            WHERE ({tok}) >= 0
        ) WHERE cum_tokens <= {budget_tokens}
    """


def temperature_sample(
    df: DataFrame,
    alpha: float,
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Temperature-scaled mixture sampling: keep rows so the SAMPLED
    source distribution follows p_s ∝ n_s^alpha — the multilingual/
    multi-domain recipe (alpha < 1 upweights rare sources; XLM-R and
    the Pile both specify mixtures this way) WITHOUT hand-writing
    per-source weights: rates derive from the observed counts.

    Per-source keep rate = (n_s / n_min)^(alpha - 1), so the RAREST
    source keeps everything (the max-feasible mixture at this alpha)
    and a source k times larger keeps k^(alpha-1) of its rows. The
    rate is ROUNDED to 6 decimals before thresholding so both engines
    compare identical values; the keep decision is the seeded portable
    hash bucket (exact under rerun/repartition, independent of
    hash_split — the mixture_sample discipline).

    Scale shape: one vocabulary-sized count aggregate, a one-row min
    attach, the rate relation broadcast back — the full relation never
    shuffles and the filter pipelines into the scan. Output: surviving
    rows plus the ``keep_rate`` audit column.

    NULL sources are excluded BEFORE the count aggregate (advisor r5
    finding: counting them let a small NULL group become n_min and
    deflate every real source's keep rate, while the inner equi-join
    then dropped those rows anyway — they distorted rates without ever
    appearing in the output). The count and the join now see the same
    population; NULL-source rows are never sampled.
    """
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(f"alpha must be in [0, 1], got {alpha}")
    df = df.filter(F.col(source_col).isNotNull())
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("_n"))
    n_min = counts.agg(F.min("_n").alias("_n_min"))
    rates = (counts.crossJoin(F.broadcast(n_min))
             .select(source_col,
                     F.round(F.pow(F.col("_n").cast("double")
                                   / F.col("_n_min"),
                                   F.lit(alpha - 1.0)), 6)
                      .alias("keep_rate")))
    bucket = portable_hash_seeded(id_col, seed) % F.lit(SPLIT_BUCKETS)
    thr = F.round(F.col("keep_rate") * SPLIT_BUCKETS).cast("long")
    return (df.join(F.broadcast(rates), source_col)
            .filter(bucket < thr))


def unimax_expand(
    df: DataFrame,
    alloc: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
    seed: int = 11,
) -> DataFrame:
    """Materialize a :func:`unimax_allocation` as an actual epochized
    training mixture — the step from "budget report" to "dataset":
    every document of a source allocated ``epochs`` appears
    ``floor(epochs)`` times in full, plus one more time with
    probability ``frac(epochs)`` (doc-level Bernoulli — in expectation
    each source contributes exactly its allocated token mass, and no
    document is ever PARTIALLY repeated, the UniMax contract of whole
    examples under an epoch cap).

    The extra-copy draw is the deterministic seeded portable hash, and
    the accept compare runs on 1e-9-quantized integers (the
    pareto_quality_filter discipline) so both engines keep identical
    document sets. Sources absent from ``alloc`` (or with NULL epochs
    — empty sources) contribute nothing.

    Scale shape: the allocation is a source-vocabulary-sized broadcast;
    the corpus takes ONE narrow projection (hash + copy count) and an
    explode whose per-row width is ``ceil(epochs)`` <= the epoch cap —
    no shuffle anywhere, the manifest pipelines straight into a write.
    Output: (id_col, source_col, epoch_idx 1-based, epochs) — one row
    per (document, copy).
    """
    a = alloc.select(source_col, "epochs").filter(
        F.col("epochs").isNotNull())
    u = portable_hash_seeded(id_col, seed).cast("double") / F.lit(
        float(_P))
    full = F.floor(F.col("epochs")).cast("long")
    frac = F.col("epochs") - F.floor(F.col("epochs"))

    def _q(x):
        return F.floor(x * 1e9 + F.lit(0.5)).cast("decimal(38,0)")

    n_copies = (full + (_q(u) < _q(frac)).cast("long")).alias("_nc")
    return (df.join(F.broadcast(a), source_col)
            .select(id_col, source_col, "epochs", n_copies)
            .filter(F.col("_nc") >= 1)
            .select(id_col, source_col, "epochs",
                    F.explode(F.sequence(F.lit(1).cast("long"),
                                         F.col("_nc")))
                    .alias("epoch_idx"))
            .select(id_col, source_col, "epoch_idx", "epochs"))


def pareto_quality_filter(
    df: DataFrame,
    score_col: str,
    alpha: float = 9.0,
    id_col: str = "doc_id",
    seed: int = 1,
) -> DataFrame:
    """The GPT-3 quality-filtering acceptance rule (Brown et al. 2020,
    Appendix A): keep a document iff

        pareto_draw(alpha) > 1 - score

    A high-scoring document is (almost) always kept; low scorers are
    kept with a heavy-tailed probability instead of hard-thresholded —
    the rule that preserves tail diversity a cutoff would destroy
    (GPT-3 used alpha = 9). Composes with
    ``operators.classify.classifier_scores`` (score = prob).

    The draw is DETERMINISTIC: u = portable_hash_seeded(id, seed) / P
    in [0, 1), pareto = (1-u)^(-1/alpha) - 1
    — the inverse-CDF transform of a Pareto(alpha) sample, exact under
    rerun/repartition and replayable by the SQL oracle. The acceptance
    COMPARISON happens on 1e-9-quantized integers (floor(x*1e9+0.5) as
    exact decimals): pow/ln differ across engines by ~1 ulp, and a
    raw double compare could flip a knife-edge row — quantization
    absorbs it (the corpus-divergence discipline applied to a
    predicate).

    Scale shape: one narrow projection — no shuffle, no join, no
    aggregate; the filter pipelines into the scan. Output: every input
    row plus ``pareto`` (rounded 6) and ``kept`` — callers filter on
    ``kept`` (keeping rejects makes the rule auditable and the
    contract row count stable).
    """
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    u = portable_hash_seeded(id_col, seed).cast("double") / F.lit(float(_P))
    pareto = F.pow(F.lit(1.0) - u, F.lit(-1.0 / alpha)) - F.lit(1.0)

    def _q(x):
        return F.floor(x * 1e9 + F.lit(0.5)).cast("decimal(38,0)")

    return (df.withColumn("pareto", pareto)
            .withColumn("kept",
                        _q(F.col("pareto"))
                        > _q(F.lit(1.0) - F.col(score_col)))
            .withColumn("pareto", F.round("pareto", 6)))


def negative_pairs(
    df: DataFrame,
    k: int,
    id_col: str = "doc_id",
    n_buckets: int | None = None,
    seed: int = 0,
) -> DataFrame:
    """Deterministic pseudo-random negative pairing — the contrastive-
    training staple (k "random" non-matching partners per anchor for
    triplet/InfoNCE-style objectives) WITHOUT rand() and WITHOUT a
    cross join: every decision is a closed-form function of the ids,
    so the pairing is exact under rerun/repartition and
    oracle-checkable.

    Shape: every row lands ONCE in a candidate bucket
    (portable_hash(id) % B); each anchor draws its slot-i bucket with
    an independent seeded hash; anchors meet candidates in a bucket
    EQUI-join (never all-pairs — join volume ~ rows x k x (rows/B)),
    and per (anchor, slot) the winning negative is the argmin of a
    slot-seeded hash over the bucket (self excluded, id tiebreak) —
    one map-side-combinable min-struct aggregation. ``n_buckets``
    defaults to ~rows/16 (one count job); at scale pass it explicitly
    (it only changes WHICH pseudo-random partner wins, not the
    contract). A slot whose bucket holds no other row emits no pair
    (probability (1/B)^... negligible for B << rows; document-level
    consumers treat negatives as best-effort draws).

    Output: (anchor ids' column name, slot 1..k, neg_id).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if n_buckets is None:
        n_buckets = max(int(df.count()) // 16, 1)
    cand = df.select(
        (portable_hash(id_col) % F.lit(n_buckets)).alias("_bk"),
        F.col(id_col).alias("_cand"),
    )
    anchors = df.select(
        F.col(id_col).alias("_anchor"),
        F.explode(F.array(*[F.lit(i + 1) for i in range(k)]))
         .alias("slot"),
    ).select(
        "_anchor", "slot",
        (F.pmod(portable_hash_seeded("_anchor", seed)
                + F.col("slot") * F.lit(2654435761),
                F.lit(n_buckets))).alias("_bk"),
    )
    scored = (
        anchors.join(cand, "_bk")
        .filter(F.col("_cand") != F.col("_anchor"))
        .select(
            "_anchor", "slot",
            F.struct(
                F.pmod(portable_hash_seeded("_cand", seed)
                       + F.col("slot") * F.lit(40503), F.lit(_P))
                 .alias("h"),
                F.col("_cand").alias("c"),
            ).alias("_sc"),
        )
    )
    return (
        scored.groupBy("_anchor", "slot")
        .agg(F.min("_sc").alias("_w"))
        .select(F.col("_anchor").alias(id_col), "slot",
                F.col("_w.c").alias("neg_id"))
    )


def negative_pairs_sql(
    table: str,
    k: int,
    n_buckets: int,
    id_expr: str = "doc_id",
    seed: int = 0,
) -> str:
    """Oracle-side closed-form replay of :func:`negative_pairs`."""
    slots = ", ".join(str(i + 1) for i in range(k))
    ph_cand = portable_hash_sql(id_expr)
    phs_anchor = portable_hash_seeded_sql(id_expr, seed)
    phs_cand = portable_hash_seeded_sql("cand", seed)
    return f"""
        WITH cand AS (
            SELECT ({ph_cand}) % {n_buckets} AS bk,
                   {id_expr} AS cand
            FROM {table}
        ), anch AS (
            SELECT {id_expr} AS anchor, s.slot,
                   (({phs_anchor}) + s.slot * 2654435761)
                       % {n_buckets} AS bk
            FROM {table}, (SELECT unnest([{slots}]) AS slot) s
        ), scored AS (
            SELECT a.anchor, a.slot, c.cand,
                   (({phs_cand}) + a.slot * 40503) % {_P} AS h
            FROM anch a JOIN cand c USING (bk)
            WHERE c.cand <> a.anchor
        ), ranked AS (
            SELECT anchor, slot, cand,
                   row_number() OVER (PARTITION BY anchor, slot
                                      ORDER BY h, cand) AS rn
            FROM scored
        )
        SELECT anchor AS {id_expr}, slot, cand AS neg_id
        FROM ranked WHERE rn = 1
    """


def dsir_logweights(
    df: DataFrame,
    target: Column,
    n_buckets: int = 4096,
    alpha: float = 1.0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR — Data Selection with Importance Resampling (Xie et al.
    2023): score every document by how much more likely its hashed
    n-gram features are under a TARGET subcorpus (``target`` is a
    boolean Column, e.g. ``F.col("lang") == "en"`` or a quality flag)
    than under the full corpus. The published recipe for "select
    pretraining data that looks like the domain you care about"
    without training a classifier.

        log_weight(d) = sum over features f of
            c_d(f) * [ ln((ct_f + a)/(T + aB)) - ln((cs_f + a)/(S + aB)) ]

    Features are word unigrams AND bigrams hashed into ``n_buckets``
    with the engine-portable 60-bit md5 hash (the MinHash replay
    discipline), so a SQL oracle reproduces bucket ids exactly.

    Scale shape: one (doc, bucket, cnt) relation shuffled once; the
    target/source count dimensions collapse to <= n_buckets rows each
    and broadcast back; T/S are one-row attaches riding the same
    broadcast. Laplace smoothing ``alpha`` keeps unseen buckets
    finite. Output: (id, n_feats, log_weight rounded 6) for every
    document — resample/top-k downstream (rank on the ROUNDED weight
    with id tiebreak for cross-engine determinism).
    """
    from dump1090_db_stream_spark.operators.dedup import _portable_hash60
    from dump1090_db_stream_spark.operators.text import with_tokens

    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    base = with_tokens(df, text_col, "_ds_toks").select(
        F.col(id_col).alias("id"), target.alias("_tgt"),
        F.col("_ds_toks").alias("t"))
    n1 = F.greatest(F.lit(0), F.size("t") - 1)
    bigrams = F.zip_with(F.slice("t", 1, n1), F.slice("t", 2, n1),
                         lambda a, b: F.concat(a, F.lit(" "), b))
    feats = (base.select(
        "id", "_tgt",
        F.explode(F.concat(F.col("t"), bigrams)).alias("f"))
        .select("id", "_tgt",
                F.pmod(_portable_hash60(F.col("f")), F.lit(n_buckets))
                .alias("b"))
        .groupBy("id", "_tgt", "b")
        .agg(F.count(F.lit(1)).alias("cnt")))
    from dump1090_db_stream_spark.cache import track

    feats = track(feats)
    buckets = (feats.groupBy("b").agg(
        F.sum(F.when(F.col("_tgt"), F.col("cnt")).otherwise(F.lit(0)))
         .alias("ct"),
        F.sum("cnt").alias("cs")))
    totals = buckets.agg(F.sum("ct").alias("tt"), F.sum("cs").alias("ss"))
    ratio = (F.log((F.col("ct") + alpha)
                   / (F.col("tt") + alpha * n_buckets))
             - F.log((F.col("cs") + alpha)
                     / (F.col("ss") + alpha * n_buckets)))
    dims = (buckets.crossJoin(F.broadcast(totals))
            .select("b", ratio.alias("lr")))
    return (feats.join(F.broadcast(dims), "b")
            .groupBy("id")
            .agg(F.sum("cnt").cast("long").alias("n_feats"),
                 F.round(F.sum(F.col("cnt") * F.col("lr")), 6)
                  .alias("log_weight"))
            .select(F.col("id").alias(id_col), "n_feats", "log_weight"))


def quantile_normalize(
    df: DataFrame,
    value_col: str,
    group_col: str,
    id_col: str = "doc_id",
    n_quantiles: int = 100,
    n_range_buckets: int = 64,
    tie_salt: int = 8,
) -> DataFrame:
    """Cross-group quantile normalization — the batch-effect fix for
    score columns whose DISTRIBUTION differs by source (one quality
    classifier run per crawl snapshot, perplexity from different LMs):
    a value is replaced by the GLOBAL value at its within-group rank,
    so every group's normalized distribution matches the pooled one
    and a single threshold means the same thing in every group.

    Discrete, closed-form recipe (the portable-quantile discipline —
    an actual data value is returned, so comparisons are exact):

        q(row)   = floor(percent_rank_within_group * n_quantiles),
                   capped at n_quantiles - 1
        norm(row)= the global value of the nearest OCCUPIED global
                   percent_rank bucket <= q — specifically the LAST
                   value of that bucket (max), so the mapping is a
                   deterministic, TOTAL step function. (When total
                   rows <= n_quantiles the global bucket grid is
                   sparse; snapping down to the nearest occupied
                   bucket — bucket 0 is always occupied — guarantees
                   every non-null input row gets a norm_value.)

    Scale shape: NO input-grain global sort ANYWHERE, at any value
    cardinality or tie multiplicity. Ranks decompose twice:

    - rank = (rows with smaller value) + row_number-within-tie. BOTH
      cumulative counts — global AND per-group — use the
      :func:`operators.prefix_sum.distributed_prev_counts_multi`
      quantile-bucketed prefix-sum (the per-group one grouped via
      ``partition_cols``, r9), so a continuous value column
      (|distinct| ~ n) never funnels one partition — not even when
      one group dominates the corpus. Group totals ride the
      prefix-sum's bounds broadcast (``with_totals``) — no separate
      aggregate job or join.
    - within-tie row_number = row_number within (tie key, salt) +
      the running count of earlier salt buckets — ``tie_salt``-way
      two-level numbering, so a DEGENERATE input (all rows one value,
      every row in one tie group) splits its row_number across
      ``tie_salt`` tasks instead of one. The salt is the portable
      60-bit md5 of the id (the MinHash replay discipline), so ties
      break by (value, salt, id) — still a deterministic TOTAL order
      any ANSI engine replays exactly.

    One input-grain aggregate — groupBy(grp, v, salt) — feeds every
    count relation (per-group, global, and both salt-offset maps) by
    further tiny rollups. The bucket mapping is n_quantiles rows,
    forward-filled with a running max (norm_value is monotone in
    bucket) and broadcast back. Output: id, group, the original
    value, and ``norm_value``. Rows with NULL or NaN value are
    excluded (NaN has no quantile; it would also break the
    prefix-sum's monotone bucketing — see ``auc_score``).
    ``group_col`` may have any cardinality (see
    :func:`operators.prefix_sum.distributed_prev_counts_multi`).
    """
    from pyspark.sql import Window

    from dump1090_db_stream_spark.cache import track
    from dump1090_db_stream_spark.operators.dedup import _portable_hash60
    from dump1090_db_stream_spark.operators.prefix_sum import (
        distributed_prev_counts_multi,
    )

    if n_quantiles < 1:
        raise ValueError(f"n_quantiles must be >= 1, got {n_quantiles}")
    if tie_salt < 1:
        raise ValueError(f"tie_salt must be >= 1, got {tie_salt}")
    base = df.select(
        F.col(id_col).alias("id"), F.col(group_col).alias("grp"),
        F.col(value_col).cast("double").alias("v"),
        F.pmod(_portable_hash60(F.col(id_col).cast("string")),
               F.lit(tie_salt)).alias("_sl"),
    ).filter(F.col("v").isNotNull() & ~F.isnan("v"))

    # ONE input-grain aggregate; every count relation below is a
    # rollup of it (persisted: it feeds four consumers)
    gsl = track(base.groupBy("grp", "v", "_sl")
                .agg(F.count(F.lit(1)).alias("_c")))

    # distinct-value relations: exclusive running counts + totals.
    # BOTH cumulative counts — global and per-group — go through the
    # bucketed prefix-sum (the per-group one via ``partition_cols``,
    # r9: a dominant group's distinct continuous values previously
    # funneled one task through Window.partitionBy(grp).orderBy(v) —
    # the same shape auc_score_by fixed, flagged by the
    # tests/plan_audit.py grouped_continuous_window_funnels gate). Per-group
    # totals ride the prefix-sum's bounds broadcast (with_totals),
    # not a window or a separate aggregate job + join.
    vg = gsl.groupBy("grp", "v").agg(F.sum("_c").alias("_cg"))
    pg = (distributed_prev_counts_multi(vg, "v", ("_cg",),
                                        n_range_buckets,
                                        partition_cols=("grp",),
                                        with_totals=True)
          .select("grp", "v", F.col("_prev_cg").alias("_prev_g"),
                  F.col("_total_cg").alias("_n_g")))
    va = gsl.groupBy("v").agg(F.sum("_c").alias("_ca"))
    pa = (distributed_prev_counts_multi(va, "v", ("_ca",),
                                        n_range_buckets, with_totals=True)
          .select("v", F.col("_prev_ca").alias("_prev_a"),
                  F.col("_total_ca").alias("_n_a")))

    # salt-bucket offsets: rows of the SAME tie key in EARLIER salt
    # buckets (bounded windows — at most tie_salt rows per tie key)
    w_sg = (Window.partitionBy("grp", "v").orderBy("_sl")
            .rowsBetween(Window.unboundedPreceding, -1))
    goff = gsl.select(
        "grp", "v", "_sl",
        F.coalesce(F.sum("_c").over(w_sg), F.lit(0)).alias("_goff"))
    asl = gsl.groupBy("v", "_sl").agg(F.sum("_c").alias("_c"))
    w_sa = (Window.partitionBy("v").orderBy("_sl")
            .rowsBetween(Window.unboundedPreceding, -1))
    aoff = asl.select(
        "v", "_sl",
        F.coalesce(F.sum("_c").over(w_sa), F.lit(0)).alias("_aoff"))

    # per-row ranks: (tie key, salt)-partitioned row_numbers + offsets.
    # The salt offset, exclusive prefix count and total for each side
    # pre-join at DISTINCT grain (gmap / amap — tiny relations), so the
    # input-grain ``base`` shuffles only twice: once per tie-window,
    # with the immediately-following join keyed identically so the
    # window's hash partitioning is reused (r9 trim: the r8 plan
    # joined the input-grain relation four times).
    gmap = goff.join(pg, ["grp", "v"])
    amap = aoff.join(pa, ["v"])
    w_tie_g = Window.partitionBy("grp", "v", "_sl").orderBy("id")
    w_tie_a = Window.partitionBy("v", "_sl").orderBy("id")
    rows = (base
            .withColumn("_tgl", F.row_number().over(w_tie_g))
            .join(gmap, ["grp", "v", "_sl"])
            .withColumn("_tal", F.row_number().over(w_tie_a))
            .join(amap, ["v", "_sl"])
            .withColumn("_tg", F.col("_goff") + F.col("_tgl"))
            .withColumn("_ta", F.col("_aoff") + F.col("_tal")))

    def _bucket(rank: F.Column, n: F.Column) -> F.Column:
        # identical IEEE sequence to percent_rank() * n_quantiles:
        # (rank-1)/(n-1) double division, then the integer multiply
        pr = (rank - 1).cast("double") / (n - 1)
        return F.when(
            n > 1,
            F.least(F.floor(pr * n_quantiles),
                    F.lit(n_quantiles - 1)).cast("int")
        ).otherwise(F.lit(0))

    ranked = rows.select(
        "id", "grp", "v",
        _bucket(F.col("_prev_g") + F.col("_tg"), F.col("_n_g"))
        .alias("q"),
        _bucket(F.col("_prev_a") + F.col("_ta"), F.col("_n_a"))
        .alias("gq"))
    occupied = ranked.groupBy("gq").agg(F.max("v").alias("_nv"))
    w_fill = (Window.orderBy("gq")
              .rowsBetween(Window.unboundedPreceding, 0))
    dense = (df.sparkSession.range(n_quantiles)
             .select(F.col("id").cast("int").alias("gq"))
             .join(occupied, "gq", "left")
             .select("gq",
                     F.max("_nv").over(w_fill).alias("norm_value")))
    return (ranked.join(F.broadcast(dense),
                        ranked["q"] == dense["gq"])
            .select(F.col("id").alias(id_col),
                    F.col("grp").alias(group_col),
                    F.col("v").alias(value_col),
                    "norm_value"))


def unimax_allocation(
    df: DataFrame,
    budget_tokens: int,
    max_epochs: str = "4.0",
    source_col: str = "source",
    token_col: str = "n_tokens",
) -> DataFrame:
    """UniMax budget allocation (Chung et al., ICLR 2023): split a
    total training-token budget across sources as UNIFORMLY as
    possible subject to a per-source epoch cap — the closed-form
    alternative to hand-tuned temperature mixtures (UniMax's headline
    result: uniform-with-caps beats every temperature at equal scale).
    Each source's capacity is ``n_tokens * max_epochs``; the optimum
    is water-filling: a common level theta with
    sum(min(capacity_s, theta)) = budget, every source allocated
    min(capacity_s, theta). Small sources are CAPPED at full capacity
    (never over-repeated past the epoch limit); large sources all
    receive the same theta tokens.

    The greedy in the paper (ascending capacity, fair share of the
    remaining budget per step) equals water-filling, which makes it
    window-expressible: sort sources ascending by capacity, take the
    exclusive prefix sum P_i, and source i is capped iff
    capacity_i <= (budget - P_i) / (n - i + 1) — the raw-prefix test
    is exact because an uncapped source's successors are all uncapped
    (capacities ascend while the candidate level cannot rise past the
    first uncapped row). Theta then comes from full-frame window sums
    over the capped set. If total capacity <= budget every source is
    capped (the budget is undersubscribed; the surplus is unallocated
    by design — allocating it would break the epoch cap).

    DETERMINISM: capacities and prefix sums are exact DECIMALs
    (``max_epochs`` is a decimal STRING so the literal never takes a
    float detour), divisions and comparisons happen in IEEE doubles
    from those exact values, and nothing is rounded — both engines
    produce bit-identical doubles, the quantile-normalize discipline.

    Scale shape: ONE map-side-combined aggregate collapses the corpus
    to the source vocabulary; every window after it runs over that
    bounded relation (the prefix_sum bucket-totals discipline — the
    single ordered exchange carries |sources| rows, never the input).
    NULL sources are excluded (no source to budget). Output: (source,
    n_tokens, capacity, alloc_tokens, epochs), epochs NULL for an
    empty source via try_divide.
    """
    if budget_tokens < 0:
        raise ValueError(
            f"budget_tokens must be >= 0, got {budget_tokens}")
    from decimal import Decimal
    from pyspark.sql import Window

    Decimal(max_epochs)  # validates the string early, engine-neutrally
    # a source whose token column is entirely NULL sums to a NULL
    # capacity — it carries no countable mass, so it is EXCLUDED
    # rather than silently handed the water level (a NULL `_k` would
    # make `_capped` NULL -> otherwise(theta), and NULL sort order
    # differs between engines besides)
    per = (df.filter(F.col(source_col).isNotNull())
           .groupBy(source_col)
           .agg(F.sum(F.col(token_col).cast("long")).alias("n_tokens"))
           .filter(F.col("n_tokens").isNotNull()))
    me = F.lit(max_epochs).cast("decimal(10,6)")
    b = F.lit(int(budget_tokens)).cast("decimal(28,6)")
    cap = per.withColumn(
        "_k", F.col("n_tokens").cast("decimal(28,6)") * me)
    w_ord = Window.orderBy("_k", source_col)
    w_prev = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    w_full = w_ord.rowsBetween(Window.unboundedPreceding,
                               Window.unboundedFollowing)
    staged = (cap
              .withColumn("_i", F.row_number().over(w_ord))
              .withColumn("_n", F.count(F.lit(1)).over(w_full))
              .withColumn("_p", F.coalesce(
                  F.sum("_k").over(w_prev),
                  F.lit(0).cast("decimal(28,6)")))
              .withColumn("_level",
                          (b - F.col("_p")).cast("double")
                          / (F.col("_n") - F.col("_i") + 1))
              .withColumn("_capped",
                          F.col("_k").cast("double") <= F.col("_level")))
    solved = (staged
              .withColumn("_capsum", F.sum(
                  F.when(F.col("_capped"), F.col("_k"))
                  .otherwise(F.lit(0).cast("decimal(28,6)"))).over(w_full))
              .withColumn("_ncap", F.sum(
                  F.col("_capped").cast("long")).over(w_full))
              .withColumn("_theta", F.when(
                  F.col("_ncap") < F.col("_n"),
                  (b - F.col("_capsum")).cast("double")
                  / (F.col("_n") - F.col("_ncap")))))
    return solved.select(
        source_col, "n_tokens",
        F.col("_k").cast("double").alias("capacity"),
        F.when(F.col("_capped"), F.col("_k").cast("double"))
         .otherwise(F.col("_theta")).alias("alloc_tokens"),
        F.try_divide(
            F.when(F.col("_capped"), F.col("_k").cast("double"))
             .otherwise(F.col("_theta")),
            F.col("n_tokens").cast("double")).alias("epochs"))

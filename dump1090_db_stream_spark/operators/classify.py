"""Model-based quality classification for training-data pipelines.

The step above rule-based filters (C4/Gopher heuristics,
``operators.cleaning``) on the quality ladder: score every document
with a LEARNED classifier — the CCNet / GPT-3-style "does this look
like the reference corpus" filter, whose standard strong baseline is
logistic-regression-shaped scoring over hashed bag-of-n-gram features
with closed-form Naive-Bayes log-count-ratio weights (Wang & Manning,
ACL 2012 — the NBSVM trick: NB log-odds ARE the linear weights).

Everything is native Column expressions — tokenize (the whitespace
split of ``operators.text.with_tokens``), n-gram, hash-bucket, aggregate,
join, sigmoid — zero Python in the data path, and every arithmetic
step is engine-replayable (portable md5 hash, exact-integer count
ratios into ``ln``, 1e-9-quantized decimal score sums), so the whole
train-then-score pipeline is DuckDB-oracled end-to-end
(``quality_classifier_scores``).

Why closed-form NB instead of iterative LR: training is TWO map-side-
combined aggregates (per-bucket class counts -> log ratios), no
optimizer state, no RNG, bit-reproducible on any engine — and at
100 TB the training pass is exactly one corpus scan. Swapping in
externally-trained LR/fastText weights is the same ``classifier_scores``
call with a different ``weights`` relation (the inference path does
not care how the weights were fit).

No reference-repo counterpart (the reference is an ADS-B ingest
pipeline, dump1090-postgres.py end-to-end); this is part of the
LLM-data-pipeline extension surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dump1090_db_stream_spark.operators.dedup import _portable_hash60
from dump1090_db_stream_spark.operators.relevance import (
    _adjacent_pairs,
    _quantized,
)
from dump1090_db_stream_spark.operators.text import with_tokens


def _validate(n_buckets: int, ngrams: tuple[int, ...]) -> None:
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    if not ngrams or not set(ngrams) <= {1, 2}:
        raise ValueError(
            f"ngrams must be a non-empty subset of (1, 2), got {ngrams}")


def _units(tok_col: str, ngrams: tuple[int, ...]) -> Column:
    """The document's feature-unit array — unigrams and/or
    space-joined bigrams — built NARROW from the materialized token
    array (one concat + one transform; no union, no second scan, no
    shuffle)."""
    toks = F.col(tok_col)
    parts = []
    if 1 in ngrams:
        parts.append(toks)
    if 2 in ngrams:
        parts.append(F.transform(
            _adjacent_pairs(toks),
            lambda s: F.concat_ws(" ", s.w1, s.w2)))
    return parts[0] if len(parts) == 1 else F.concat(*parts)


def _bucket(unit: Column, n_buckets: int) -> Column:
    """Hashing-trick bucket: the portable 60-bit md5 hash (the
    MinHash/SimHash contract-variant base hash — DuckDB:
    ``('0x' || substr(md5(u),1,15))::BIGINT``) mod n_buckets.
    Collisions are the POINT of the hashing trick (bounded model
    size); both engines collide identically."""
    return F.pmod(_portable_hash60(unit), F.lit(n_buckets))


def hashed_unit_buckets(
    df: DataFrame,
    carry_cols: list[str],
    text_col: str = "text",
    n_buckets: int = 4096,
    ngrams: tuple[int, ...] = (1, 2),
) -> DataFrame:
    """The per-occurrence ``(*carry_cols, bucket)`` relation both the
    trainer and the scorer consume — exposed (r15, guide §2.4) so ONE
    tokenize -> n-gram -> explode -> hash pass can feed BOTH through
    their ``unit_buckets`` parameter instead of each re-running the
    expensive half of the pipeline on the same corpus. Callers that
    feed two consumers should persist it (``cache.track``). The
    featurization parameters are part of the relation's identity: pass
    the SAME ``n_buckets``/``ngrams`` to every consumer
    (the existing weights<->scores contract)."""
    _validate(n_buckets, ngrams)
    toked = with_tokens(df.select(*carry_cols, text_col), text_col,
                        "_cf_toks")
    return (toked
            .select(*carry_cols,
                    F.explode(_units("_cf_toks", ngrams)).alias("u"))
            .select(*carry_cols,
                    _bucket(F.col("u"), n_buckets).alias("bucket")))


def nb_logodds_weights(
    df: DataFrame,
    label_col: str,
    text_col: str = "text",
    n_buckets: int = 4096,
    ngrams: tuple[int, ...] = (1, 2),
    alpha: float = 1.0,
    unit_buckets: DataFrame | None = None,
) -> DataFrame:
    """Closed-form Naive-Bayes log-count-ratio weights per feature
    bucket (Wang & Manning 2012):

        w(b) = ln( ((p_b + alpha) / (P + alpha * B))
                 / ((q_b + alpha) / (Q + alpha * B)) )

    with p_b/q_b the positive/negative occurrence counts of bucket b,
    P/Q the class totals and B = ``n_buckets`` (add-alpha smoothing
    over the full bucket space, so absent-class buckets are finite).
    NULL labels are excluded (no class to attribute the mass to).

    Scale shape: tokenize once (the ``with_tokens`` boundary), ONE
    map-side-combined aggregate collapses the corpus to <= B bucket
    rows carrying both class counts, and the class totals ride a
    second aggregate OF that bounded relation (never a second corpus
    scan) broadcast back. Everything upstream of ``ln`` is exact
    integers, so both engines produce bit-identical doubles.

    Output: (bucket, n_pos, n_neg, weight) — at most B rows, the
    broadcastable model relation ``classifier_scores`` consumes.

    ``unit_buckets`` (r15): a precomputed
    :func:`hashed_unit_buckets` relation carrying ``label_col`` and
    ``bucket`` — the trainer then skips its own tokenize pass, so one
    corpus featurization can feed training AND scoring. The NULL-label
    exclusion applies either way (filtered before tokenize when built
    here, after when supplied), and the counts are identical either
    way (test-pinned).
    """
    _validate(n_buckets, ngrams)
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    y = F.col(label_col).cast("boolean")
    if unit_buckets is not None:
        buckets = (unit_buckets
                   .select(y.alias("_y"), "bucket")
                   .filter(F.col("_y").isNotNull()))
    else:
        toked = with_tokens(
            df.filter(y.isNotNull()).select(y.alias("_y"), text_col),
            text_col, "_cf_toks")
        buckets = (toked
                   .select("_y",
                           F.explode(_units("_cf_toks", ngrams))
                           .alias("u"))
                   .select("_y", _bucket(F.col("u"), n_buckets)
                           .alias("bucket")))
    per_bucket = (buckets
                  .groupBy("bucket")
                  .agg(F.sum(F.col("_y").cast("long")).alias("n_pos"),
                       F.sum((~F.col("_y")).cast("long")).alias("n_neg")))
    totals = per_bucket.agg(F.sum("n_pos").alias("_P"),
                            F.sum("n_neg").alias("_Q"))
    a = F.lit(float(alpha))
    ab = F.lit(float(alpha) * n_buckets)
    return (per_bucket.crossJoin(F.broadcast(totals))
            .select("bucket", "n_pos", "n_neg",
                    F.log(((F.col("n_pos") + a) / (F.col("_P") + ab))
                          / ((F.col("n_neg") + a) / (F.col("_Q") + ab)))
                    .alias("weight")))


def classifier_scores(
    df: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
    ngrams: tuple[int, ...] = (1, 2),
    bias: float = 0.0,
    default_weight: float = 0.0,
    unit_buckets: DataFrame | None = None,
) -> DataFrame:
    """Score every document with a linear model over hashed n-gram
    features: mean per-occurrence bucket weight through a sigmoid —
    fastText-style length-invariant averaging, so a 10x longer
    document is not 10x more confident.

        score = sum over unit occurrences of w(bucket(unit))
        prob  = sigmoid(bias + score / n_units)

    ``weights`` is any (bucket, weight) relation — the
    :func:`nb_logodds_weights` output or an externally-trained model.
    ``n_buckets``/``ngrams`` MUST match the ones the
    weights were built with (same featurization or the buckets mean
    nothing); buckets absent from ``weights`` contribute
    ``default_weight`` (0 = ignore unseen features).

    Scale shape: one corpus scan (tokenize -> explode units -> narrow
    bucket projection), the <= ``n_buckets``-row model joined back
    BROADCAST, then ONE map-side-combined aggregate on the doc id.
    DETERMINISM: per-occurrence weight contributions are
    1e-9-quantized and summed as exact decimals (the
    ``relevance._quantized`` pagerank-fold discipline), so the score
    is partition-order independent and the oracle replays it; the
    sigmoid is computed from that quantized sum.

    Output: (id_col, n_units, score rounded 6, prob rounded 6) — one
    row per document that produced at least one unit (empty-token-
    array documents are absent; callers union them back if needed).

    ``unit_buckets`` (r15): a precomputed
    :func:`hashed_unit_buckets` relation carrying ``id_col`` and
    ``bucket`` — the scorer then skips its own tokenize pass (the
    train-and-score pipelines share one corpus featurization).
    """
    _validate(n_buckets, ngrams)
    if unit_buckets is not None:
        occurrences = unit_buckets.select(
            F.col(id_col).alias("_id"), "bucket")
    else:
        toked = with_tokens(df.select(id_col, text_col), text_col,
                            "_cf_toks")
        occurrences = (toked
                       .select(F.col(id_col).alias("_id"),
                               F.explode(_units("_cf_toks", ngrams))
                               .alias("u"))
                       .select("_id", _bucket(F.col("u"), n_buckets)
                               .alias("bucket")))
    w = F.coalesce(F.col("weight"), F.lit(float(default_weight)))
    scored = (occurrences
              .join(F.broadcast(weights.select("bucket", "weight")),
                    "bucket", "left")
              .groupBy("_id")
              .agg(F.count(F.lit(1)).alias("n_units"),
                   F.sum(_quantized(w)).alias("_qsum")))
    score = F.col("_qsum").cast("double") / F.lit(1e9)
    z = F.lit(float(bias)) + score / F.col("n_units")
    return scored.select(
        F.col("_id").alias(id_col), "n_units",
        F.round(score, 6).alias("score"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6).alias("prob"))

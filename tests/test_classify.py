"""operators.classify — hashed-n-gram NB-weighted linear scoring
(Wang & Manning 2012 NBSVM baseline). The weight math is replicated
INDEPENDENTLY in Python (hashlib md5 -> bucket -> smoothed log-count
ratios) so a Spark-side arithmetic drift cannot self-confirm."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

B = 64  # small bucket space: collisions allowed, both sides replay them


def _bucket(unit: str, n_buckets: int = B) -> int:
    return int(hashlib.md5(unit.encode()).hexdigest()[:15], 16) % n_buckets


def _units(text: str, ngrams=(1, 2)) -> list[str]:
    toks = text.strip().split()
    out = []
    if 1 in ngrams:
        out += toks
    if 2 in ngrams:
        out += [f"{a} {b}" for a, b in zip(toks, toks[1:])]
    return out


POS = ["good clean prose here", "clean good text flows well",
       "prose reads well good"]
NEG = ["spam spam buy now", "buy spam click now now"]


def _corpus(spark):
    rows = [(i, t, True) for i, t in enumerate(POS)] + \
           [(100 + i, t, False) for i, t in enumerate(NEG)]
    return spark.createDataFrame(rows, ["doc_id", "text", "y"])


def test_nb_weights_match_independent_replication(spark):
    from dump1090_db_stream_spark.operators.classify import (
        nb_logodds_weights,
    )

    df = _corpus(spark)
    got = {r["bucket"]: (r["n_pos"], r["n_neg"], r["weight"])
           for r in nb_logodds_weights(df, "y", n_buckets=B).collect()}
    # independent replication
    from collections import Counter
    pos, neg = Counter(), Counter()
    for t in POS:
        pos.update(_bucket(u) for u in _units(t))
    for t in NEG:
        neg.update(_bucket(u) for u in _units(t))
    P, Q = sum(pos.values()), sum(neg.values())
    want = {}
    for b in set(pos) | set(neg):
        want[b] = (pos[b], neg[b],
                   math.log(((pos[b] + 1.0) / (P + B))
                            / ((neg[b] + 1.0) / (Q + B))))
    assert set(got) == set(want)
    for b in want:
        assert got[b][:2] == want[b][:2]
        assert got[b][2] == pytest.approx(want[b][2], abs=1e-12)


def test_shared_unit_buckets_match_inline_featurization(spark):
    """r15 (r14 verdict ask #7): one hashed_unit_buckets pass feeding
    BOTH trainer and scorer must produce bit-identical weights and
    scores to each operator featurizing inline — including the
    NULL-label exclusion (filtered after the shared pass instead of
    before tokenize)."""
    from dump1090_db_stream_spark.cache import release_tracked, track
    from dump1090_db_stream_spark.operators.classify import (
        classifier_scores,
        hashed_unit_buckets,
        nb_logodds_weights,
    )

    rows = [(i, t, True) for i, t in enumerate(POS)] + \
           [(100 + i, t, False) for i, t in enumerate(NEG)] + \
           [(200, "unlabeled text here", None)]
    df = spark.createDataFrame(rows, "doc_id long, text string, y boolean")
    w_inline = nb_logodds_weights(df, "y", n_buckets=B)
    s_inline = sorted(map(tuple, classifier_scores(
        df, w_inline, n_buckets=B).collect()))
    want_w = sorted(map(tuple, w_inline.collect()))

    occ = track(hashed_unit_buckets(df, ["doc_id", "y"], n_buckets=B))
    w_shared = nb_logodds_weights(df, "y", n_buckets=B,
                                  unit_buckets=occ)
    got_w = sorted(map(tuple, w_shared.collect()))
    got_s = sorted(map(tuple, classifier_scores(
        df, w_shared, n_buckets=B, unit_buckets=occ).collect()))
    release_tracked()
    assert got_w == want_w
    assert got_s == s_inline


def test_scores_separate_the_classes(spark):
    from dump1090_db_stream_spark.operators.classify import (
        classifier_scores,
        nb_logodds_weights,
    )

    df = _corpus(spark)
    w = nb_logodds_weights(df, "y", n_buckets=B)
    got = {r["doc_id"]: r for r in
           classifier_scores(df, w, n_buckets=B).collect()}
    assert len(got) == 5
    pos_probs = [got[i]["prob"] for i in (0, 1, 2)]
    neg_probs = [got[i]["prob"] for i in (100, 101)]
    assert min(pos_probs) > max(neg_probs)
    for r in got.values():
        assert 0.0 < r["prob"] < 1.0
    # n_units = tokens + bigrams of each doc
    assert got[0]["n_units"] == len(_units(POS[0]))


def test_prob_is_length_invariant_under_unigrams(spark):
    """Mean normalization: repeating a document's text must not move
    its probability (fastText-style averaging) — checked with
    unigram-only features so repetition adds no new units."""
    from dump1090_db_stream_spark.operators.classify import (
        classifier_scores,
        nb_logodds_weights,
    )

    train = _corpus(spark)
    w = nb_logodds_weights(train, "y", n_buckets=B, ngrams=(1,))
    df = spark.createDataFrame(
        [(1, "good clean"), (2, "good clean " * 7)], ["doc_id", "text"])
    got = {r["doc_id"]: r for r in
           classifier_scores(df, w, n_buckets=B, ngrams=(1,)).collect()}
    assert got[1]["n_units"] == 2 and got[2]["n_units"] == 14
    assert got[1]["prob"] == got[2]["prob"]
    assert got[2]["score"] == pytest.approx(7 * got[1]["score"],
                                            abs=1e-5)


def test_unseen_buckets_take_the_default_weight(spark):
    from dump1090_db_stream_spark.operators.classify import (
        classifier_scores,
    )

    w = spark.createDataFrame(
        [(_bucket("good"), 2.0)], ["bucket", "weight"])
    df = spark.createDataFrame(
        [(1, "good zzzunseen")], ["doc_id", "text"])
    # default 0: only 'good' contributes; 3 units (2 tokens + 1 bigram)
    r0 = classifier_scores(df, w, n_buckets=B, ngrams=(1, 2)).first()
    assert r0["n_units"] == 3 and r0["score"] == pytest.approx(2.0)
    rd = classifier_scores(df, w, n_buckets=B, ngrams=(1, 2),
                           default_weight=-1.0).first()
    assert rd["score"] == pytest.approx(0.0)  # 2.0 + 2 * -1.0


def test_validation(spark):
    from dump1090_db_stream_spark.operators.classify import (
        classifier_scores,
        nb_logodds_weights,
    )

    df = _corpus(spark)
    with pytest.raises(ValueError, match="n_buckets"):
        nb_logodds_weights(df, "y", n_buckets=1)
    with pytest.raises(ValueError, match="ngrams"):
        nb_logodds_weights(df, "y", ngrams=(3,))
    with pytest.raises(ValueError, match="alpha"):
        nb_logodds_weights(df, "y", alpha=0.0)
    with pytest.raises(ValueError, match="ngrams"):
        classifier_scores(df, df.select(
            F.lit(0).alias("bucket"), F.lit(0.0).alias("weight")),
            ngrams=())


def test_null_labels_are_excluded(spark):
    from dump1090_db_stream_spark.operators.classify import (
        nb_logodds_weights,
    )

    base = _corpus(spark)
    dirty = base.union(base.sparkSession.createDataFrame(
        [(999, "mystery words here", None)], base.schema))
    want = sorted(map(tuple, nb_logodds_weights(
        base, "y", n_buckets=B).collect()))
    got = sorted(map(tuple, nb_logodds_weights(
        dirty, "y", n_buckets=B).collect()))
    assert got == want


def test_scores_stay_jvm_side(spark):
    """No Python in the train+score plan (the module's design rule)."""
    from dump1090_db_stream_spark.operators.classify import (
        classifier_scores,
        nb_logodds_weights,
    )

    df = _corpus(spark)
    out = classifier_scores(df, nb_logodds_weights(df, "y",
                                                   n_buckets=B),
                            n_buckets=B)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_pareto_filter_acceptance_semantics(spark):
    """operators.sampling.pareto_quality_filter (GPT-3 Appendix A):
    score 1.0 always survives (threshold 0 < any positive draw),
    a HIGHER score keeps a SUPERSET of documents under the same
    draws, and the draw is deterministic across repartitioning."""
    from dump1090_db_stream_spark.operators.sampling import (
        pareto_quality_filter,
    )

    rows = [(i, 0.05) for i in range(400)]
    low = spark.createDataFrame(rows, ["doc_id", "s"])
    high = spark.createDataFrame([(i, 0.6) for i in range(400)],
                                 ["doc_id", "s"])
    sure = spark.createDataFrame([(i, 1.0) for i in range(400)],
                                 ["doc_id", "s"])
    kept_low = {r["doc_id"] for r in
                pareto_quality_filter(low, "s").collect() if r["kept"]}
    kept_high = {r["doc_id"] for r in
                 pareto_quality_filter(high, "s").collect()
                 if r["kept"]}
    kept_sure = {r["doc_id"] for r in
                 pareto_quality_filter(sure, "s").collect()
                 if r["kept"]}
    assert len(kept_sure) == 400            # score 1.0: all kept
    assert kept_low <= kept_high            # monotone in score
    assert 0 < len(kept_low) < len(kept_high) < 400  # rule bites
    # deterministic under repartition
    again = {r["doc_id"] for r in
             pareto_quality_filter(low.repartition(7), "s").collect()
             if r["kept"]}
    assert again == kept_low


def test_pareto_filter_draw_matches_inverse_cdf(spark):
    """The draw replays the documented closed form: u = seeded
    portable hash / P, pareto = (1-u)^(-1/alpha) - 1."""
    from dump1090_db_stream_spark.operators.sampling import (
        HASH_MODULUS,
        pareto_quality_filter,
        portable_hash_seeded,
    )

    df = spark.createDataFrame([(i, 0.5) for i in range(20)],
                               ["doc_id", "s"])
    hashes = {r["doc_id"]: r["h"] for r in df.select(
        "doc_id", portable_hash_seeded("doc_id", 1).alias("h")
    ).collect()}
    got = {r["doc_id"]: r["pareto"] for r in
           pareto_quality_filter(df, "s", alpha=9.0,
                                 seed=1).collect()}
    for i, h in hashes.items():
        u = h / float(HASH_MODULUS)
        want = round((1.0 - u) ** (-1.0 / 9.0) - 1.0, 6)
        assert got[i] == pytest.approx(want, abs=1e-6), i


def test_pareto_filter_validation(spark):
    from dump1090_db_stream_spark.operators.sampling import (
        pareto_quality_filter,
    )

    df = spark.createDataFrame([(1, 0.5)], ["doc_id", "s"])
    with pytest.raises(ValueError, match="alpha"):
        pareto_quality_filter(df, "s", alpha=0.0)

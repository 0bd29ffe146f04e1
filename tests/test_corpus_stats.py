"""vocabulary_coverage (Good-Turing / Chao1) and corpus_divergence
(smoothed KL to the pooled corpus) — hand computations and a pure-
Python reference replay."""

from __future__ import annotations

import math

import pytest


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["source", "text"])


def test_coverage_hand_computed_tokens(spark):
    from dump1090_db_stream_spark.operators.relevance import (
        vocabulary_coverage,
    )

    df = _docs(spark, [("a", "x x y"), ("b", "p q r"), (None, "z z")])
    got = {r["source"]: r for r in
           vocabulary_coverage(df, unit="token").collect()}
    assert set(got) == {"a", "b"}            # NULL group excluded
    a = got["a"]                              # x:2, y:1
    assert (a["n_tokens"], a["n_types"], a["n_singletons"],
            a["n_doubletons"]) == (3, 2, 1, 1)
    assert a["unseen_mass"] == round(1 / 3, 6)
    assert a["chao1_richness"] == 2.0         # 2 + 1*0/(2*2)
    b = got["b"]                              # all singletons
    assert (b["n_tokens"], b["n_types"], b["n_singletons"],
            b["n_doubletons"]) == (3, 3, 3, 0)
    assert b["unseen_mass"] == 1.0
    assert b["chao1_richness"] == 6.0         # 3 + 3*2/(2*1)


def test_coverage_bigram_unit(spark):
    from dump1090_db_stream_spark.operators.relevance import (
        vocabulary_coverage,
    )

    df = _docs(spark, [("a", "x y z"), ("a", "solo")])
    r = vocabulary_coverage(df, unit="bigram").collect()[0]
    # bigrams: "x y", "y z"; the 1-token doc contributes nothing
    assert (r["n_tokens"], r["n_types"], r["n_singletons"]) == (2, 2, 2)
    assert r["chao1_richness"] == 3.0          # 2 + 2*1/(2*1)


def test_divergence_zero_for_single_group(spark):
    """One group IS the corpus: p(t) == q(t) for every term, the
    unobserved tail is empty — KL exactly 0 (the quantization maps
    exact zeros to exact zeros)."""
    from dump1090_db_stream_spark.operators.relevance import (
        corpus_divergence,
    )

    df = _docs(spark, [("a", "x x y z"), ("a", "y x w")])
    r = corpus_divergence(df, unit="token").collect()[0]
    assert r["kl_to_corpus"] == 0.0


def test_divergence_matches_python_reference(spark):
    """Two skewed groups vs an independent pure-Python computation of
    the same smoothed KL (full-vocabulary sum, no closed-form tail)."""
    from collections import Counter

    from dump1090_db_stream_spark.operators.relevance import (
        corpus_divergence,
    )

    rows = [("a", "x x x y"), ("a", "x z"), ("b", "w w q y"),
            ("b", "q q w")]
    alpha = 0.5
    groups = {}
    for g, t in rows:
        groups.setdefault(g, Counter()).update(t.split())
    corpus = Counter()
    for c in groups.values():
        corpus.update(c)
    vocab = set(corpus)
    n_all = sum(corpus.values())
    want = {}
    for g, cnt in groups.items():
        ng = sum(cnt.values())
        kl = 0.0
        for t in vocab:
            p = (cnt.get(t, 0) + alpha) / (ng + alpha * len(vocab))
            q = (corpus[t] + alpha) / (n_all + alpha * len(vocab))
            kl += p * math.log(p / q)
        want[g] = kl
    df = _docs(spark, rows)
    got = {r["source"]: r for r in
           corpus_divergence(df, unit="token", alpha=alpha).collect()}
    for g in ("a", "b"):
        assert got[g]["kl_to_corpus"] == pytest.approx(
            want[g], abs=2e-6)                 # round(6) + 1e-9 quant
        assert got[g]["kl_to_corpus"] > 0.1    # genuinely divergent
    assert got["a"]["n_tokens"] == 6 and got["b"]["n_tokens"] == 7


def test_divergence_validation(spark):
    from dump1090_db_stream_spark.operators.relevance import (
        corpus_divergence,
        vocabulary_coverage,
    )

    df = _docs(spark, [("a", "x y")])
    with pytest.raises(ValueError, match="alpha"):
        corpus_divergence(df, alpha=0.0)
    with pytest.raises(ValueError, match="unit"):
        vocabulary_coverage(df, unit="trigram")


# --- vocab_concentration (Gini of the term-frequency distribution) -------


def _gini_ref(counts):
    cs = sorted(counts)
    n = len(cs)
    t = sum(cs)
    s = sum((i + 1) * c for i, c in enumerate(cs))
    return 2.0 * s / (n * t) - (n + 1.0) / n


def test_vocab_gini_matches_reference(spark):
    from collections import Counter

    from dump1090_db_stream_spark.operators.relevance import (
        vocab_concentration,
    )

    docs = [
        (1, "a", "x x x x x x y z"),          # head-heavy
        (2, "a", "x x y"),
        (3, "b", "p q r s t u v w"),          # uniform
        (4, "b", "aa bb cc dd"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "source", "text"])
    got = {r["source"]: r
           for r in vocab_concentration(df, "source").collect()}
    for g in ("a", "b"):
        toks = " ".join(t for _, s, t in docs if s == g).split()
        counts = list(Counter(toks).values())
        assert got[g]["n_types"] == len(counts)
        assert got[g]["n_tokens"] == len(toks)
        assert got[g]["gini"] == round(_gini_ref(counts), 6), g
    assert got["a"]["gini"] > got["b"]["gini"]
    assert got["b"]["gini"] == 0.0            # all counts equal


def test_vocab_gini_single_type_is_zero_and_modes_agree(spark,
                                                        monkeypatch):
    from dump1090_db_stream_spark.operators import prefix_sum
    from dump1090_db_stream_spark.operators.relevance import (
        vocab_concentration,
    )

    df = spark.createDataFrame([(1, "s", "same same same")],
                               ["doc_id", "source", "text"])
    [r] = vocab_concentration(df, "source").collect()
    assert (r["n_types"], r["n_tokens"], r["gini"]) == (1, 3, 0.0)

    big = spark.createDataFrame(
        [(i, f"g{i % 3}", " ".join(f"w{j % (i + 2)}"
                                   for j in range(20)))
         for i in range(1, 31)],
        ["doc_id", "source", "text"])
    base = vocab_concentration(big, "source").orderBy("source").collect()
    assert vocab_concentration(big, "source", n_range_buckets=1) \
        .orderBy("source").collect() == base
    # a one-group budget: bounds and offsets attach by equi-join
    monkeypatch.setattr(prefix_sum, "_OFFSET_ROW_BUDGET", 1)
    assert vocab_concentration(big, "source") \
        .orderBy("source").collect() == base

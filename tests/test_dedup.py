"""Dedup operator tests (operators.dedup)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dump1090_db_stream_spark.operators.dedup import (
    exact_dup_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_neardup_pairs,
)

BASE = ("the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep dark forest tonight")
NEAR = ("the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep dark forest today")  # 1 word changed
FAR = "completely different content about spark query engines and shuffles"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(1, BASE), (2, BASE), (3, NEAR), (4, FAR), (5, FAR)],
        ["doc_id", "text"])


def test_exact_dup_groups(docs):
    out = {r.canonical_id: r.n_dups for r in exact_dup_groups(docs).collect()}
    assert out == {1: 2, 4: 2}


def test_ngram_jaccard_pairs(docs):
    out = ngram_jaccard_pairs(docs, threshold=0.5).collect()
    pairs = {(r.id_a, r.id_b): r.jaccard for r in out}
    assert pairs[(1, 2)] == 1.0          # identical
    assert pairs[(4, 5)] == 1.0
    assert 0.5 <= pairs[(1, 3)] < 1.0    # near-dup above threshold
    assert (1, 4) not in pairs


def test_ngram_shingle_index_rejects_conflicting_shingling(docs):
    """A prebuilt shingle_index fixes n and the tokenizer; passing a
    non-default value alongside it raises instead of being ignored."""
    idx = docs.select(F.col("doc_id").alias("id"),
                      F.xxhash64("text").alias("sh"))
    with pytest.raises(ValueError, match="shingle_index"):
        ngram_jaccard_pairs(docs, n=2, shingle_index=idx)
    with pytest.raises(ValueError, match="shingle_index"):
        ngram_jaccard_pairs(docs, tokenizer="word", shingle_index=idx)
    ngram_jaccard_pairs(docs, n=3, shingle_index=idx)  # default n: fine


def test_ngram_shingle_index_validates_frame_and_index_columns(docs):
    """With a shingle_index the operator never reads df, id_col or
    text_col; a frame or index of the wrong shape raises instead of
    silently pairing another corpus."""
    idx = docs.select(F.col("doc_id").alias("id"),
                      F.xxhash64("text").alias("sh"))
    with pytest.raises(ValueError, match="df lacks"):
        ngram_jaccard_pairs(docs, id_col="nope", shingle_index=idx)
    with pytest.raises(ValueError, match="df lacks"):
        ngram_jaccard_pairs(docs, text_col="nope", shingle_index=idx)
    with pytest.raises(ValueError, match="shingle_index lacks"):
        ngram_jaccard_pairs(docs, shingle_index=idx.withColumnRenamed(
            "sh", "hash"))
    with pytest.raises(ValueError, match="shingle_index lacks"):
        ngram_jaccard_pairs(docs, shingle_index=idx.withColumnRenamed(
            "id", "doc_id"))


def test_ngram_capped_pair_budget_falls_back_to_self_join(docs,
                                                          monkeypatch):
    """r14 ADVICE: a max_df whose C(max_df, 2) exceeds the per-row
    pair-struct budget must route to the df-capped streaming self-join
    — same pairs, same jaccard, no quadratic single-row array."""
    from dump1090_db_stream_spark.operators import dedup
    from dump1090_db_stream_spark.cache import release_tracked

    want = sorted(map(tuple, ngram_jaccard_pairs(
        docs, threshold=0.5, max_df=1000).collect()))
    release_tracked()
    # budget of 1 pair: any max_df >= 3 exceeds it -> fallback branch
    monkeypatch.setattr(dedup, "_CAPPED_PAIR_BUDGET", 1)
    got = sorted(map(tuple, ngram_jaccard_pairs(
        docs, threshold=0.5, max_df=1000).collect()))
    release_tracked()
    assert got == want


def test_minhash_lsh_finds_neardups(docs):
    out = minhash_lsh_pairs(docs, threshold=0.5).collect()
    pairs = {(r.id_a, r.id_b) for r in out}
    # identical docs always collide in every band
    assert (1, 2) in pairs
    assert (4, 5) in pairs
    # verified jaccard is exact, so any reported pair is a true near-dup
    for r in out:
        assert r.jaccard >= 0.5


def test_simhash_neardups(docs):
    out = simhash_neardup_pairs(docs, max_hamming=10).collect()
    pairs = {(r.id_a, r.id_b): r.hamming for r in out}
    assert pairs[(1, 2)] == 0
    assert pairs[(4, 5)] == 0
    if (1, 3) in pairs:  # near-dup should be close in hamming space
        assert pairs[(1, 3)] <= 10
    assert (1, 4) not in pairs or pairs[(1, 4)] > 10


def test_cross_ngram_overlap_decontamination(spark):
    from dump1090_db_stream_spark.operators.dedup import cross_ngram_overlap

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "completely unrelated content about engines and physics"),
         (3, "quick brown fox jumps over everything else entirely")],
        ["doc_id", "text"])
    refs = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], ["ref_id", "text"])
    out = {(r["doc_id"], r["ref_id"]): r for r in cross_ngram_overlap(
        docs, refs, n=2, min_common=2).collect()}
    # ref has 4 bigrams; doc 1 contains all 4, doc 3 contains 3
    assert out[(1, 100)]["n_common"] == 4
    assert out[(1, 100)]["overlap_frac"] == 1.0
    assert out[(3, 100)]["n_common"] == 3
    assert (2, 100) not in out


def test_cross_ngram_overlap_broadcasts_refs(spark):
    from dump1090_db_stream_spark.operators.dedup import cross_ngram_overlap

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma {i}") for i in range(50)],
        ["doc_id", "text"])
    refs = spark.createDataFrame([(1, "alpha beta")], ["ref_id", "text"])
    plan = (cross_ngram_overlap(docs, refs)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan


def test_boilerplate_mining_finds_planted_template(spark):
    """Docs sharing a planted header: its shingles must mine out at
    min_df, per-doc shares must reflect exactly the header fraction,
    and a unique doc must score zero."""
    from dump1090_db_stream_spark.operators.dedup import (
        boilerplate_shingles,
        doc_boilerplate_share,
    )

    header = "subscribe to our newsletter today"
    docs = spark.createDataFrame(
        [(1, f"{header} alpha beta gamma"),
         (2, f"{header} delta epsilon zeta"),
         (3, f"{header} eta theta iota"),
         (4, "completely unique text with no template at all")],
        ["doc_id", "text"])

    mined = {r["shingle"]: r["doc_freq"]
             for r in boilerplate_shingles(docs, n=3, min_df=3).collect()}
    # the 3 shingles fully inside the 5-word header appear in all 3 docs
    assert mined == {
        "subscribe to our": 3, "to our newsletter": 3,
        "our newsletter today": 3}

    share = {r["doc_id"]: r for r in doc_boilerplate_share(
        docs, n=3, min_df=3).collect()}
    # each templated doc: 6 distinct shingles (8 tokens), 3 boilerplate
    for d in (1, 2, 3):
        assert share[d]["n_shingles"] == 6
        assert share[d]["n_boiler"] == 3
        assert share[d]["boiler_share"] == 0.5
    assert share[4]["n_boiler"] == 0 and share[4]["boiler_share"] == 0.0


def test_duplicate_spans_finds_planted_passage(spark):
    import pytest

    from dump1090_db_stream_spark.operators.dedup import duplicate_spans

    # the 6-token passage "p q r s t u" is planted inside three
    # otherwise-distinct docs at DIFFERENT offsets; with n=3/min_df=3
    # its 4 shingles merge to exactly one span per doc at the right
    # 1-based token positions
    passage = "p q r s t u"
    docs = spark.createDataFrame(
        [
            (1, "a1 b1 " + passage + " c1 d1"),      # tokens 3..8
            (2, passage + " e2 f2 g2"),              # tokens 1..6
            (3, "h3 " + passage),                    # tokens 2..7
            (4, "i4 j4 k4 l4 m4"),                   # clean
            (5, "xx"),                               # shorter than n
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r
           for r in duplicate_spans(docs, n=3, min_df=3).collect()}
    assert set(got) == {1, 2, 3}
    assert (got[1]["span_start"], got[1]["span_end"]) == (3, 8)
    assert (got[2]["span_start"], got[2]["span_end"]) == (1, 6)
    assert (got[3]["span_start"], got[3]["span_end"]) == (2, 7)
    assert got[1]["span_tokens"] == 6 and got[1]["n_shingles"] == 4
    with pytest.raises(ValueError, match="min_df"):
        duplicate_spans(docs, n=3, min_df=0)


def test_duplicate_spans_merges_only_adjacent_covers(spark):
    from dump1090_db_stream_spark.operators.dedup import duplicate_spans

    # two SEPARATE duplicated trigrams inside one doc, far enough
    # apart that their covers must stay two spans
    a, b = "p q r", "x y z"
    docs = spark.createDataFrame(
        [
            (1, a + " f1 f2 f3 f4 " + b),
            (2, a + " g1 " + b),
        ],
        ["doc_id", "text"],
    )
    spans = sorted(
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in duplicate_spans(docs, n=3, min_df=2).collect())
    assert spans == [(1, 1, 3), (1, 8, 10), (2, 1, 3), (2, 5, 7)]


def test_strip_duplicate_spans_rewrites_and_passes_through(spark):
    from pyspark.sql import types as T

    from dump1090_db_stream_spark.operators.dedup import (
        duplicate_spans, strip_duplicate_spans,
    )

    passage = "p q r s t u"
    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("text", T.StringType())])
    docs = spark.createDataFrame(
        [
            (1, "a1 b1 " + passage + " c1 d1"),
            (2, passage + " e2 f2 g2"),
            (3, "h3 " + passage),
            (4, "i4 j4 k4 l4 m4"),
            (5, None),
        ],
        schema,
    )
    got = {r["doc_id"]: r
           for r in strip_duplicate_spans(docs, n=3, min_df=3).collect()}
    assert got[1]["text"] == "a1 b1 c1 d1"
    assert (got[1]["n_tokens"], got[1]["n_removed"]) == (10, 6)
    assert got[2]["text"] == "e2 f2 g2"
    assert got[3]["text"] == "h3"
    assert got[4]["text"] == "i4 j4 k4 l4 m4"  # clean doc untouched
    assert got[5]["text"] is None and got[5]["n_tokens"] == 0
    # strip removes exactly the tokens the detector reports
    spans = duplicate_spans(docs, n=3, min_df=3).collect()
    per_doc = {}
    for r in spans:
        per_doc[r["doc_id"]] = per_doc.get(r["doc_id"], 0) + r["span_tokens"]
    for d, n_rm in per_doc.items():
        assert got[d]["n_removed"] == n_rm


def test_containment_catches_short_in_long(spark):
    from dump1090_db_stream_spark.operators.dedup import (
        ngram_containment_pairs, ngram_jaccard_pairs,
    )

    long_text = " ".join(f"w{i}" for i in range(100))
    short_text = " ".join(f"w{i}" for i in range(10, 22))  # embedded run
    docs = spark.createDataFrame(
        [(1, long_text), (2, short_text),
         (3, " ".join(f"z{i}" for i in range(50)))],
        ["doc_id", "text"])
    cont = {(r["id_a"], r["id_b"]): r
            for r in ngram_containment_pairs(
                docs, n=3, threshold=0.9, max_df=None).collect()}
    assert (1, 2) in cont
    assert cont[(1, 2)]["containment"] == 1.0
    assert cont[(1, 2)]["contained_id"] == 2   # the smaller set
    # Jaccard misses the same pair at any near-dup threshold
    jac = ngram_jaccard_pairs(docs, n=3, threshold=0.5,
                              max_df=None).collect()
    assert not any((r["id_a"], r["id_b"]) == (1, 2) for r in jac)

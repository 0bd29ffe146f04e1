"""Dedup operator tests (operators.dedup)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dump1090_db_stream_spark.operators.dedup import (
    exact_dedup,
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


def test_exact_dedup(docs):
    out = exact_dedup(docs).collect()
    assert len(out) == 3  # {BASE, NEAR, FAR}
    kept = {r.doc_id for r in out}
    assert kept == {1, 3, 4}  # lowest id survives


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


def test_incremental_neardup_vs_persisted_index(spark, tmp_path):
    """The daily-batch workflow: index the corpus once, then probe a new
    batch against it — planted near-dups of indexed docs are found with
    their jaccard, brand-new docs produce no pairs, and the corpus is
    re-shingled only for candidate docs (never the whole relation)."""
    from dump1090_db_stream_spark.operators.dedup import (
        neardup_vs_index,
        write_minhash_index,
    )
    from dump1090_db_stream_spark.sources.tables import load_table

    corpus = load_table(
        spark, "/root/testdata/sf0.001", "documents"
    ).select("doc_id", "text")
    path = str(tmp_path / "mh_index")
    write_minhash_index(corpus, path, bands=16, num_hashes=32)

    # new batch: two lightly-edited copies of corpus docs + one unique
    src = {r["doc_id"]: r["text"] for r in corpus.filter(
        F.col("doc_id").isin(3, 7)).collect()}
    new_docs = spark.createDataFrame(
        [(100003, src[3] + " extra tail token"),
         (100007, "prefix " + src[7]),
         (200000, "entirely novel content zz qq ww ee rr tt yy uu ii oo")],
        ["doc_id", "text"])

    pairs = {(r["corpus_id"], r["new_id"]): r["jaccard"]
             for r in neardup_vs_index(
                 spark, path, new_docs, corpus, threshold=0.5).collect()}
    assert (3, 100003) in pairs and pairs[(3, 100003)] > 0.8
    assert (7, 100007) in pairs and pairs[(7, 100007)] > 0.8
    assert not any(n == 200000 for _, n in pairs)

    # appending with DIFFERENT LSH params would silently mix
    # incompatible signatures — must refuse
    import pytest

    with pytest.raises(ValueError, match="refusing to append"):
        write_minhash_index(new_docs, path, bands=8, num_hashes=32,
                            mode="append")
    # same params append is allowed and keeps the sidecar intact
    write_minhash_index(new_docs, path, bands=16, num_hashes=32,
                        mode="append")
    assert spark.read.json(path + "/_lsh_meta").first()["bands"] == 16


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


def test_neardup_stream_sink_exactly_once(spark, tmp_path):
    """The incremental-dedup stream: micro-batches of new docs probe
    the persisted MinHash index via foreachBatch; flagged pairs land
    batchId-keyed so an at-least-once replay cannot double-flag."""
    import time

    from pyspark.sql import functions as F

    from dump1090_db_stream_spark.operators.dedup import (
        neardup_stream_sink,
        write_minhash_index,
    )

    corpus = spark.createDataFrame(
        [(i, f"the quick brown fox jumps over lazy dog number {i} "
             f"with extra tail tokens {i} {i}") for i in range(30)],
        ["doc_id", "text"])
    idx = str(tmp_path / "mh_index")
    write_minhash_index(corpus, idx, n=3, num_hashes=32, bands=16)

    # stream source: micro-batch files; batch 0 = near-copies of docs
    # 3 and 7 (one token changed), batch 1 = novel docs
    src_dir = tmp_path / "incoming"
    src_dir.mkdir()
    spark.createDataFrame(
        [(1003, corpus.filter("doc_id=3").first()["text"]
          .replace("quick", "quickk")),
         (1007, corpus.filter("doc_id=7").first()["text"]
          .replace("lazy", "lazyy"))],
        ["doc_id", "text"]).write.json(str(src_dir / "b0"))
    spark.createDataFrame(
        [(2000, "completely different content nothing shared here at "
                "all in any shingle of this text")],
        ["doc_id", "text"]).write.json(str(src_dir / "b1"))

    out = str(tmp_path / "flags")
    stream = (spark.readStream
              .schema("doc_id long, text string")
              .option("maxFilesPerTrigger", "1")
              .json(str(src_dir) + "/*"))
    q = (stream.writeStream
         .foreachBatch(neardup_stream_sink(idx, corpus, out,
                                           threshold=0.4))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination(120)

    flags = spark.read.parquet(out)
    got = {(r["corpus_id"], r["new_id"]) for r in flags.collect()}
    assert (3, 1003) in got and (7, 1007) in got
    assert not any(n == 2000 for _, n in got)   # novel doc stays clean
    # exactly-once: replaying a batch's write overwrites, not appends
    batch_dirs = {r["batch"] for r in
                  flags.select("batch").distinct().collect()}
    assert len(batch_dirs) >= 1
    sink = neardup_stream_sink(idx, corpus, out, threshold=0.4)
    first = spark.read.json(str(src_dir / "b0"))
    sink(first, 0)  # simulate the at-least-once redelivery
    again = {(r["corpus_id"], r["new_id"])
             for r in spark.read.parquet(out).collect()}
    assert again == got

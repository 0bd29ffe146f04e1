"""Cleaning / corpus-hygiene operators (operators.cleaning) and the
mixture sampler (operators.sampling.mixture_sample)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dump1090_db_stream_spark.operators.cleaning import (
    count_emails,
    count_urls,
    normalize_text,
    repetition_stats,
    scrub_pii,
)
from dump1090_db_stream_spark.operators.sampling import (
    SPLIT_BUCKETS,
    mixture_sample,
    portable_hash,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "spam spam spam spam spam spam", "a"),
        (2, "the quick brown fox jumps over the lazy dog", "a"),
        (3, "one two three one two three one two", "b"),
        (4, "unique words only here today friends", "b"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "source"])


def test_normalize_text(spark):
    df = spark.createDataFrame(
        [(1, "  Hello\t\tWORLD  x \t")], ["id", "t"])
    got = df.select(normalize_text("t").alias("n")).first()["n"]
    assert got == "hello world x"
    # idempotent
    df2 = spark.createDataFrame([(1, got)], ["id", "t"])
    assert df2.select(normalize_text("t").alias("n")).first()["n"] == got


def test_scrub_and_count_pii(spark):
    t = "mail a.b+c@site.co.uk or see https://x.io/p?q=1 and bob@ex.org"
    df = spark.createDataFrame([(1, t)], ["id", "t"])
    row = df.select(
        count_emails("t").alias("e"), count_urls("t").alias("u"),
        scrub_pii("t").alias("s")).first()
    assert row["e"] == 2 and row["u"] == 1
    assert row["s"] == "mail <EMAIL> or see <URL> and <EMAIL>"


def test_repetition_stats_known_doc(docs):
    stats = {r["doc_id"]: r for r in repetition_stats(docs, n=2).collect()}
    # doc 1: five identical 2-grams "spam spam"
    assert stats[1]["n_grams"] == 5
    assert stats[1]["n_distinct"] == 1
    assert stats[1]["top_frac"] == 1.0
    assert stats[1]["dup_frac"] == pytest.approx(0.8)
    # doc 2: 8 distinct 2-grams, no repeats
    assert stats[2]["n_distinct"] == stats[2]["n_grams"] == 8
    assert stats[2]["dup_frac"] == 0.0


def test_mixture_sample_rates_and_determinism(spark):
    n = 4000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("source"))
    out = mixture_sample(df, {"a": 0.5}, default_weight=0.0, seed=3)
    got = [tuple(r) for r in out.collect()]
    # deterministic under rerun and repartition
    got2 = [tuple(r) for r in
            mixture_sample(df.repartition(7), {"a": 0.5},
                           default_weight=0.0, seed=3).collect()]
    assert sorted(got) == sorted(got2)
    # only source a survives; rate within a loose band of 50%
    assert all(s == "a" for _, s in got)
    assert 0.4 < len(got) / (n / 2) < 0.6
    # matches the closed-form predicate row-for-row (two-round seeded
    # multiplicative hash)
    def h(i, s):
        h1 = (i % 1_000_003 * (2_654_435_761 + 2 * s)
              + 40_503 + s) % 1_000_000_007
        return (h1 % 1_000_003 * 2_654_435_761 + 40_503) % 1_000_000_007

    expected = {i for i in range(0, n, 2)
                if h(i, 3) % SPLIT_BUCKETS < 5_000}
    assert {d for d, _ in got} == expected


def test_mixture_sample_seed_independence(spark):
    df = spark.range(2000).select(
        F.col("id").alias("doc_id"), F.lit("a").alias("source"))
    k1 = {r["doc_id"] for r in
          mixture_sample(df, {"a": 0.5}, seed=1).collect()}
    k2 = {r["doc_id"] for r in
          mixture_sample(df, {"a": 0.5}, seed=2).collect()}
    assert k1 != k2               # different draws
    overlap = len(k1 & k2) / max(1, len(k1))
    assert 0.3 < overlap < 0.7    # ~independent, not disjoint/identical


def test_mixture_sample_is_shuffle_free(spark):
    df = spark.range(100).select(
        F.col("id").alias("doc_id"), F.lit("a").alias("source"))
    plan = (mixture_sample(df, {"a": 0.5})
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_dedup_lines_removes_frequent_and_reconstructs(spark):
    from dump1090_db_stream_spark.operators.cleaning import dedup_lines

    # "AD" appears in 3 docs (> max_df=2) -> removed everywhere,
    # including BOTH copies inside doc 1 (df counts distinct docs,
    # removal strips every occurrence); "BODY x" lines are unique.
    docs = spark.createDataFrame(
        [
            (1, "AD\nBODY one\nAD\nBODY two"),
            (2, "BODY three\nAD"),
            (3, "AD\nBODY four"),
            (4, "BODY five"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in dedup_lines(docs, max_df=2).collect()}
    assert got[1]["text"] == "BODY one\nBODY two"
    assert (got[1]["n_lines"], got[1]["n_removed"]) == (4, 2)
    assert got[2]["text"] == "BODY three"
    assert got[3]["text"] == "BODY four"
    assert got[4]["text"] == "BODY five"
    assert got[4]["n_removed"] == 0


def test_dedup_lines_boundary_and_empty_doc(spark):
    from dump1090_db_stream_spark.operators.cleaning import dedup_lines

    # df == max_df is KEPT (strict > threshold); a doc made entirely
    # of frequent lines reconstructs to '' (not NULL)
    docs = spark.createDataFrame(
        [
            (1, "KEEP\nX one"),
            (2, "KEEP\nX two"),
            (3, "GONE\nX three"),
            (4, "GONE\nX four"),
            (5, "GONE\nX five"),
            (6, "GONE"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in dedup_lines(docs, max_df=2).collect()}
    assert got[1]["text"] == "KEEP\nX one"   # df=2 == max_df -> kept
    assert got[3]["text"] == "X three"       # df=4 > max_df -> removed
    assert got[6]["text"] == "" and got[6]["n_removed"] == 1
    assert len(got) == 6  # fully-emptied docs still emit a row


def test_dedup_lines_preserves_order_and_other_columns(spark):
    import pytest

    from dump1090_db_stream_spark.operators.cleaning import dedup_lines

    docs = spark.createDataFrame(
        [(1, "en", "z\nF\na"), (2, "de", "F\nm"), (3, "fr", "F\nq")],
        ["doc_id", "lang", "text"],
    )
    out = dedup_lines(docs, max_df=1)
    got = {r["doc_id"]: r for r in out.collect()}
    # original relative order kept (never sorted lexicographically)
    assert got[1]["text"] == "z\na"
    assert got[1]["lang"] == "en"
    assert set(out.columns) == {"doc_id", "lang", "text",
                                "n_lines", "n_removed"}
    with pytest.raises(ValueError, match="max_df"):
        dedup_lines(docs, max_df=0)


def test_dedup_lines_null_text_passes_through(spark):
    from pyspark.sql import types as T

    from dump1090_db_stream_spark.operators.cleaning import dedup_lines

    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("text", T.StringType())])
    docs = spark.createDataFrame(
        [(1, "X\nY one"), (2, "X\nY two"), (3, None)], schema)
    got = {r["doc_id"]: r for r in dedup_lines(docs, max_df=1).collect()}
    assert len(got) == 3  # the NULL-text doc is NOT dropped
    assert got[3]["text"] is None
    assert (got[3]["n_lines"], got[3]["n_removed"]) == (0, 0)
    assert got[1]["text"] == "Y one"


def test_dedup_lines_regex_metachar_delimiter_is_literal(spark):
    from dump1090_db_stream_spark.operators.cleaning import dedup_lines

    # '|' is a regex metacharacter (empty alternation would split every
    # character); the operator must treat the delimiter literally
    docs = spark.createDataFrame(
        [(1, "AD|BODY one"), (2, "AD|BODY two"), (3, "AD|BODY three")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in
           dedup_lines(docs, max_df=2, delimiter="|").collect()}
    assert got[1]["text"] == "BODY one"
    assert (got[1]["n_lines"], got[1]["n_removed"]) == (2, 1)


def test_c4_line_filter_rules(spark):
    from dump1090_db_stream_spark.operators.cleaning import c4_line_filter

    docs = [
        (0, "\n".join(["This is a good first sentence.",
                       "Another proper sentence sits right here!",
                       "Does this line also survive the cut?",
                       "short.",
                       "no terminal punctuation on this line",
                       "This page uses javascript for tracking."])),
        (1, "\n".join(["Only one line survives in this document.",
                       "tiny.",
                       "also no punct"])),
        (2, "A fine sentence. But it mentions Lorem Ipsum somewhere."),
        (3, "Valid sentence here with words. But then { appears."),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in c4_line_filter(df).collect()}
    # doc 0: 3 qualifying lines survive (short line, no-punct line and
    # the javascript line are removed) -> kept
    assert got[0]["doc_dropped"] is False
    assert got[0]["n_lines"] == 6 and got[0]["n_kept"] == 3
    assert got[0]["clean_text"] == (
        "This is a good first sentence.\n"
        "Another proper sentence sits right here!\n"
        "Does this line also survive the cut?")
    # doc 1: one kept line < min_kept_lines
    assert got[1]["doc_dropped"] is True
    assert got[1]["drop_reason"] == "too_few_lines"
    assert got[1]["clean_text"] is None
    # docs 2/3: marker kill switches (case-insensitive)
    assert got[2]["drop_reason"] == "marker"
    assert got[3]["drop_reason"] == "marker"


def test_c4_line_filter_empty_drop_markers(spark):
    """drop_markers=() must cleanly DISABLE the marker rule (r6
    ADVICE: the None-seeded when-chain raised TypeError at
    plan-build time)."""
    from dump1090_db_stream_spark.operators.cleaning import c4_line_filter

    df = spark.createDataFrame(
        [("d1", "this line mentions lorem ipsum but ends properly "
          "with enough words.")], ["doc_id", "text"])
    out = c4_line_filter(df, drop_markers=(),
                         min_kept_lines=1).collect()[0]
    assert out["doc_dropped"] is False and out["drop_reason"] is None

"""The `tokenizer=` seam (r10 verdict ask #5): every text-family token
consumer flows through text.with_tokens, which resolves a tokenizer
spec via text.make_tokenizer — None is the historical whitespace split
(bit-identical, so every pre-seam oracle is unchanged), names come
from text.TOKENIZERS, and any Column -> Column callable is the custom
escape hatch."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

PROBE = "key agg value, row; scan — café №42 (naïve) x2y"


def test_make_tokenizer_resolution():
    from dump1090_db_stream_spark.operators.text import (
        bpe_ish_tokens,
        make_tokenizer,
        tokens,
        word_tokens,
    )

    assert make_tokenizer(None) is tokens
    assert make_tokenizer("whitespace") is tokens
    assert make_tokenizer("word") is word_tokens
    assert make_tokenizer("bpe_ish") is bpe_ish_tokens
    custom = lambda c: F.split(c, ",")  # noqa: E731
    assert make_tokenizer(custom) is custom
    with pytest.raises(ValueError, match="unknown tokenizer"):
        make_tokenizer("icu")


def test_default_is_bit_identical_to_whitespace_split(spark):
    """tokenizer=None must produce exactly the pre-seam arrays — the
    invariant every existing oracle rests on."""
    from dump1090_db_stream_spark.operators.text import with_tokens

    df = spark.createDataFrame(
        [(PROBE,), ("  padded  text  ",), ("",)], ["text"])
    legacy = df.withColumn("_toks", F.split(F.trim("text"), r"\s+"))
    assert (with_tokens(df).collect() == legacy.collect()
            == with_tokens(df, tokenizer="whitespace").collect())


def test_word_tokenizer_drops_punctuation_keeps_unicode_letters(spark):
    from dump1090_db_stream_spark.operators.text import with_tokens

    df = spark.createDataFrame([(PROBE,)], ["text"])
    got = with_tokens(df, tokenizer="word").first()["_toks"]
    assert got == ["key", "agg", "value", "row", "scan",
                   "café", "42", "naïve", "x2y"]
    ws = with_tokens(df).first()["_toks"]
    assert "value," in ws and "value," not in got  # they really differ


def test_custom_callable_flows_through_consumers(spark):
    """The escape hatch: a caller-supplied Column function reaches the
    projection boundary unchanged (here: a lowercasing word splitter
    standing in for a real BPE encoder)."""
    from dump1090_db_stream_spark.operators.relevance import tfidf_terms
    from dump1090_db_stream_spark.operators.text import word_tokens

    df = spark.createDataFrame(
        [(1, "Value VALUE value!"), (2, "other words here")],
        ["doc_id", "text"])
    lower_words = lambda c: F.transform(  # noqa: E731
        word_tokens(c), lambda t: F.lower(t))
    terms = {(r["doc_id"], r["term"]): r["tf"]
             for r in tfidf_terms(df, tokenizer=lower_words).collect()}
    assert terms[(1, "value")] == 3  # punctuation and case folded
    # whitespace default sees three distinct tokens instead
    default = {(r["doc_id"], r["term"]): r["tf"]
               for r in tfidf_terms(df).collect()}
    assert default[(1, "value!")] == 1


def test_ngram_dedup_respects_tokenizer(spark):
    """Two docs identical up to punctuation are near-dups under the
    word tokenizer and NOT under the whitespace default — the seam
    changes candidate semantics, not just token arrays."""
    from dump1090_db_stream_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    a = "alpha beta gamma delta epsilon zeta eta theta"
    b = "alpha, beta; gamma. delta! epsilon? zeta: eta (theta)"
    df = spark.createDataFrame([(1, a), (2, b)], ["doc_id", "text"])
    ws = ngram_jaccard_pairs(df, threshold=0.5).collect()
    assert ws == []  # every shingle differs by punctuation
    word = ngram_jaccard_pairs(df, threshold=0.5,
                               tokenizer="word").collect()
    assert [(r["id_a"], r["id_b"], r["jaccard"])
            for r in word] == [(1, 2, 1.0)]

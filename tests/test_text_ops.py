"""Text-analysis operator tests (operators.text)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dump1090_db_stream_spark.operators.text import (
    bpe_ish_tokens,
    content_hash,
    doc_fingerprint,
    lang_id,
    quality_features,
    shingles,
    token_count,
    with_tokens,
)


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "le chat est sur la table et le chien est la"),
            (3, "el perro y el gato es en la casa"),
            (4, "der hund und die katze ist von dem haus"),
            (5, "这是一个中文句子"),
            (6, "xyzzy plugh qwerty"),
        ],
        ["doc_id", "text"],
    )


def test_token_count(spark):
    out = _docs(spark).select("doc_id", token_count("text").alias("n")).collect()
    got = {r.doc_id: r.n for r in out}
    assert got[1] == 9
    assert got[6] == 3


def test_bpe_ish_tokens(spark):
    df = spark.createDataFrame([("Hello, world! 42x",)], ["text"])
    toks = df.select(bpe_ish_tokens("text").alias("t")).collect()[0].t
    assert toks == ["Hello", ",", "world", "!", "42", "x"]


def test_lang_id_heuristic(spark):
    out = lang_id(_docs(spark)).collect()
    got = {r.doc_id: r.lang_pred for r in out}
    assert got[1] == "en"
    assert got[2] == "fr"
    assert got[3] == "es"
    assert got[4] == "de"
    assert got[5] == "zh"
    assert got[6] == "und"


def test_quality_features(spark):
    out = quality_features(_docs(spark)).filter(F.col("doc_id") == 1).collect()[0]
    assert out.q_n_tokens == 9
    assert 0 <= out.q_quality_score <= 1
    assert out.q_punct_ratio == 0.0
    assert out.q_stopword_ratio > 0.2  # 'the' twice, 'over' not a marker


def test_shingles_and_fingerprint(spark):
    df = with_tokens(spark.createDataFrame([("a b c d",), ("a b",)], ["text"]))
    rows = df.select(shingles("_toks", 3).alias("s"),
                     doc_fingerprint("_toks", 3).alias("fp")).collect()
    assert rows[0].s == ["a b c", "b c d"]
    assert rows[1].s == ["a b"]  # shorter than n -> whole text
    assert len(rows[0].fp) == 32  # md5 hex


def test_fingerprint_deterministic_and_order_sensitive(spark):
    df = with_tokens(spark.createDataFrame(
        [(1, "one two three four"), (2, "one two three four"),
         (3, "four three two one")],
        ["doc_id", "text"]))
    rows = {r.doc_id: r.fp for r in
            df.select("doc_id", doc_fingerprint("_toks").alias("fp")).collect()}
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]


def test_content_hash_matches_duckdb(spark):
    import duckdb
    txt = "hello world"
    got = spark.createDataFrame([(txt,)], ["text"]).select(
        content_hash("text").alias("h")).collect()[0].h
    want = duckdb.connect().execute("SELECT md5(?)", [txt]).fetchone()[0]
    assert got == want


def test_text_ops_stay_jvm_side(spark):
    out = lang_id(quality_features(_docs(spark)))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_char_entropy_known_values(spark):
    """Hand-computable entropies: uniform 4-char text = 2 bits,
    single repeated char = 0 bits, empty text = one ''-char row with
    entropy 0."""
    from dump1090_db_stream_spark.operators.text import char_entropy

    docs = spark.createDataFrame(
        [(1, "abcd"), (2, "aaaa"), (3, "aabb"), (4, "")],
        ["doc_id", "text"])
    got = {r["doc_id"]: r for r in char_entropy(docs).collect()}
    assert got[1]["entropy"] == 2.0 and got[1]["distinct_chars"] == 4
    assert got[2]["entropy"] == 0.0 and got[2]["n_chars"] == 4
    assert got[3]["entropy"] == 1.0
    assert got[4]["n_chars"] == 1 and got[4]["entropy"] == 0.0



def test_gopher_keep_rejects_output_name_collisions(spark):
    """keep= names are appended after the rule outputs; one that
    collides with an output column would make a duplicate column, so it
    raises instead."""
    from dump1090_db_stream_spark.operators.text import gopher_rules

    df = spark.createDataFrame(
        [(0, "the cat and the dog", 5, True, "s")],
        ["doc_id", "text", "n_words", "gopher_pass", "source"])
    for clash in ("n_words", "gopher_pass", "doc_id"):
        with pytest.raises(ValueError, match=clash):
            gopher_rules(df, keep=("source", clash))
    assert gopher_rules(df, keep=("source",)).columns[-1] == "source"


def test_gopher_rules_each_rule_trips_on_its_own_fixture(spark):
    from dump1090_db_stream_spark.operators.text import gopher_rules

    good = ("the cat and the dog have fun with that ball " * 6).strip()
    docs = [
        (0, good),                                   # passes everything
        (1, "the cat and dog with that"),            # too few words
        (2, "\n".join("- " + good for _ in range(4))),   # all bullet lines
        (3, ("11 22 33 44 " * 15).strip() + " the and of"),  # numeric words
        (4, good + " " + "#" * 40),                  # symbol ratio
        (5, ("extraordinarily " * 55).strip()),      # mean word len > 10
        (6, ("cat dog bird fish lion wolf bear " * 8).strip()),  # no stops
        (7, "\n".join(good + "..." for _ in range(5))),  # ellipsis lines
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in gopher_rules(
        df, min_words=40).collect()}
    assert got[0]["gopher_pass"] is True
    assert got[1]["r_word_count"] is False
    assert got[2]["r_bullet_lines"] is False and got[2]["bullet_line_frac"] == 1.0
    assert got[3]["r_alpha_words"] is False
    assert got[4]["r_symbol_ratio"] is False
    assert got[5]["r_mean_word_len"] is False
    assert got[6]["r_stopwords"] is False and got[6]["stop_hits"] == 0
    assert got[7]["r_ellipsis_lines"] is False
    for d in range(1, 8):
        assert got[d]["gopher_pass"] is False, d
    # the paper's stopword test counts DISTINCT words present
    assert got[0]["stop_hits"] >= 2


def test_winnow_fingerprints_guarantee_and_tie_break(spark):
    from dump1090_db_stream_spark.operators.text import winnow_fingerprints

    words = ("alpha bravo charlie delta echo foxtrot golf hotel india "
             "juliet kilo lima mike november oscar papa").split()
    a_text = " ".join(words)
    # doc B shares a 8-token run with A (>= w+k-1 = 6 tokens), so the
    # winnowing guarantee says they MUST share a fingerprint
    b_text = "zulu yankee " + " ".join(words[4:12]) + " xray whiskey"
    # doc C: repeated tokens -> equal hashes in one window exercise the
    # rightmost tie-break; doc D: fewer shingles than w -> one window
    docs = [(0, a_text), (1, b_text), (2, "rep rep rep rep rep rep"),
            (3, "tiny doc here")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = winnow_fingerprints(df, k=3, w=4)
    rows = out.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    assert by_doc[0] & by_doc[1]            # the coverage guarantee
    # density: ~2/(w+1) of hashes selected, never more than n windows
    assert 2 <= len(by_doc[0]) < len(words) - 2
    # doc 2: all hashes identical -> every window picks its rightmost
    # position, dedup leaves one fingerprint per distinct position set
    assert len(by_doc[2]) == 1
    # doc 3: 1 shingle (< w) -> exactly one fingerprint at pos 0
    d3 = [r for r in rows if r["doc_id"] == 3]
    assert len(d3) == 1 and d3[0]["pos"] == 0
    # determinism under repartition
    again = {(r["doc_id"], r["pos"], r["fingerprint"])
             for r in winnow_fingerprints(df.repartition(7), k=3,
                                          w=4).collect()}
    assert again == {(r["doc_id"], r["pos"], r["fingerprint"])
                     for r in rows}
    with pytest.raises(ValueError, match="w must"):
        winnow_fingerprints(df, w=0)

"""Unigram-LM trainer vs the DuckDB trajectory replay, plus the Viterbi
expression and the encode fallbacks (operators/unigram.py)."""
from __future__ import annotations

import itertools

import duckdb
import pytest
from pyspark.sql import functions as F

from dump1090_db_stream_spark.operators import unigram as U

DOCS = [
    (0, "key agg row scan slow fast"),
    (1, "fast fast scan row agg"),
    (2, "rowing scanner keying aggregate"),
    (3, None),
    (4, "a ab abc abcd ab"),
    (5, "supercalifragilistic row"),  # 20 chars: over the training cap
]


def _docs_df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def _brute_viterbi(word, scores, max_piece_len):
    """Independent reference: enumerate EVERY segmentation (cut-point
    powerset), keep vocab-covered ones, argmax by (score, joined-path
    ascending)."""
    n = len(word)
    best = None
    for mask in itertools.product([0, 1], repeat=n - 1):
        cuts = [0] + [i + 1 for i, b in enumerate(mask) if b] + [n]
        pieces = [word[a:b] for a, b in zip(cuts, cuts[1:])]
        if any(len(p) > max_piece_len or p not in scores
               for p in pieces):
            continue
        cand = (sum(scores[p] for p in pieces), U.SEP.join(pieces))
        if best is None or cand[0] > best[0] or \
                (cand[0] == best[0] and cand[1] < best[1]):
            best = cand
    return None if best is None else best[1].split(U.SEP)


def test_viterbi_local_matches_brute_force():
    scores = {"a": -3_000_000, "b": -3_100_000, "c": -3_200_000,
              "ab": -2_000_000, "bc": -2_000_000, "abc": -4_500_000,
              "ca": -2_700_000, "bca": -2_000_000}
    words = ["abc", "abca", "bcabc", "cab", "aabbcc", "abcabca", "b"]
    for w in words:
        assert U.viterbi_local(w, scores, 3) == \
            _brute_viterbi(w, scores, 3), w
    # tie case: ab|c vs a|bc would tie if scores align — force it
    tie = {"a": -1_000_000, "c": -1_000_000, "ab": -2_000_000,
           "bc": -2_000_000, "b": -9_000_000}
    assert U.viterbi_local("abc", tie, 2) == _brute_viterbi(
        "abc", tie, 2) == ["a", "bc"]  # SEP-joined "a\x1fbc" < "ab\x1fc"
    # uncoverable word
    assert U.viterbi_local("xyz", scores, 3) is None


def test_viterbi_expr_equals_local(spark):
    loc = U.train_unigram_local(_docs_df(spark))
    scores = U.scores_from_rows(loc)
    words = ["scanner", "aggregate", "abcd", "keying", "zzz", "a",
             "rowrowrowrowrow", "azb", "supercalifragilistic"]
    wdf = spark.createDataFrame([(w,) for w in words], ["word"])
    for r in U.segment_word_types(wdf, scores).collect():
        w = r["word"]
        want = (U.viterbi_local(w, scores, U.DEFAULT_MAX_PIECE_LEN)
                if len(w) <= U.DEFAULT_MAX_WORD_LEN else None)
        if want is None:  # over-cap or uncoverable: character split
            want = list(w)
        assert r["pieces"] == want, w


def test_duckdb_replay_equals_local_trajectory(spark):
    loc = U.train_unigram_local(_docs_df(spark))
    assert all(r["n_chars"] == 1 or r["cnt"] > 0 for r in loc)
    # 'u'/'p' occur ONLY in the over-cap word, which is excluded from
    # training — so no trained piece may contain them
    assert not any("u" in r["piece"] or "p" in r["piece"] for r in loc)
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?,?)", DOCS)
    got = sorted(con.execute(
        U.replay_sql() + U.vocab_select_sql()).fetchall())
    want = sorted((r["piece"], r["n_chars"], r["cnt"], r["logprob"],
                   r["rank"]) for r in loc)
    assert got == want
    # encoded stats replay vs the Spark operator
    scores = U.scores_from_rows(loc)
    es = U.unigram_encoded_stats(_docs_df(spark), scores)
    got2 = sorted(con.execute(
        U.replay_sql() + U.encoded_stats_sql()).fetchall())
    assert got2 == sorted(tuple(r) for r in es.collect())


def test_encoded_stats_counts_and_fallback(spark):
    loc = U.train_unigram_local(_docs_df(spark))
    scores = U.scores_from_rows(loc)
    rows = {r["doc_id"]: r for r in
            U.unigram_encoded_stats(_docs_df(spark), scores).collect()}
    assert 3 not in rows                       # NULL text drops out
    r5 = rows[5]
    assert r5["n_words"] == 2
    # over-cap word char-splits: 20 pieces + "row" as one piece
    assert r5["n_pieces"] == 20 + 1
    assert r5["pieces_per_word"] == pytest.approx(10.5)


def test_mstep_retains_chars_and_drops_dead_multis():
    eff, scores = U._mstep({"a": 0, "b": 5, "ab": 0, "cd": 3},
                           ["a", "b", "ab", "cd"])
    assert eff == {"a": 1, "b": 5, "cd": 3}   # "ab" dropped, "a" floored
    assert set(scores) == set(eff)
    assert scores["b"] > scores["cd"] > scores["a"]

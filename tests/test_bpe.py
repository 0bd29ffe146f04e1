"""BPE trainer and encoders (operators.bpe) vs a pure-Python
Sennrich-style reference implementation.

The reference below is the textbook algorithm (learn_bpe from
"Neural Machine Translation of Rare Words with Subword Units",
Sennrich et al. 2016): overlap-counting pair statistics over the
word-type table, highest-count-then-lexicographic argmax, greedy
left-to-right non-overlapping merge application.
"""

from __future__ import annotations

import collections
import re

import pytest
from pyspark.sql import functions as F

from dump1090_db_stream_spark.operators import bpe


# ---------------------------------------------------------------- reference

def ref_word_freqs(texts):
    wf = collections.Counter()
    for t in texts:
        if t is not None:
            wf.update(re.findall(r"[^\W_]+", t, re.UNICODE))
    return wf


def ref_pair_counts(words):
    c = collections.Counter()
    for w, (f, s) in words.items():
        for i in range(len(s) - 1):
            c[(s[i], s[i + 1])] += f
    return c


def ref_merge(syms, l, r):
    out = []
    for s in syms:
        if out and out[-1] == l and s == r:
            out[-1] = l + r
        else:
            out.append(s)
    return out


def ref_train(texts, n_merges):
    words = {w: (f, list(w)) for w, f in ref_word_freqs(texts).items()}
    merges = []
    for k in range(n_merges):
        pc = ref_pair_counts(words)
        if not pc:
            break
        (l, r), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append({"merge_rank": k, "lhs": l, "rhs": r,
                       "merged": l + r, "pair_count": cnt})
        words = {w: (f, ref_merge(s, l, r)) for w, (f, s) in words.items()}
    return merges, words


def _docs(spark, texts):
    return spark.createDataFrame([(t,) for t in texts], ["text"])


# ------------------------------------------------------------------- tests

def test_merge_fold_overlapping_run_is_greedy(spark):
    """'aaaa' under merge (a,a) -> [aa, aa], never [aa, a, a] or
    [a, aa, a]: the fold's just-merged token cannot re-merge."""
    df = _docs(spark, ["x"]).select(
        bpe.merge_fold(F.split(F.lit("aaaa"), ""), "a", "a").alias("m"),
        bpe.merge_fold(F.split(F.lit("aaa"), ""), "a", "a").alias("m3"),
        bpe.merge_fold(F.split(F.lit("abab"), ""), "a", "b").alias("ab"))
    row = df.collect()[0]
    assert row["m"] == ["aa", "aa"]
    assert row["m3"] == ["aa", "a"]
    assert row["ab"] == ["ab", "ab"]


def test_pair_counts_count_overlaps():
    """'aaa' contributes (a,a) twice — Sennrich get_stats semantics."""
    merges = bpe.train_bpe_local_from_words([(2, list("aaa"))], 1)
    assert [(m["lhs"], m["rhs"], m["pair_count"]) for m in merges] == \
        [("a", "a", 4)]


def test_single_symbol_words_contribute_nothing():
    merges = bpe.train_bpe_local_from_words(
        [(5, ["a"]), (1, ["b", "c"])], 3)
    assert [(m["lhs"], m["rhs"], m["pair_count"]) for m in merges] == \
        [("b", "c", 1)]


def test_train_matches_reference_on_synthetic_corpus(spark):
    texts = ["the cat sat on the mat", "the cats sat", "a mat and a cat",
             "banana bandana", None, "aaaa aaa banana"]
    ref_merges, ref_words = ref_train(texts, 8)
    got = bpe.train_bpe_local(_docs(spark, texts), 8)
    assert got == ref_merges
    # encoded word table matches the reference's final state
    enc = bpe.encode_words(
        bpe.with_symbols(bpe.word_freqs(_docs(spark, texts))), got)
    enc_map = {r["word"]: (r["freq"], r["syms"]) for r in enc.collect()}
    assert enc_map == {w: (f, s) for w, (f, s) in ref_words.items()}


def test_train_stops_early_when_fully_merged(spark):
    """A corpus whose words all collapse before n_merges: the trainer
    returns fewer merges instead of failing or looping."""
    texts = ["ab ab ab"]
    merges = bpe.train_bpe_local(_docs(spark, texts), 5)
    assert [m["merged"] for m in merges] == ["ab"]


def test_tie_break_is_count_then_lexicographic(spark):
    """'xy' and 'yz' (wrapped so counts tie): lower (lhs, rhs) wins."""
    texts = ["xy yz", "xy yz"]
    merges = bpe.train_bpe_local(_docs(spark, texts), 1)
    assert (merges[0]["lhs"], merges[0]["rhs"]) == ("x", "y")


def test_min_freq_prunes_type_table(spark):
    texts = ["zz common common", "common"]
    words = bpe.word_freqs(_docs(spark, texts), min_freq=2)
    assert {r["word"] for r in words.collect()} == {"common"}
    # the trainer sees only the pruned table: no merge involves 'zz',
    # and 'common' (freq 3) merges all the way down
    merges = bpe.train_bpe_local(_docs(spark, texts), 10, min_freq=2)
    assert all("z" not in m["merged"] for m in merges)
    assert merges[0]["pair_count"] == 3
    assert merges[-1]["merged"] == "common"


def test_vocab_and_encoded_stats_are_consistent(spark):
    """Total subword mass agrees between bpe_vocab (per-symbol) and
    encoded_stats (per-group) on the same merges."""
    texts = ["the cat sat", "the mat", "a cat sat"]
    df = spark.createDataFrame(
        [(t, "s%d" % (i % 2)) for i, t in enumerate(texts)],
        ["text", "source"])
    merges = bpe.train_bpe_local(df, 4)
    vocab_total = (bpe.bpe_vocab(df, merges)
                   .agg(F.sum("n_occurrences")).collect()[0][0])
    stats_total = (bpe.encoded_stats(df, merges)
                   .agg(F.sum("n_subword_tokens")).collect()[0][0])
    assert vocab_total == stats_total


def test_contract_queries_match_oracle_at_sf(spark, sf_dir):
    """The registry entries replay bit-identically in DuckDB on the
    real fixture corpus (the same check the driver's harness runs,
    kept here so a bpe.py edit cannot silently drift the replay). The
    K=64 entry pins the trainer's full 64-step trajectory."""
    duckdb = pytest.importorskip("duckdb")
    import __spark_entry__ as entrymod

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_dir}/documents.parquet'")
    oracles = entrymod.oracle_sql()
    for name in ["bpe_merges", "bpe_vocab", "bpe_encoded_stats",
                 "bpe_merges_k64"]:
        sdf = entrymod.queries()[name](spark, sf_dir)
        cols = sorted(sdf.columns)
        got = sorted(map(tuple, sdf.select(*cols).collect()))
        want = sorted(map(tuple, con.execute(
            f"SELECT {', '.join(cols)} FROM ({oracles[name]})"
        ).fetchall()))
        assert got == want, name


@pytest.mark.slow
def test_train_deep_trajectory_matches_reference(spark):
    """K=40 on a corpus rich enough to sustain it: every merge of the
    trainer's trajectory equals the pure-Python reference's."""
    texts = ["the quick brown fox jumps over the lazy dog",
             "pack my box with five dozen liquor jugs",
             "sphinx of black quartz judge my vow",
             "how vexingly quick daft zebras jump"] * 3
    ref_merges, _ = ref_train(texts, 40)
    assert len(ref_merges) == 40  # corpus sustains the full depth
    assert bpe.train_bpe_local(_docs(spark, texts), 40) == ref_merges


def test_from_words_tolerates_empty_symbol_arrays():
    """The (freq, syms) seam: empty symbol arrays must contribute
    nothing, leaving the trajectory identical to the same table without
    them, and training stops early once no pair remains."""
    rows = [(3, ["a", "b"]), (2, ["a", "b", "c"]), (1, []), (1, ["x"])]
    got = bpe.train_bpe_local_from_words(rows, 4)
    assert got == bpe.train_bpe_local_from_words(
        [r for r in rows if r[1]], 4)
    assert [m["merged"] for m in got] == ["ab", "abc"]


@pytest.mark.slow
def test_encode_chunked_matches_declarative(spark):
    """encode_words_chunked (fold batches + checkpoint) is bit-identical
    to the declarative encode_words on the same trained merges, at a
    chunk size that forces several materialization boundaries."""
    texts = ["the cat sat on the mat", "the cats sat", "a mat and a cat",
             "banana bandana", "aaaa aaa banana"]
    merges = bpe.train_bpe_local(_docs(spark, texts), 12)
    words = bpe.with_symbols(bpe.word_freqs(_docs(spark, texts)))
    want = {r["word"]: r["syms"]
            for r in bpe.encode_words(words, merges).collect()}
    got_c = {r["word"]: r["syms"]
             for r in bpe.encode_words_chunked(words, merges,
                                               chunk=4).collect()}
    assert got_c == want
    with pytest.raises(ValueError):
        bpe.encode_words_chunked(words, merges, chunk=0)


@pytest.mark.slow
def test_encode_chunked_survives_high_k(spark):
    """200 merges as one fold chain is past any sane Catalyst plan
    depth; the chunked path materializes every 25 and finishes. The
    merge list is synthetic (mostly inapplicable merges — rank order
    preserved), applied to words where a LATE merge's lhs is an EARLY
    merge's output, so chunk boundaries that dropped or reordered
    state would change the answer."""
    pad = [{"lhs": f"q{i}", "rhs": f"z{i}"} for i in range(198)]
    merges = ([{"lhs": "a", "rhs": "b"}] + pad[:99]
              + [{"lhs": "ab", "rhs": "c"}] + pad[99:])
    words = spark.createDataFrame([("abc", 1), ("abab", 1)],
                                  ["word", "freq"])
    out = {r["word"]: r["syms"]
           for r in bpe.encode_words_chunked(
               bpe.with_symbols(words), merges, chunk=25).collect()}
    assert out == {"abc": ["abc"], "abab": ["ab", "ab"]}

r"""Unigram-LM (SentencePiece-style) subword tokenizer training.

The other production tokenizer family beside BPE (``operators.bpe``):
Kudo 2018, "Subword Regularization: Improving Neural Network
Translation Models with Multiple Subword Candidates" (ACL) — the
algorithm behind SentencePiece/T5/LLaMA-class vocabularies.  Where BPE
grows a vocabulary bottom-up by greedy pair merges, unigram-LM starts
from a large substring-candidate set and re-estimates a piece
probability model with EM, segmenting via Viterbi under the current
model.  (The reference, ``dump1090-postgres.py``, has no text surface
at all — this extends SURVEY.md §2.10's tokenizer story.)

Deterministic simplification (OUR spec, replayed identically on all
three sides — Python trainer, Spark encode, DuckDB oracle):

- **Hard EM with Viterbi E-steps.**  Each word type takes its single
  best segmentation under the current model; the M-step recounts piece
  usage.  (Kudo's soft forward-backward EM and loss-ranked pruning are
  replaced by this deterministic variant: candidates are FIXED at
  seed time and drop out only when their E-step count hits zero.)
- **Integer-quantized scores.**  A piece's Viterbi score is
  ``floor(1e6 * log2(eff / tot) + 0.5)`` as BIGINT (``eff``/``tot``
  exact integers), so every DP comparison is integer arithmetic —
  partition-order- and engine-independent.  Python ``math.log2`` and
  DuckDB ``log2`` are bitwise-identical on this box (both glibc;
  verified over 20k random ratios), and Spark never computes the log:
  the driver hands the JVM pre-quantized integer literals.
- **Total tie-break.**  Equal-score segmentations order by the
  ``chr(31)``-joined piece path ascending (binary collation); the
  separator byte is below every word character, so joined-string order
  equals piece-sequence order.
- **Coverage.**  Single-character pieces never leave the vocabulary
  (effective count ``max(cnt, 1)``), so every in-cap word always has a
  segmentation.  Words longer than ``max_word_len`` are excluded from
  TRAINING (bounds the oracle's DP unroll) and fall back to a
  character split at ENCODE time, as does any word containing a
  character unseen in training.

Scale design — why this survives 100 TB
---------------------------------------
1. The corpus collapses ONCE into the word-type relation
   ``(word, freq)`` (``bpe.word_freqs`` — one shuffle); training
   touches only this VOCABULARY-sized relation.
2. EM is a short sequential loop over that relation, so
   :func:`train_unigram_local` collects it once (vocabulary-bounded)
   and runs the seed, the Viterbi E-steps and the M-steps in driver
   Python — the ``bpe.train_bpe_local`` shape.
3. Encoding is fully distributed and fully JVM-side: the Viterbi DP is
   ONE Catalyst expression (``viterbi_path_expr`` — a fold over
   ``sequence(1, length(word))`` with a bounded inner candidate scan),
   with the piece scores broadcast as a map literal.  It segments WORD
   TYPES once (broadcast-joined back to the token stream), so the
   100 TB encode pass costs one distinct + one broadcast equi-join —
   never a per-token DP and never a Python eval.

The DuckDB oracle replays the ENTIRE trajectory closed-form (the
``bpe_merges_k64`` discipline): seed substring enumeration, every EM
iteration's Viterbi DP (unrolled per prefix length — no recursion),
count re-estimation, and the final vocabulary, from the raw documents
table.
"""

from __future__ import annotations

import math
from collections import Counter
from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .bpe import word_freqs

#: Path separator: below every word character (the word tokenizer
#: admits letter/digit runs only), so joined-path binary order equals
#: piece-sequence lexicographic order in Python, Spark and DuckDB.
SEP = "\x1f"

DEFAULT_MAX_PIECE_LEN = 4
DEFAULT_MAX_WORD_LEN = 12
DEFAULT_SEED_MULTI = 48
DEFAULT_N_EM = 3


def _qlog2(eff: int, tot: int) -> int:
    """floor(1e6 * log2(eff/tot) + 0.5) — the quantized piece score.
    eff/tot is one exact IEEE division of integers; log2 is
    bitwise-identical Python vs DuckDB (module docstring)."""
    return int(math.floor(1e6 * math.log2(eff / tot) + 0.5))


def _mstep(raw_counts: Mapping[str, int], vocab_pieces,
           ) -> tuple[dict[str, int], dict[str, int]]:
    """One M-step: raw E-step counts over the CURRENT vocabulary ->
    (effective counts, quantized scores).  Multi-char pieces with zero
    count drop out; single chars persist at ``max(cnt, 1)``."""
    eff: dict[str, int] = {}
    for p in vocab_pieces:
        c = int(raw_counts.get(p, 0))
        if len(p) == 1:
            eff[p] = max(c, 1)
        elif c > 0:
            eff[p] = c
    tot = sum(eff.values())
    return eff, {p: _qlog2(c, tot) for p, c in eff.items()}


def viterbi_local(word: str, scores: Mapping[str, int],
                  max_piece_len: int) -> list[str] | None:
    """Best segmentation of ``word`` under quantized ``scores`` —
    the pure-Python reference for :func:`viterbi_path_expr` and the
    DuckDB DP replay.  Maximizes (sum of piece scores, then
    SEP-joined path ascending); ``None`` when no covering exists."""
    n = len(word)
    best: list[tuple[int, str] | None] = [None] * (n + 1)
    best[0] = (0, "")
    for i in range(1, n + 1):
        b = None
        for j in range(max(0, i - max_piece_len), i):
            prev = best[j]
            if prev is None:
                continue
            piece = word[j:i]
            s = scores.get(piece)
            if s is None:
                continue
            path = piece if j == 0 else prev[1] + SEP + piece
            cand = (prev[0] + s, path)
            if b is None or cand[0] > b[0] or \
                    (cand[0] == b[0] and cand[1] < b[1]):
                b = cand
        best[i] = b
    last = best[n]
    return None if last is None else last[1].split(SEP)


def _seed_local(words: Sequence[tuple[str, int]], max_piece_len: int,
                seed_multi: int) -> tuple[dict[str, int], list[str]]:
    """Substring-candidate seed over capped word types: occurrence
    counts (overlapping, freq-weighted) for every substring up to
    ``max_piece_len``; vocabulary = ALL single chars + the top
    ``seed_multi`` multi-char candidates by (count DESC, piece ASC)."""
    occ: Counter = Counter()
    chars: set[str] = set()
    for w, f in words:
        n = len(w)
        for p0 in range(n):
            chars.add(w[p0])
            for ln in range(1, min(max_piece_len, n - p0) + 1):
                occ[w[p0:p0 + ln]] += f
    multi = sorted(((p, c) for p, c in occ.items() if len(p) > 1),
                   key=lambda pc: (-pc[1], pc[0]))[:seed_multi]
    counts = {c: occ[c] for c in chars}
    counts.update(dict(multi))
    return counts, sorted(chars)


def _vocab_rows(eff: Mapping[str, int],
                scores: Mapping[str, int]) -> list[dict]:
    ranked = sorted(eff.items(), key=lambda pc: (-pc[1], pc[0]))
    return [{"piece": p, "n_chars": len(p), "cnt": c,
             "logprob": scores[p] / 1e6, "rank": i + 1}
            for i, (p, c) in enumerate(ranked)]


def train_unigram_local_from_words(
    word_list,
    max_piece_len: int = DEFAULT_MAX_PIECE_LEN,
    max_word_len: int = DEFAULT_MAX_WORD_LEN,
    seed_multi: int = DEFAULT_SEED_MULTI,
    n_em: int = DEFAULT_N_EM,
) -> list[dict]:
    """The in-process trainer over ``(word, freq)`` pairs (the
    ``train_bpe_local_from_words`` seam mirror).  Returns the final
    vocabulary rows ``(piece, n_chars, cnt, logprob, rank)``."""
    words = [(w, int(f)) for w, f in word_list
             if w and len(w) <= max_word_len]
    counts, chars = _seed_local(words, max_piece_len, seed_multi)
    eff, scores = _mstep(counts, list(counts))
    for _ in range(n_em):
        used: Counter = Counter()
        for w, f in words:
            path = viterbi_local(w, scores, max_piece_len)
            assert path is not None  # chars always covered
            for piece in path:
                used[piece] += f
        eff, scores = _mstep(used, list(eff))
    return _vocab_rows(eff, scores)


def train_unigram_local(
    df: DataFrame, text_col: str = "text", min_freq: int = 1, **kw,
) -> list[dict]:
    """The unigram-LM trainer: ONE distributed word-type count, then
    the whole EM loop driver-local (the ``bpe.train_bpe_local``
    pattern — the type table is vocabulary-bounded, and a distributed
    E-step would pay a job round trip per iteration)."""
    rows = (word_freqs(df, text_col, min_freq)
            .collect())  # vocabulary-bounded
    return train_unigram_local_from_words(
        ((r["word"], r["freq"]) for r in rows), **kw)


# --- the distributed Viterbi encode ----------------------------------------


def _char_split(word: Column) -> Column:
    """One array element per character (``bpe.with_symbols``' split —
    the encode fallback for over-cap / unseen-char words)."""
    return F.split(word, "")


def viterbi_path_expr(word: Column, scores: Mapping[str, int],
                      max_piece_len: int) -> Column:
    """The Viterbi DP as ONE Catalyst expression: array<string> best
    segmentation of ``word``, NULL when no covering exists.

    Shape: an ``aggregate`` fold over ``sequence(1, length(word))``
    whose accumulator is the DP table (array of (score, path) structs,
    entry j = best for the length-j prefix); each step scans the
    <= ``max_piece_len`` candidate split points with an inner bounded
    ``aggregate``.  Scores arrive as a pre-quantized integer map
    literal (broadcast with the plan), so the JVM never computes a
    log and every comparison is integer/binary-string — bit-identical
    to :func:`viterbi_local`.  Higher-order functions evaluate
    interpreted (no codegen blowup — the r13 Generate-over-fold
    lesson does not apply: this is one expression, not a K-deep
    chain), entirely JVM-side.

    UNREACHABLE entries are a SENTINEL score (-2^62), not NULL:
    Spark's ArrayConcat takes element nullability from its first
    operand, so an accumulator seeded with a non-null literal NPEs in
    UnsafeProjection the first time a null struct lands in it
    (reproduced on 4.1.2).  The sentinel stays integer-comparable —
    any real path (>= ~-1.2e9 at the parameter caps) beats it, an
    invalid extension stays below the -2^61 detection threshold, and
    no long overflow is reachable (<= cap additions of >= -1e8
    each)."""
    smap = F.create_map(
        *[F.lit(x) for p, s in sorted(scores.items()) for x in (p, s)])
    sentinel = -(1 << 62)
    thresh = -(1 << 61)

    def better(b: Column, c: Column) -> Column:
        return (F.when((c["s"] > b["s"])
                       | ((c["s"] == b["s"]) & (c["p"] < b["p"])), c)
                .otherwise(b))

    def cand(acc: Column, j: Column, i: Column) -> Column:
        prev = F.element_at(acc, (j + F.lit(1)).cast("int"))
        piece = word.substr((j + F.lit(1)).cast("int"),
                            (i - j).cast("int"))
        sc = F.element_at(smap, piece)
        path = (F.when(j == F.lit(0), piece)
                .otherwise(F.concat(prev["p"], F.lit(SEP), piece)))
        return F.struct(
            F.when(sc.isNotNull(), prev["s"] + sc)
            .otherwise(F.lit(sentinel)).alias("s"),
            path.alias("p"))

    def step(acc: Column, i: Column) -> Column:
        js = F.sequence(F.greatest(F.lit(0), i - F.lit(max_piece_len)),
                        i - F.lit(1))
        init_b = F.struct(F.lit(sentinel).cast("bigint").alias("s"),
                          F.lit("").alias("p"))
        best = F.aggregate(js, init_b,
                           lambda b, j: better(b, cand(acc, j, i)))
        return F.concat(acc, F.array(best))

    init = F.array(F.struct(F.lit(0).cast("bigint").alias("s"),
                            F.lit("").alias("p")))
    acc = F.aggregate(F.sequence(F.lit(1), F.length(word)), init, step)
    last = F.element_at(acc, F.lit(-1))
    return F.when(last["s"] > F.lit(thresh), F.split(last["p"], SEP))


def segment_word_types(types: DataFrame, scores: Mapping[str, int],
                       max_piece_len: int = DEFAULT_MAX_PIECE_LEN,
                       max_word_len: int = DEFAULT_MAX_WORD_LEN,
                       word_col: str = "word",
                       out: str = "pieces") -> DataFrame:
    """Segment a WORD-TYPE relation under a trained model, with the
    documented encode fallback: over-cap or uncoverable words take the
    character split.  This is the 100 TB encode shape — run it on
    ``distinct`` words, broadcast-join the result onto the token
    stream (:func:`unigram_encoded_stats`)."""
    w = F.col(word_col)
    dp = F.when(F.length(w) <= F.lit(max_word_len),
                viterbi_path_expr(w, scores, max_piece_len))
    return types.withColumn(out, F.coalesce(dp, _char_split(w)))


def vocab_df(spark, rows: Sequence[dict]) -> DataFrame:
    """The trained vocabulary as a DataFrame (driver-resident by
    construction: EM state is bounded-collect-sized)."""
    from pyspark.sql.types import (DoubleType, IntegerType, LongType,
                                   StringType, StructField, StructType)

    schema = StructType([
        StructField("piece", StringType()),
        StructField("n_chars", IntegerType()),
        StructField("cnt", LongType()),
        StructField("logprob", DoubleType()),
        StructField("rank", IntegerType()),
    ])
    return spark.createDataFrame(
        [(r["piece"], r["n_chars"], r["cnt"], r["logprob"], r["rank"])
         for r in rows], schema)


def scores_from_rows(rows: Sequence[dict]) -> dict[str, int]:
    """Quantized integer scores back out of vocabulary rows (logprob
    is score/1e6 by construction, so the round-trip is exact)."""
    return {r["piece"]: int(round(r["logprob"] * 1e6)) for r in rows}


def unigram_encoded_stats(
    docs: DataFrame, scores: Mapping[str, int],
    text_col: str = "text", id_col: str = "doc_id",
    max_piece_len: int = DEFAULT_MAX_PIECE_LEN,
    max_word_len: int = DEFAULT_MAX_WORD_LEN,
) -> DataFrame:
    """Per-document encode statistics under a trained model:
    ``(doc_id, n_words, n_pieces, pieces_per_word)``.

    Scale shape: the Viterbi DP runs once per WORD TYPE (distinct is
    vocabulary-sized), then broadcast-joins onto the token stream —
    the corpus-side cost is one tokenize + one equi-join + one
    aggregation.  ``pieces_per_word`` is micro-quantized
    (floor(x*1e6+0.5)/1e6) from one exact integer division on both
    engines."""
    from dump1090_db_stream_spark.operators.text import with_tokens

    words = (with_tokens(docs.filter(F.col(text_col).isNotNull()),
                         text_col, "_toks", "word")
             .select(id_col, F.explode("_toks").alias("word")))
    seg = segment_word_types(words.select("word").distinct(), scores,
                             max_piece_len, max_word_len)
    npw = seg.select("word", F.size("pieces").alias("_np"))
    return (words.join(F.broadcast(npw), "word")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_words"),
                 F.sum("_np").cast("long").alias("n_pieces"))
            .select(
                id_col, "n_words", "n_pieces",
                (F.floor((F.col("n_pieces").cast("double")
                          / F.col("n_words").cast("double"))
                         * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6))
                .alias("pieces_per_word")))


# --- DuckDB trajectory-replay SQL (the bpe_merges_k64 discipline) -----------

_WORD_RE_SQL = r"[\p{L}\p{N}]+"


def _wordsc_sql(table: str, text_col: str, max_word_len: int) -> str:
    """Capped word-type CTE body (call it ``uwords``)."""
    return f"""
  SELECT word, COUNT(*)::BIGINT AS freq
  FROM (SELECT unnest(regexp_extract_all({text_col}, '{_WORD_RE_SQL}'))
            AS word
        FROM {table} WHERE {text_col} IS NOT NULL)
  GROUP BY word HAVING len(word) <= {max_word_len}"""


def _vocab_body_sql(src: str) -> str:
    """Effective counts -> quantized scores (one window total)."""
    return f"""
  SELECT piece, eff,
         CAST(FLOOR(1e6 * log2(CAST(eff AS DOUBLE)
                               / CAST(SUM(eff) OVER () AS DOUBLE))
                    + 0.5) AS BIGINT) AS score
  FROM ({src})"""


def seed_sql(max_piece_len: int, seed_multi: int) -> str:
    """Seed CTEs: substring occurrence counts over ``uwords`` ->
    ``uvocab0``."""
    return f"""
uocc AS MATERIALIZED (
  SELECT piece, SUM(freq)::BIGINT AS cnt
  FROM (SELECT substr(w.word, w.p, t.l) AS piece, w.freq
        FROM (SELECT word, freq,
                     unnest(range(1, len(word) + 1)) AS p
              FROM uwords) w
        CROSS JOIN range(1, {max_piece_len} + 1) t(l)
        WHERE w.p + t.l - 1 <= len(w.word))
  GROUP BY piece
),
uvocab0 AS MATERIALIZED ({_vocab_body_sql(f'''
    SELECT piece, cnt AS eff FROM uocc WHERE len(piece) = 1
    UNION ALL
    SELECT piece, cnt FROM (
      SELECT piece, cnt FROM uocc WHERE len(piece) > 1
      QUALIFY ROW_NUMBER() OVER (ORDER BY cnt DESC, piece)
              <= {seed_multi})''')}
)"""


def seg_stages_sql(tag: str, vocab: str, max_piece_len: int,
                   max_word_len: int) -> str:
    """Viterbi DP unrolled per prefix length over ``uwords`` under the
    ``vocab`` CTE's scores: CTEs ``usg{tag}_0..W`` and the assembled
    ``ufin{tag}`` (word, freq, path)."""
    parts = [f"""
usg{tag}_0 AS (
  SELECT word, freq, CAST(0 AS BIGINT) AS score, '' AS path
  FROM uwords)"""]
    for i in range(1, max_word_len + 1):
        branches = []
        for j in range(max(0, i - max_piece_len), i):
            path = ("v.piece" if j == 0
                    else "s.path || chr(31) || v.piece")
            branches.append(f"""
    SELECT s.word, s.freq, s.score + v.score AS score, {path} AS path
    FROM usg{tag}_{j} s
    JOIN {vocab} v ON v.piece = substr(s.word, {j + 1}, {i - j})
    WHERE len(s.word) >= {i}""")
        parts.append(f"""
usg{tag}_{i} AS MATERIALIZED (
  SELECT word, freq, score, path FROM ({' UNION ALL '.join(branches)})
  QUALIFY ROW_NUMBER() OVER (PARTITION BY word
                             ORDER BY score DESC, path ASC) = 1)""")
    fin = " UNION ALL ".join(
        f"SELECT word, freq, path FROM usg{tag}_{i} WHERE len(word) = {i}"
        for i in range(1, max_word_len + 1))
    parts.append(f"\nufin{tag} AS MATERIALIZED (\n  {fin})")
    return ",".join(parts)


def em_stage_sql(t: int, max_piece_len: int, max_word_len: int) -> str:
    """EM iteration ``t`` (1-based): segment under ``uvocab{t-1}``,
    recount, re-estimate -> ``uvocab{t}``."""
    seg = seg_stages_sql(str(t), f"uvocab{t - 1}", max_piece_len,
                         max_word_len)
    return f"""{seg},
uuse{t} AS (
  SELECT piece, SUM(freq)::BIGINT AS cnt
  FROM (SELECT unnest(string_split(path, chr(31))) AS piece, freq
        FROM ufin{t})
  GROUP BY piece
),
uvocab{t} AS MATERIALIZED ({_vocab_body_sql(f'''
    SELECT v.piece,
           CASE WHEN len(v.piece) = 1
                THEN greatest(COALESCE(u.cnt, 0), 1)
                ELSE COALESCE(u.cnt, 0) END AS eff
    FROM uvocab{t - 1} v LEFT JOIN uuse{t} u USING (piece)
    WHERE COALESCE(u.cnt, 0) > 0 OR len(v.piece) = 1''')}
)"""


def replay_sql(
    n_em: int = DEFAULT_N_EM,
    max_piece_len: int = DEFAULT_MAX_PIECE_LEN,
    max_word_len: int = DEFAULT_MAX_WORD_LEN,
    seed_multi: int = DEFAULT_SEED_MULTI,
    table: str = "documents", text_col: str = "text",
) -> str:
    """The full training replay as a WITH prefix: ``uwords`` + seed +
    ``n_em`` EM stages.  Compose a final SELECT over ``uvocab{n_em}``
    (or extend with an encode pass via :func:`seg_stages_sql`)."""
    return ("WITH uwords AS MATERIALIZED ("
            + _wordsc_sql(table, text_col, max_word_len) + "\n),"
            + seed_sql(max_piece_len, seed_multi) + ","
            + ",".join(em_stage_sql(t, max_piece_len, max_word_len)
                       for t in range(1, n_em + 1)))


def vocab_select_sql(n_em: int = DEFAULT_N_EM) -> str:
    """Final SELECT matching :func:`vocab_df`'s schema."""
    return f"""
SELECT piece, CAST(len(piece) AS INTEGER) AS n_chars, eff AS cnt,
       CAST(score AS DOUBLE) / 1e6 AS logprob,
       CAST(ROW_NUMBER() OVER (ORDER BY eff DESC, piece) AS INTEGER)
           AS rank
FROM uvocab{n_em}"""


def encoded_stats_sql(
    n_em: int = DEFAULT_N_EM,
    max_piece_len: int = DEFAULT_MAX_PIECE_LEN,
    max_word_len: int = DEFAULT_MAX_WORD_LEN,
    table: str = "documents", text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """Appended to :func:`replay_sql`'s prefix: one more segmentation
    pass under the FINAL vocabulary + the per-document aggregation
    matching :func:`unigram_encoded_stats` (over-cap word types take
    the character split — ``len(word)`` pieces)."""
    seg = seg_stages_sql("e", f"uvocab{n_em}", max_piece_len,
                         max_word_len)
    return f""",{seg},
uwordsall AS (
  SELECT word FROM (
    SELECT unnest(regexp_extract_all({text_col}, '{_WORD_RE_SQL}'))
        AS word
    FROM {table} WHERE {text_col} IS NOT NULL) GROUP BY word
),
unpw AS (
  SELECT word, len(string_split(path, chr(31))) AS np FROM ufine
  UNION ALL
  SELECT word, len(word) AS np FROM uwordsall
  WHERE len(word) > {max_word_len}
),
udocw AS (
  SELECT {id_col},
         unnest(regexp_extract_all({text_col}, '{_WORD_RE_SQL}'))
             AS word
  FROM {table} WHERE {text_col} IS NOT NULL
)
SELECT d.{id_col}, COUNT(*)::BIGINT AS n_words,
       SUM(n.np)::BIGINT AS n_pieces,
       FLOOR((CAST(SUM(n.np) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
             * 1e6 + 0.5) / 1e6 AS pieces_per_word
FROM udocw d JOIN unpw n USING (word)
GROUP BY d.{id_col}"""

"""Text-analysis operators for large-scale training-data pipelines.

These extend the reference's surface (which has none — SURVEY.md §2.10)
with the operations a 100 TB document pipeline needs: tokenization, token
counting, quality scoring, language identification, and fingerprinting.

Design rule: everything here is native Column expressions — split /
regexp / aggregate / transform — so the hot path stays inside
WholeStageCodegen with zero Python. Each operator is also expressible in
ANSI SQL for the DuckDB oracle (see __spark_entry__.oracle_sql).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Whitespace tokenizer (the baseline) and a BPE-ish word/punct splitter:
# words, numbers, or single punctuation marks — the common pre-tokenizer
# shape used by GPT-2-style BPE vocabularies.
TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# Unicode-category word splitter: maximal runs of letters or digits,
# punctuation dropped. \p{L}/\p{N} are the same general-category classes
# in Java regex (Spark) and RE2 (DuckDB), so the non-default tokenizer
# stays oracle-reproducible (contract query word_token_stats).
WORD_TOKEN_RE = r"[\p{L}\p{N}]+"

# Tiny per-language marker lexicons for the n-gram/stopword heuristic.
# Deliberately small and hard-coded: language ID at pipeline scale is a
# first-pass router, not a classifier; precision comes from downstream.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "was"],
    "fr": ["le", "la", "les", "de", "et", "un", "une", "est", "que", "pour"],
    "es": ["el", "la", "los", "de", "que", "y", "en", "un", "una", "es"],
    "de": ["der", "die", "das", "und", "ist", "von", "ein", "eine", "zu", "mit"],
}


def tokens(text: Column | str, pattern: str = r"\s+") -> Column:
    """Whitespace tokenization: array of tokens."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), pattern)


def bpe_ish_tokens(text: Column | str) -> Column:
    """Regex pre-tokenizer: words / numbers / single punctuation."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(c, F.lit(TOKEN_RE), 0)


def word_tokens(text: Column | str) -> Column:
    """Unicode-category word tokenizer: letter/digit runs, punctuation
    dropped. Engine-neutral (WORD_TOKEN_RE means the same thing to
    Java regex and RE2), so oracle-checkable."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(c, F.lit(WORD_TOKEN_RE), 0)


# Named tokenizers for `with_tokens(tokenizer=)`. "whitespace" is the
# default (tokenizer=None) expression. The registry names "word" and
# "bpe_ish"; tfidf_terms and ngram_jaccard_pairs forward a caller's
# choice; every other text operator tokenizes with the default.
TOKENIZERS = {
    "whitespace": tokens,
    "word": word_tokens,
    "bpe_ish": bpe_ish_tokens,
}


def make_tokenizer(spec=None):
    """Resolve a tokenizer spec to a Column -> Column callable.

    ``None`` -> the whitespace default (bit-identical to the pre-seam
    behavior); a name from :data:`TOKENIZERS`; or any callable taking
    a text Column and returning an array<string> Column (the custom
    escape hatch — a Pandas-UDF BPE encoder plugs in here without any
    operator changing)."""
    if spec is None:
        return tokens
    if callable(spec):
        return spec
    if spec in TOKENIZERS:
        return TOKENIZERS[spec]
    raise ValueError(
        f"unknown tokenizer {spec!r}: pass None, a callable, or one of "
        f"{sorted(TOKENIZERS)}")


def with_tokens(df: DataFrame, text_col: str = "text",
                out: str = "_toks", tokenizer=None) -> DataFrame:
    """Materialize the token array as a real column.

    CRITICAL perf pattern: a lambda (transform/filter/aggregate) that
    captures a raw expression like split(...) re-evaluates it per array
    element — O(tokens^2) for shingling. Captured *attribute references*
    are free, and Catalyst's CollapseProject will not inline an expensive
    expression into multiple references, so this projection boundary
    guarantees one split per row. (Measured 6x on sf0.1 documents.)

    ``tokenizer`` (r10 verdict ask #5): see :func:`make_tokenizer`;
    the default is the whitespace split, bit-identical to pre-seam
    behavior, and the seam is this single projection boundary — every
    token consumer in the text family flows through here.
    """
    return df.withColumn(out, make_tokenizer(tokenizer)(text_col))


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality signals: char length, token count, mean token
    length, punctuation ratio, uppercase ratio, stopword(en) ratio,
    and a composite [0,1] quality score.

    Narrow projection, no shuffle: scales linearly with input bytes.
    Tokens are materialized once (see with_tokens) — the feature
    expressions reference the array ~4 times.
    """
    df = with_tokens(df, text_col, "_q_toks")
    c = F.col(text_col)
    toks = F.col("_q_toks")
    n_tok = F.size(toks)
    n_char = F.length(c)
    n_punct = n_char - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    n_upper = n_char - F.length(F.regexp_replace(c, r"[A-Z]", ""))
    en = F.array([F.lit(w) for w in LANG_MARKERS["en"]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(en, F.lower(t))))
    mean_tok_len = F.when(n_tok > 0,
                          (n_char - (n_tok - 1)) / n_tok).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_char > 0, n_punct / n_char).otherwise(F.lit(0.0))
    upper_ratio = F.when(n_char > 0, n_upper / n_char).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tok > 0, n_stop / n_tok).otherwise(F.lit(0.0))
    # Composite: favor mid-length docs with low punct/upper noise.
    score = (
        F.least(n_tok / F.lit(100.0), F.lit(1.0)) * 0.4
        + (1 - F.least(punct_ratio * 5, F.lit(1.0))) * 0.3
        + (1 - F.least(upper_ratio * 5, F.lit(1.0))) * 0.3
    )
    return df.select(
        *[col for col in df.columns if col != "_q_toks"],
        n_char.alias("q_n_chars"),
        n_tok.alias("q_n_tokens"),
        F.round(mean_tok_len, 4).alias("q_mean_token_len"),
        F.round(punct_ratio, 4).alias("q_punct_ratio"),
        F.round(upper_ratio, 4).alias("q_upper_ratio"),
        F.round(stop_ratio, 4).alias("q_stopword_ratio"),
        F.round(score, 4).alias("q_quality_score"),
    )


def lang_id(df: DataFrame, text_col: str = "text",
            out_col: str = "lang_pred") -> DataFrame:
    """Heuristic language ID.

    CJK-script detection first (any CJK codepoint → zh), then the
    stopword-marker vote: the language whose marker lexicon covers the
    largest fraction of tokens wins; 'und' when nothing matches.
    Pure expressions → linear scan, no shuffle, no UDF.
    """
    df = with_tokens(df, text_col, "_l_toks")
    c = F.col(text_col)
    toks = F.transform(F.col("_l_toks"), lambda t: F.lower(t))
    scores = []
    for lang, markers in LANG_MARKERS.items():
        arr = F.array([F.lit(w) for w in markers])
        hits = F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
        scores.append((lang, hits))
    # greatest-by-score with deterministic tie-break on language order
    best = F.lit("und")
    best_hits = F.lit(0)
    for lang, hits in scores:
        take = hits > best_hits
        best = F.when(take, F.lit(lang)).otherwise(best)
        best_hits = F.when(take, hits).otherwise(best_hits)
    has_cjk = c.rlike(r"[一-鿿]")
    return (df.withColumn(out_col, F.when(has_cjk, F.lit("zh")).otherwise(best))
            .drop("_l_toks"))


def shingles(toks: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles as an array of strings (basis for MinHash /
    Jaccard dedup). Sliding window via transform over token indices.

    ``toks`` MUST be a materialized token-array column (see with_tokens):
    the sliding-window lambda references it once per shingle, so passing a
    raw split(...) expression here would re-tokenize per shingle."""
    toks = F.col(toks) if isinstance(toks, str) else toks
    k = F.size(toks) - (n - 1)
    idx = F.sequence(F.lit(0), F.greatest(k - 1, F.lit(-1)))
    return F.when(k <= 0, F.array(F.concat_ws(" ", toks)).cast("array<string>")) \
        .otherwise(F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))))


def doc_fingerprint(toks: Column | str, n: int = 3) -> Column:
    """Deterministic document fingerprint: the lexicographic minimum of the
    md5 hex digests of the document's word n-gram shingles (a 1-permutation
    MinHash). md5 (not xxhash64) so any ANSI engine reproduces it.
    ``toks`` is a materialized token-array column (see shingles)."""
    return F.array_min(F.transform(shingles(toks, n), lambda s: F.md5(s)))


def content_hash(text: Column | str) -> Column:
    """Exact-dedup key: md5 of the raw text (portable across engines)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(c)


def char_entropy(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document character-level Shannon entropy — the classic
    gibberish/boilerplate quality signal (low entropy = repetitive or
    templated text, high = random noise; natural language sits in a
    band). Output: (id, n_chars, distinct_chars, entropy-bits).

    Pure Column expressions, two map-side-combined shuffles (by
    (id, char), then by id). The per-char relation is one native
    split-on-empty-pattern (a single pass per row — 4.6x faster at
    sf0.1 than an interpreted substr-by-index transform, which pays a
    HOF call per character); it produces EXACTLY the rows of the
    substr-by-index form the DuckDB oracle uses, including the
    empty-text -> one-''-char edge (relation equality verified).
    Entropy uses the join-free identity H = log2(n) - sum(c*log2(c))/n,
    so the second aggregation needs no total-count join back."""
    ch = df.select(
        F.col(id_col),
        F.explode(F.split(text_col, "")).alias("ch"),
    )
    counts = ch.groupBy(id_col, "ch").agg(F.count(F.lit(1)).alias("c"))
    return counts.groupBy(id_col).agg(
        F.sum("c").alias("n_chars"),
        F.count(F.lit(1)).alias("distinct_chars"),
        F.round(
            F.log2(F.sum("c"))
            - F.sum(F.col("c") * F.log2("c")) / F.sum("c"), 6,
        ).alias("entropy"),
    )


GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stop_hits: int = 2,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """The Gopher document-quality rule set (Rae et al. 2021, app. A1.1
    — the published heuristics most LLM corpus pipelines apply before
    any model-based filtering), evaluated natively in one narrow
    projection: word-count bounds, mean-word-length bounds, symbol
    (#/ellipsis)-to-word ratio, bullet-started and ellipsis-ended line
    fractions, words-with-an-alphabetic-character fraction, and the
    >=2-English-stopwords presence test. Defaults are the paper's
    thresholds; every one is a parameter because corpus token/length
    profiles differ.

    Output: per-doc metrics (rounded to 6 before comparison, so both
    engines threshold identical values — the portable-sampling
    discipline), one boolean per rule, and the conjunction
    ``gopher_pass``. Zero shuffles, zero Python: scales with input
    bytes. Word = whitespace token (:func:`tokens`); line = newline
    split; single-line documents make the two line-fraction rules
    trivially true (0-fractions), which is faithful to the paper —
    they exist to kill list/boilerplate pages.

    ``keep``: input columns appended unchanged AFTER the rule columns,
    so a caller fusing gopher into a wider single-pass featurization
    (the capstone does) keeps its other per-doc columns without a
    re-join. Default () is the historical output, bit-identical. A
    kept name that collides with an output column raises ``ValueError``.
    """
    df = with_tokens(df, text_col, "_g_toks")
    c = F.col(text_col)
    toks = F.col("_g_toks")
    n_words = F.size(toks)
    lines = F.split(c, "\n")
    n_lines = F.size(lines)
    mean_wl = F.round(
        F.when(n_words > 0,
               F.aggregate(toks, F.lit(0).cast("long"),
                           lambda a, t: a + F.length(t))
               / n_words).otherwise(F.lit(0.0)), 6)
    n_hash = F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit("")))
    n_ell = (F.length(c)
             - F.length(F.replace(c, F.lit("..."), F.lit("")))) / 3
    sym_ratio = F.round(
        F.when(n_words > 0, (n_hash + n_ell) / n_words)
        .otherwise(F.lit(0.0)), 6)
    bullet_frac = F.round(
        F.when(n_lines > 0,
               F.size(F.filter(lines, lambda ln: F.trim(ln)
                               .rlike(r"^[-*•]"))) / n_lines)
        .otherwise(F.lit(0.0)), 6)
    ell_frac = F.round(
        F.when(n_lines > 0,
               F.size(F.filter(lines, lambda ln: F.trim(ln)
                               .endswith("..."))) / n_lines)
        .otherwise(F.lit(0.0)), 6)
    alpha_frac = F.round(
        F.when(n_words > 0,
               F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]")))
               / n_words).otherwise(F.lit(0.0)), 6)
    low = F.transform(toks, F.lower)
    stop_hits = sum(
        (F.array_contains(low, w).cast("int") for w in GOPHER_STOPWORDS),
        F.lit(0))
    rules = {
        "r_word_count": (n_words >= min_words) & (n_words <= max_words),
        "r_mean_word_len": (mean_wl >= min_mean_word_len)
        & (mean_wl <= max_mean_word_len),
        "r_symbol_ratio": sym_ratio <= max_symbol_word_ratio,
        "r_bullet_lines": bullet_frac <= max_bullet_line_frac,
        "r_ellipsis_lines": ell_frac <= max_ellipsis_line_frac,
        "r_alpha_words": alpha_frac >= min_alpha_word_frac,
        "r_stopwords": stop_hits >= min_stop_hits,
    }
    passed = None
    for expr in rules.values():
        passed = expr if passed is None else (passed & expr)
    outputs = {
        "n_words": n_words,
        "mean_word_len": mean_wl,
        "symbol_word_ratio": sym_ratio,
        "bullet_line_frac": bullet_frac,
        "ellipsis_line_frac": ell_frac,
        "alpha_word_frac": alpha_frac,
        "stop_hits": stop_hits,
        **rules,
        "gopher_pass": passed,
    }
    clash = sorted(set(keep) & (set(outputs) | {id_col}))
    if clash:
        raise ValueError(
            f"gopher_rules keep= names collide with its outputs: {clash}")
    return df.select(
        F.col(id_col),
        *[expr.alias(name) for name, expr in outputs.items()],
        *[F.col(k) for k in keep],
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD'03
    — the MOSS plagiarism-detection algorithm): hash every word
    ``k``-gram, slide a window of ``w`` consecutive hashes, and keep
    the RIGHTMOST MINIMUM of each window. Guarantee: any shared run of
    at least w+k-1 tokens between two documents shares at least one
    fingerprint — a coverage property MinHash sampling cannot give —
    while selecting only ~2/(w+1) of all hashes.

    Spark-first shape: hashes explode with positions, each position
    replicates onto the <= w windows covering it (sequence + explode —
    the interval-bucket cover pattern, O(n*w) rows, no self-join), and
    each window takes ``min(struct(hash, -pos))`` in one map-side-
    combinable aggregate (string min: rightmost tie-break via the
    negated position). Hashes are md5 hex strings (the
    :func:`doc_fingerprint` portability discipline) so any ANSI engine
    replays them. Documents with fewer than ``w`` hashes form a single
    window (their global minimum) — the paper's boundary case.

    Output: DISTINCT (id, pos, fingerprint) — pos is the 0-based
    shingle position, so matches can be located, not just detected.
    """
    if w < 1:
        raise ValueError(f"w must be >= 1, got {w}")
    base = with_tokens(df, text_col, "_wn_toks").select(
        F.col(id_col).alias("id"),
        F.transform(shingles("_wn_toks", k), lambda s: F.md5(s))
         .alias("hs"))
    rows = base.select(
        "id", F.size("hs").alias("n"),
        F.posexplode("hs").alias("p", "h"))
    last_start = F.greatest(F.col("n") - w, F.lit(0))
    wins = rows.select(
        "id", "p", "h",
        F.explode(F.sequence(
            F.greatest(F.col("p") - (w - 1), F.lit(0)),
            F.least(F.col("p"), last_start))).alias("s"))
    picked = (wins.groupBy("id", "s")
              .agg(F.min(F.struct(F.col("h").alias("h"),
                                  (-F.col("p")).alias("np"))).alias("m")))
    return (picked.select("id", (-F.col("m.np")).alias("pos"),
                          F.col("m.h").alias("fingerprint"))
            .distinct()
            .select(F.col("id").alias(id_col), "pos", "fingerprint"))

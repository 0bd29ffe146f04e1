"""TF-IDF / BM25 relevance scoring over the document corpus.

The retrieval-side text pipeline (quality-weighted sampling, query-based
corpus slicing, nearest-text search without embeddings) reduces to
sparse lexical scoring. Two operators:

- tfidf_terms   corpus -> (doc, term, tf, df, idf, tfidf): the inverted
                scoring index, computed with two hash aggregations.
- bm25_scores   score every document against a (small) query term list
                with BM25 (k1, b) — a semi-join on the query terms,
                never a corpus-wide cross join.

Scale shape: explode tokens -> groupBy (doc, term) [shuffle 1, map-side
combined] -> term document frequencies [shuffle 2, carries one row per
distinct (term) after partial aggregation] -> broadcast the tiny
df/query relations back. Nothing is quadratic; the only wide relation
ever shuffled is O(total tokens) with 8-byte-ish rows, the same shape
as the MinHash signature stage.

IDF variant: the BM25-standard ``ln((N - df + 0.5)/(df + 0.5) + 1)``
(Robertson/Sparck-Jones, the Lucene form — always positive); TF-IDF
uses the plain ``ln(N / df)``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dump1090_db_stream_spark.cache import track
from dump1090_db_stream_spark.operators.text import with_tokens


def _doc_terms(df: DataFrame, id_col: str, text_col: str,
               tokenizer=None) -> DataFrame:
    """(id, term, tf) — terms (default whitespace; see
    text.make_tokenizer), term frequency per doc."""
    return (
        with_tokens(df, text_col, tokenizer=tokenizer)
        .select(F.col(id_col).alias("id"),
                F.explode(F.col("_toks")).alias("term"))
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def tfidf_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokenizer=None,
) -> DataFrame:
    """Per-(doc, term) TF-IDF: tf, df, idf = ln(N/df), tfidf = tf * idf.

    N (corpus size) and the per-term document frequencies are tiny
    aggregates broadcast back onto the (doc, term) relation — the big
    side is shuffled exactly once, on (id, term).

    The (doc, term) relation feeds BOTH the tf side and the df side of
    the join; Spark does not CSE across join branches, so without
    materialization the tokenize -> explode -> groupBy pipeline (two
    full corpus scans at 100 TB) would run twice. track() persists it;
    callers release via cache.release_tracked().
    """
    terms = track(_doc_terms(df, id_col, text_col, tokenizer))
    n_docs = df.select(F.count(F.lit(1)).alias("n"))  # 1-row relation
    dfreq = terms.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return (
        terms.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col("id").alias(id_col), "term", "tf", "df",
            F.round(F.log(F.col("n") / F.col("df")), 6).alias("idf"),
            F.round(F.col("tf") * F.log(F.col("n") / F.col("df")), 6)
                .alias("tfidf"),
        )
    )


def _adjacent_pairs(arr) -> Column:
    """Adjacent-token pair structs (w1, w2) from a token array column —
    built NARROW (zip_with over two array slices — no shuffle, no
    Python). 1-token documents yield an EMPTY array, never an
    out-of-range element (sequence(1, 0) would count DOWN). The single
    construction shared by every bigram consumer in this module."""
    c = F.col(arr) if isinstance(arr, str) else arr
    n1 = F.greatest(F.lit(0), F.size(c) - 1)
    return F.zip_with(
        F.slice(c, 1, n1), F.slice(c, 2, n1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))


def _bigrams_of_toks(toks: DataFrame) -> DataFrame:
    """(w1, w2, c_xy) from a DataFrame carrying a ``_toks`` array,
    exploded then hash-aggregated once with map-side partial counts."""
    return (
        toks.select(F.explode(_adjacent_pairs("_toks")).alias("bg"))
        .select("bg.w1", "bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
    )


def bigram_pmi(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 2,
) -> DataFrame:
    """Collocation mining: pointwise mutual information of adjacent
    token pairs — the classic phrase-discovery statistic (Church &
    Hanks 1990) used to mine multi-word expressions ("new york",
    "machine learning") for tokenizer vocabularies and boilerplate
    phrase lists.

        pmi(x, y) = ln( p(x,y) / (p(x) p(y)) )
                  = ln( c_xy * U * U / (B * c_x * c_y) )

    with U = total tokens, B = total bigrams. ``min_count`` drops the
    hapax noise floor (PMI is maximal for pairs seen once).

    Scale shape: the bigram and unigram relations are both aggregated
    (map-side combined) BEFORE any join, so the joins carry vocabulary-
    sized relations, never the corpus; U/B are one-row broadcasts. The
    unigram joins are plain equi-joins — AQE broadcasts them when the
    vocabulary is small, shuffles vocab-sized (not corpus-sized) rows
    when it is not.

    Output: w1, w2, c_xy, c_x, c_y, pmi (rounded 6).
    """
    # the tokenize->explode pipeline feeds both the unigram and bigram
    # branches; persist so the corpus is tokenized once (no cross-branch
    # CSE — see tfidf_terms)
    toks = track(with_tokens(df, text_col))
    uni = (toks.select(F.explode("_toks").alias("w"))
           .groupBy("w").agg(F.count(F.lit(1)).alias("c")))
    # B totals over ALL bigrams; min_count prunes only the output rows
    bg_all = track(_bigrams_of_toks(toks))
    bg = bg_all.filter(F.col("c_xy") >= min_count)
    totals = (uni.agg(F.sum("c").alias("u"))
              .crossJoin(bg_all.agg(F.sum("c_xy").alias("b"))))
    return (
        bg.join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c_x")),
                "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c_y")),
              "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1", "w2", "c_xy", "c_x", "c_y",
            # double chain on BOTH sides of the division: overflow-safe
            # (int64 products overflow at web scale) and the exact IEEE
            # sequence the DuckDB oracle replays
            F.round(F.log(F.col("c_xy").cast("double") * F.col("u")
                          * F.col("u")
                          / (F.col("b").cast("double") * F.col("c_x")
                             * F.col("c_y"))),
                    6).alias("pmi"),
        )
    )


def unigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram distribution — the simplest form of the LM-perplexity
    quality filter (CCNet-style): documents of improbable tokens (OCR
    noise, gibberish, wrong-language fragments) score far below the
    corpus mode and can be thresholded out.

        logprob(d) = (1/|d|) * sum over tokens t of ln(c_t / U)

    Scale shape: the (doc, term, tf) relation aggregates map-side, the
    term-frequency dimension joins at vocabulary size (never corpus
    size), U is a one-row broadcast. Same discipline as tfidf_terms —
    the tokenize pipeline is persisted across its two consumers.

    Output: (id_col, n_toks, logprob rounded 6).
    """
    terms = track(_doc_terms(df, id_col, text_col))
    tot = terms.agg(F.sum("tf").alias("u"))
    freq = terms.groupBy("term").agg(F.sum("tf").alias("c"))
    return (
        terms.join(freq, "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("id")
        .agg(F.sum("tf").cast("long").alias("n_toks"),
             F.round(
                 F.sum(F.col("tf")
                       * F.log(F.col("c").cast("double") / F.col("u")))
                 / F.sum("tf"), 6).alias("logprob"))
        .select(F.col("id").alias(id_col), "n_toks", "logprob")
    )


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 score of every matching document for a bag of query terms.

    score(d) = sum over query terms t of
        idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * len_d / avg_len))

    The query-term list is a literal broadcast; only documents containing
    at least one query term survive the join (inverted-index semi-join
    shape). Output: (id, n_matched, score) sorted nowhere — callers rank.
    """
    # terms feeds doclen, matched, and (via matched) dfreq — persist so
    # the tokenize pipeline runs once, not three times (no cross-branch
    # CSE; see tfidf_terms).
    terms = track(_doc_terms(df, id_col, text_col))
    doclen = terms.groupBy("id").agg(F.sum("tf").alias("dl"))
    stats = doclen.select(
        F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl"))
    q = df.sparkSession.createDataFrame(
        [(t,) for t in sorted(set(query_terms))], ["term"])
    matched = terms.join(F.broadcast(q), "term")
    dfreq = matched.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    contrib = (
        matched.join(F.broadcast(dfreq), "term")
        .join(doclen, "id")
        .crossJoin(F.broadcast(stats))
        .select(
            "id",
            (idf * F.col("tf") * (k1 + 1)
             / (F.col("tf")
                + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))))
            .alias("c"),
        )
    )
    return (
        contrib.groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_matched"),
             F.round(F.sum("c"), 6).alias("score"))
        .select(F.col("id").alias(id_col), "n_matched", "score")
    )


def bigram_logprob(
    df: DataFrame,
    lam: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document mean INTERPOLATED bigram log-probability under the
    corpus's own counts — one rung above :func:`unigram_logprob` on
    the LM-quality ladder (Jelinek-Mercer smoothing):

        p(w2|w1) = lam * c(w1 w2)/c(w1) + (1-lam) * c(w2)/U

    Repetitive/templated text scores HIGH (its bigrams are corpus-
    frequent), shuffled-word gibberish scores LOW even when every
    unigram is common — the signal unigram_logprob cannot see.

    Scale shape: the (doc, bigram, tf) relation shuffles once; bigram
    and unigram count dimensions join at vocabulary size; U is a
    one-row broadcast (the tfidf_terms discipline). c(w1) uses the
    unigram count (standard approximation: exact up to doc-final
    tokens). Documents with fewer than 2 tokens have no bigrams and
    are absent from the output — callers union them back if needed.

    Output: (id_col, n_bigrams, logprob rounded 6).
    """
    from dump1090_db_stream_spark.cache import track
    from dump1090_db_stream_spark.operators.text import with_tokens

    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    toks = with_tokens(df, text_col, "_bl_toks").select(
        F.col(id_col).alias("id"), F.col("_bl_toks").alias("t"))
    toks = track(toks)
    uni = (toks.select("id", F.explode("t").alias("term"))
           .groupBy("term").agg(F.count(F.lit(1)).alias("cu")))
    uni = track(uni)
    tot = uni.agg(F.sum("cu").alias("u"))
    # bigrams via the shared _adjacent_pairs construction, id retained
    big = (toks.select("id", F.explode(_adjacent_pairs("t")).alias("bg"))
           .select("id", "bg.w1", "bg.w2")
           .groupBy("id", "w1", "w2")
           .agg(F.count(F.lit(1)).alias("tf")))
    big = track(big)
    cbi = big.groupBy("w1", "w2").agg(F.sum("tf").alias("cb"))
    p = (F.lit(lam) * F.col("cb") / F.col("c1")
         + F.lit(1.0 - lam) * F.col("c2") / F.col("u"))
    return (
        big.join(cbi, ["w1", "w2"])
        .join(F.broadcast(uni.select(F.col("term").alias("w1"),
                                     F.col("cu").alias("c1"))), "w1")
        .join(F.broadcast(uni.select(F.col("term").alias("w2"),
                                     F.col("cu").alias("c2"))), "w2")
        .crossJoin(F.broadcast(tot))
        .groupBy("id")
        .agg(F.sum("tf").cast("long").alias("n_bigrams"),
             F.round(F.sum(F.col("tf") * F.log(p)) / F.sum("tf"), 6)
              .alias("logprob"))
        .select(F.col("id").alias(id_col), "n_bigrams", "logprob")
    )


def _group_terms(
    df: DataFrame,
    group_col: str,
    text_col: str,
    unit: str,
) -> DataFrame:
    """(g, term, c) — per-group unit counts, unit = 'token' (whitespace
    terms) or 'bigram' (adjacent pairs joined with one space, the
    _bigrams_of_toks zip_with shape). NULL groups are excluded (no
    group to attribute the mass to). One map-side-combined aggregate;
    the relation is vocabulary x groups sized, never corpus sized."""
    if unit not in ("token", "bigram"):
        raise ValueError(f"unit must be 'token' or 'bigram', got {unit!r}")
    toks = (with_tokens(df.filter(F.col(group_col).isNotNull()),
                        text_col, "_vc_toks")
            .select(F.col(group_col).alias("g"),
                    F.col("_vc_toks").alias("t")))
    if unit == "token":
        units = toks.select("g", F.explode("t").alias("term"))
    else:
        units = toks.select(
            "g", F.explode(_adjacent_pairs("t")).alias("bg")).select(
            "g", F.concat_ws(" ", "bg.w1", "bg.w2").alias("term"))
    return units.groupBy("g", "term").agg(F.count(F.lit(1)).alias("c"))


def vocabulary_coverage(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    unit: str = "bigram",
) -> DataFrame:
    """Per-group vocabulary coverage / richness report — how much of a
    source's unit distribution the corpus has actually SEEN, the
    question behind "is more of this source worth crawling":

    - ``unseen_mass`` — the Good-Turing estimate of the probability
      that the NEXT unit drawn from the source is novel, P0 = n1 / N
      (Gale & Sampson 1995): the singleton share of the token mass.
    - ``chao1_richness`` — the bias-corrected Chao1 species-richness
      estimate of the TRUE vocabulary size, V + n1*(n1-1)/(2*(n2+1))
      (Chao 1984): how many unit types the source would reveal at
      infinite sampling.

    Everything upstream of the two final divisions is an exact
    integer aggregate, so both engines replay the doubles
    bit-for-bit. Scale shape: one (group, unit) aggregate (map-side
    combined), then a per-group rollup of it — vocabulary-sized
    relations only. Output: (group, n_tokens, n_types, n_singletons,
    n_doubletons, unseen_mass rounded 6, chao1_richness rounded 6).
    """
    gt = _group_terms(df, group_col, text_col, unit)
    return (gt.groupBy("g").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
         .cast("long").alias("n_singletons"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
         .cast("long").alias("n_doubletons"))
        .select(F.col("g").alias(group_col),
                "n_tokens", "n_types", "n_singletons", "n_doubletons",
                F.round(F.col("n_singletons").cast("double")
                        / F.col("n_tokens"), 6).alias("unseen_mass"),
                F.round(F.col("n_types")
                        + F.col("n_singletons").cast("double")
                        * (F.col("n_singletons") - 1)
                        / (2.0 * (F.col("n_doubletons") + 1)), 6)
                .alias("chao1_richness")))


def _quantized(x):
    """Order-independent float summation discipline for per-term
    contributions: quantize each double to 1e-9 with floor(x*1e9+0.5)
    (NOT round() — Spark rounds HALF_UP via BigDecimal where DuckDB
    multiplies floats, so they diverge on exact .5e-9 ties; floor of
    the shifted value is the identical IEEE sequence in both), then
    sum the scaled integers as DECIMAL(38,0) — exact and
    order-independent where a raw double sum would carry
    partition-order noise across engines."""
    return F.floor(x * 1e9 + F.lit(0.5)).cast("decimal(38,0)")


def corpus_divergence(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    unit: str = "bigram",
    alpha: float = 0.5,
) -> DataFrame:
    """Per-group smoothed KL divergence from the group's unit
    distribution to the POOLED corpus distribution — the domain-shift
    number data-mixing work ranks sources by (a source whose
    distribution sits far from the mixture is the one reweighting
    actually moves): KL(P_g || Q) with add-alpha smoothing over the
    GLOBAL vocabulary V, so every term is in both supports and the
    divergence is always finite.

    The unobserved-term tail is closed-form, never materialized: for
    every term the group lacks, p_g is the SAME constant
    p0 = alpha / (N_g + alpha*V), so the tail contribution is
    p0 * ((V - V_g) * ln(p0) - (S_all - S_g)) where
    S_all = sum over the vocabulary of ln(q(t)) (ONE global scalar)
    and S_g its restriction to the group's observed terms — the plan
    joins only observed (group, term) rows (vocabulary-sized), plus
    one broadcast row of corpus totals.

    DETERMINISM: per-term double contributions are quantized to 1e-9
    and summed as exact DECIMAL scaled integers (see ``_quantized`` —
    the pagerank ordered-fold discipline, applied groupwise), so the
    result is independent of partition order and replayable by the
    SQL oracle; the quantization bias is bounded by 5e-10 * terms.

    Output: (group, n_tokens, n_types, kl_to_corpus rounded 6),
    ascending kl = "looks like the corpus", large kl = outlier domain.
    """
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    from dump1090_db_stream_spark.cache import track

    gt = track(_group_terms(df, group_col, text_col, unit))
    glob = track(gt.groupBy("term").agg(F.sum("c").alias("c_all")))
    a = F.lit(float(alpha))
    # one-row corpus totals: N, V, S_all = sum_t ln(q(t)) (quantized)
    tot0 = glob.agg(F.sum("c_all").alias("N"),
                    F.count(F.lit(1)).alias("V"))
    qden = F.col("N") + a * F.col("V")
    s_all = (glob.crossJoin(F.broadcast(tot0))
             .select(_quantized(F.log((F.col("c_all") + a) / qden))
                     .alias("_lq"))
             .agg((F.sum("_lq").cast("double") / 1e9).alias("S_all")))
    totals = tot0.crossJoin(F.broadcast(s_all))
    # per-group N_g, V_g
    gstat = gt.groupBy("g").agg(F.sum("c").alias("Ng"),
                                F.count(F.lit(1)).alias("Vg"))
    # observed-term contributions + S_g, both quantized-decimal sums
    joined = (gt.join(glob, "term")
              .join(F.broadcast(gstat), "g")
              .crossJoin(F.broadcast(totals)))
    p = (F.col("c") + a) / (F.col("Ng") + a * F.col("V"))
    q = (F.col("c_all") + a) / (F.col("N") + a * F.col("V"))
    obs = (joined
           .select("g", _quantized(p * F.log(p / q)).alias("_kl"),
                   _quantized(F.log(q)).alias("_lq"))
           .groupBy("g")
           .agg((F.sum("_kl").cast("double") / 1e9).alias("kl_obs"),
                (F.sum("_lq").cast("double") / 1e9).alias("S_g")))
    p0 = a / (F.col("Ng") + a * F.col("V"))
    return (gstat.join(obs, "g")
            .crossJoin(F.broadcast(totals))
            .select(F.col("g").alias(group_col),
                    F.col("Ng").cast("long").alias("n_tokens"),
                    F.col("Vg").cast("long").alias("n_types"),
                    F.round(F.col("kl_obs")
                            + p0 * ((F.col("V") - F.col("Vg"))
                                    * F.log(p0)
                                    - (F.col("S_all") - F.col("S_g"))),
                            6).alias("kl_to_corpus")))


def keyness_terms(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    min_count: int = 2,
) -> DataFrame:
    """Per-(group, term) Dunning log-likelihood keyness — WHICH terms
    make a source sound like itself. The G^2 statistic over the 2x2
    contingency of (term vs rest-of-vocabulary) x (group vs
    rest-of-corpus) (Dunning 1993), the standard corpus-linguistics
    keyword measure: unlike raw frequency ratios it is stable for rare
    terms, unlike PMI it does not explode on hapaxes. Data-pipeline
    uses: domain-signature terms for mixture audits, per-source
    boilerplate indicators, drift triage after :func:`operators.drift
    .ks_drift_by` flags a slice.

    With a = c(term, group), row/col margins n_g = tokens in group,
    c_t = corpus term count, N = corpus tokens, and b/c/d the
    complements:

        g2 = 2 * sum over x in {a,b,c,d} of x * ln(x * N / (row * col))

    (each cell's ln(observed/expected); empty cells contribute 0 —
    the x*ln(x) -> 0 limit). ``overused`` marks keyness DIRECTION
    (a/n_g > c_t/N: the group uses the term more than the corpus).

    DETERMINISM: every g2 is a per-row closed form over four integer
    counts — no float aggregation anywhere — with all products taken
    in DOUBLE (integer products like a*N overflow int64 at corpus
    scale), so both engines replay the identical IEEE sequence and the
    output rounds to 6 at the end.

    Scale shape: one map-side-combined (group, term) aggregate
    (observed pairs only — the full groups x vocabulary grid is never
    materialized, which is also why only OBSERVED (group, term) rows
    are scored: an absent term's "underuse" keyness would require the
    dense grid the whole module avoids); the term marginal joins at
    vocabulary size; the group margins are a bounded broadcast; N is
    a one-row broadcast. ``min_count`` prunes the output grain only
    (margins are computed over everything).

    Output: (group, term, c_gt, n_g, c_t, n_all, g2 rounded 6,
    overused).
    """
    from dump1090_db_stream_spark.cache import track

    gt = track(_group_terms(df, group_col, text_col, "token"))
    glob = gt.groupBy("term").agg(F.sum("c").cast("long").alias("c_t"))
    gstat = gt.groupBy("g").agg(F.sum("c").cast("long").alias("n_g"))
    tot = gstat.agg(F.sum("n_g").cast("long").alias("n_all"))

    def cell(x, row, col):
        # x * ln(x*N / (row*col)), all DOUBLE, 0 when the cell is empty
        xd = x.cast("double")
        return F.when(
            x > 0,
            xd * F.log(xd * F.col("n_all").cast("double")
                       / (row.cast("double") * col.cast("double")))
        ).otherwise(F.lit(0.0))

    a = F.col("c").cast("long")
    b = F.col("c_t") - a
    c_ = F.col("n_g") - a
    d = F.col("n_all") - F.col("n_g") - b
    n_rest = F.col("n_all") - F.col("n_g")
    t_rest = F.col("n_all") - F.col("c_t")
    g2 = 2.0 * (cell(a, F.col("n_g"), F.col("c_t"))
                + cell(b, n_rest, F.col("c_t"))
                + cell(c_, F.col("n_g"), t_rest)
                + cell(d, n_rest, t_rest))
    over = (a.cast("double") * F.col("n_all").cast("double")
            > F.col("n_g").cast("double") * F.col("c_t").cast("double"))
    return (gt.filter(F.col("c") >= min_count)
            .join(glob, "term")
            .join(F.broadcast(gstat), "g")
            .crossJoin(F.broadcast(tot))
            .select(F.col("g").alias(group_col), "term",
                    a.alias("c_gt"), "n_g", "c_t", "n_all",
                    F.round(g2, 6).alias("g2"),
                    over.alias("overused")))


def vocab_concentration(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    n_range_buckets: int = 64,
) -> DataFrame:
    """Per-group Gini coefficient of the token-frequency distribution —
    how HEAD-HEAVY a source's vocabulary is. A templated/boilerplate
    source concentrates its token mass in few types (gini -> 1); rich
    prose spreads it (low gini). The third corpus-health axis next to
    :func:`vocabulary_coverage` (how much is unseen) and
    :func:`corpus_divergence` (how far from the pool).

    Over the counts c_1 <= ... <= c_V of a group's V types with total
    mass T, Gini = 2 * (sum of i * c_i) / (V * T) - (V + 1) / V. Ties
    make any within-tie rank order equivalent, so the rank-weighted
    sum folds CLOSED-FORM over the distinct-count relation: a count
    value c with multiplicity m entered after ``prev`` lower-count
    types occupies ranks prev+1..prev+m and contributes
    c * (m*prev + m*(m+1)/2).

    Scale shape: the (group, term) aggregate collapses to the
    (group, count)->multiplicity relation (at most ~sqrt(2*T_g)
    distinct counts per group — far smaller than the vocabulary), and
    ``prev`` comes from the GROUPED
    :func:`operators.prefix_sum.distributed_prev_counts_multi` ordered by
    the count value — no unpartitioned ordered window. Every
    accumulation is an exact DECIMAL(38,0) integer (rank-weighted
    products overflow int64 at corpus scale); the only doubles are
    the final closed form, one IEEE sequence in both engines.

    Output: (group, n_types, n_tokens, gini rounded 6); a single-type
    group emits gini = 0.
    """
    from dump1090_db_stream_spark.cache import track
    from dump1090_db_stream_spark.operators.prefix_sum import (
        distributed_prev_counts_multi,
    )

    gt = _group_terms(df, group_col, text_col, "token")
    # (g, c) -> m: multiplicity of each distinct count value
    gc = track(gt.groupBy("g", "c").agg(F.count(F.lit(1)).alias("_m")))
    ranked = distributed_prev_counts_multi(
        gc, "c", ("_m",), n_range_buckets,
        partition_cols=("g",), with_totals=True)
    dec = "decimal(38,0)"
    c_d = F.col("c").cast(dec)
    m_d = F.col("_m").cast(dec)
    p_d = F.col("_prev_m").cast(dec)
    # triangular number in exact int64 (m <= ~sqrt(2*T_g) distinct
    # count values, so m^2 stays far below 2^63) — decimal DIVISION
    # is engine-specific about scale, integer div is not
    tri_d = F.expr("_m * (_m + 1) div 2").cast(dec)
    s_row = c_d * (m_d * p_d + tri_d)
    agg = (ranked
           .select("g", F.col("_total_m").alias("n_types"),
                   (c_d * m_d).alias("_t_row"), s_row.alias("_s_row"))
           .groupBy("g")
           .agg(F.max("n_types").alias("n_types"),
                F.sum("_t_row").alias("_T"),
                F.sum("_s_row").alias("_S")))
    nd = F.col("n_types").cast("double")
    gini = (F.lit(2.0) * F.col("_S").cast("double")
            / (nd * F.col("_T").cast("double"))
            - (nd + F.lit(1.0)) / nd)
    return agg.select(F.col("g").alias(group_col), "n_types",
                      F.col("_T").cast("long").alias("n_tokens"),
                      F.round(gini, 6).alias("gini"))

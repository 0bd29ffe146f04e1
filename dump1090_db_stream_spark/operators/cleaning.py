"""Text cleaning / filtering operators for training-data pipelines.

The pre-training corpus hygiene set (the Gopher/C4-style rules), each
expressed as native Column expressions or narrow aggregations so the
whole module stays JVM-side at 100 TB:

- normalize_text     canonical form: lowercase, trimmed, whitespace
                     collapsed — the projection every dedup/fingerprint
                     stage should run on first.
- scrub_pii          redact emails/URLs with fixed placeholder tokens;
                     count_emails/count_urls for audit columns.
- repetition_stats   per-document n-gram repetition profile (total /
                     distinct / top-gram share) — the Gopher repetition
                     filters ("fraction of characters in most common
                     n-gram") reduce to thresholds over this output.
- dedup_lines        line-level corpus dedup (RefinedWeb-style): count
                     per-line document frequency, strip lines shared by
                     more than max_df docs, reconstruct texts byte-exact.

Scale notes: normalize/scrub are stateless projections (pipelined into
the scan, zero shuffle). repetition_stats explodes n-grams and
aggregates twice — the same O(tokens) shuffle shape as
minhash_signatures, with map-side partial aggregation collapsing each
partition before either shuffle; nothing is ever quadratic in document
count or length.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dump1090_db_stream_spark.operators.text import shingles, with_tokens

#: Redaction patterns — deliberately RE2-compatible so the exact same
#: pattern strings run in DuckDB/Trino/BigQuery oracles.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[^\s]+"
EMAIL_TOKEN = "<EMAIL>"
URL_TOKEN = "<URL>"


def normalize_text(c: Column | str) -> Column:
    """Canonical text form: collapse runs of whitespace to one space,
    trim, lowercase. Idempotent. (Collapse BEFORE trim: trim() strips
    only spaces, so a trailing tab must become a space first.)"""
    c = F.col(c) if isinstance(c, str) else c
    return F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))


def count_emails(c: Column | str) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return F.regexp_count(c, F.lit(EMAIL_RE))


def count_urls(c: Column | str) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return F.regexp_count(c, F.lit(URL_RE))


def scrub_pii(c: Column | str) -> Column:
    """Replace every email / URL with a placeholder token. Email first:
    a URL can contain an @ but an <EMAIL> token cannot contain a URL."""
    c = F.col(c) if isinstance(c, str) else c
    return F.regexp_replace(
        F.regexp_replace(c, EMAIL_RE, EMAIL_TOKEN), URL_RE, URL_TOKEN)


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
) -> DataFrame:
    """Per-document word n-gram repetition profile.

    Output: (id, n_grams, n_distinct, top_count, top_frac, dup_frac)
    where top_frac = share of the single most frequent n-gram and
    dup_frac = 1 - distinct/total (the mass sitting in repeats).

    Shape: explode n-grams -> count per (doc, gram) [shuffle 1, partial
    agg map-side] -> per-doc totals [shuffle 2, rows already one per
    (doc, gram)]. Ties for the top gram don't matter: only the count is
    used, never the gram itself."""
    grams = (
        with_tokens(df, text_col)
        .select(F.col(id_col).alias("id"),
                F.explode(shingles(F.col("_toks"), n)).alias("g"))
    )
    per_gram = grams.groupBy("id", "g").agg(F.count(F.lit(1)).alias("c"))
    return (
        per_gram.groupBy("id")
        .agg(
            F.sum("c").alias("n_grams"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("c").alias("top_count"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_grams", "n_distinct", "top_count",
            F.round(F.col("top_count") / F.col("n_grams"), 6)
                .alias("top_frac"),
            F.round(F.lit(1.0) - F.col("n_distinct") / F.col("n_grams"), 6)
                .alias("dup_frac"),
        )
    )


def _regex_literal(s: str) -> str:
    """Quote a string so Java-regex consumers (F.split) match it
    literally: \\Q...\\E quoting, split on any embedded \\E."""
    return "\\Q" + s.replace("\\E", "\\E\\\\E\\Q") + "\\E"


def _split_lines(df: DataFrame, id_col: str, text_col: str,
                 delimiter: str, id_alias: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias(id_alias),
        F.posexplode(F.split(F.col(text_col), _regex_literal(delimiter)))
         .alias("pos", "line"),
    )


def dedup_lines(
    df: DataFrame,
    max_df: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    delimiter: str = "\n",
) -> DataFrame:
    """Line-level corpus deduplication with document reconstruction:
    remove every line appearing in MORE than ``max_df`` distinct
    documents, stitch the survivors back together in original order.

    Output: one row per input row — ``text_col`` REPLACED by the
    reconstructed text (frequent lines removed; '' when nothing
    survives; NULL passes through as NULL with zero counts), plus
    audit columns ``n_lines`` (original line count) and ``n_removed``.
    Byte-exact contract: surviving lines keep their exact text and
    relative order, rejoined with ``delimiter`` (matched literally —
    regex-quoted internally) — any ANSI engine replays it with
    split/unnest + a filtered ordered string_agg.

    Scale shape: the corpus is split/exploded ONCE — the line relation
    is materialized (cache.track barrier; Catalyst has no cross-branch
    reuse, and both the frequency branch and the flag join consume it;
    the caller releases via cache.release_tracked) — and the
    frequent-line relation is df-thresholded (true boilerplate is a
    vanishing fraction of distinct lines) and broadcast for the
    removal flag join on the line string. Reconstruction is ONE
    groupBy(doc): collect the per-doc line structs (bounded by
    document size — the same per-key contract every sessionizer has),
    sort by position in-memory, filter, join. Nothing is ever
    quadratic; the only full-size shuffle carries (id, pos, line)
    rows.
    """
    if max_df < 1:
        raise ValueError(f"max_df must be >= 1, got {max_df}")
    from dump1090_db_stream_spark.cache import track

    lines = track(_split_lines(df, id_col, text_col, delimiter, "_ld_id"))
    frequent = (
        lines.select("_ld_id", "line").distinct()
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .filter(F.col("doc_freq") > max_df)
        .select(F.col("line").alias("_fline"))
    )
    return _strip_lines_and_rebuild(df, lines, frequent, id_col,
                                    text_col, delimiter)


def _strip_lines_and_rebuild(
    df: DataFrame,
    lines: DataFrame,
    frequent: DataFrame,
    id_col: str,
    text_col: str,
    delimiter: str,
) -> DataFrame:
    """Shared removal/rebuild core: flag each (id, pos, line) row
    against the broadcast ``frequent`` set (one ``_fline`` column),
    reconstruct per-doc text, left-join back so NULL-text rows pass
    through with zero counts."""
    flagged = (
        lines.join(F.broadcast(frequent),
                   F.col("line") == F.col("_fline"), "left")
        .select("_ld_id", "pos", "line",
                F.col("_fline").isNotNull().alias("_drop"))
    )
    rebuilt = (
        flagged.groupBy("_ld_id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("_drop").cast("long")).alias("n_removed"),
            F.array_join(
                F.transform(
                    F.filter(
                        F.array_sort(F.collect_list(
                            F.struct("pos", "_drop", "line"))),
                        lambda x: ~x["_drop"]),
                    lambda x: x["line"]),
                delimiter).alias("_new_text"),
        )
    )
    others = [c for c in df.columns if c != text_col]
    # LEFT join: a NULL text splits to zero line rows, so the doc never
    # reaches `rebuilt` — it must still pass through (NULL text, zero
    # counts), not vanish from a hygiene pass
    return (
        df.select(*others)
        .join(rebuilt, F.col(id_col) == F.col("_ld_id"), "left")
        .select(*others, F.col("_new_text").alias(text_col),
                F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
                F.coalesce("n_removed", F.lit(0)).alias("n_removed"))
    )


def c4_line_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words_per_line: int = 5,
    min_kept_lines: int = 3,
    drop_markers: tuple[str, ...] = ("lorem ipsum", "{"),
) -> DataFrame:
    """The C4 cleaning heuristics (Raffel et al. 2020 §2.2 — the other
    canonical published pre-filter next to :func:`text.gopher_rules`):
    keep only lines that END in terminal punctuation (. ! ? or a
    closing quote) and carry at least ``min_words_per_line`` words;
    drop any line mentioning javascript; drop the whole document when
    a ``drop_markers`` string appears anywhere (C4 used "lorem ipsum"
    and the curly brace as code/placeholder tells) or when fewer than
    ``min_kept_lines`` lines survive.

    One narrow projection — lines are split, filtered, and rejoined
    with array expressions; no explode, no shuffle, no Python. Output
    per input doc: ``n_lines``, ``n_kept``, ``doc_dropped`` (with
    ``drop_reason``), and ``clean_text`` (kept lines rejoined with
    newlines; NULL when dropped). Single-line fixture documents
    exercise the machinery end to end with n_lines=1; the multi-line
    behavior is pinned by unit tests.
    """
    c = F.col(text_col)
    lines = F.split(c, "\n")
    kept = F.filter(
        lines,
        lambda ln: F.trim(ln).rlike(r"""[.!?]["']?\s*$""")
        & (F.size(F.split(F.trim(ln), r"\s+")) >= min_words_per_line)
        & ~F.lower(ln).contains("javascript"))
    n_kept = F.size(kept)
    low = F.lower(c)
    # start from literal False so drop_markers=() cleanly disables the
    # marker rule (F.when(None, ...) would raise at plan-build time)
    marker_hit = F.lit(False)
    for m in drop_markers:
        marker_hit = marker_hit | low.contains(m.lower())
    reason = (F.when(marker_hit, F.lit("marker"))
              .when(n_kept < min_kept_lines, F.lit("too_few_lines")))
    return df.select(
        F.col(id_col),
        F.size(lines).alias("n_lines"),
        n_kept.alias("n_kept"),
        reason.isNotNull().alias("doc_dropped"),
        reason.alias("drop_reason"),
        F.when(reason.isNull(), F.array_join(kept, "\n"))
         .alias("clean_text"),
    )


def filter_funnel(
    df: DataFrame,
    stages: list[tuple[str, Column]],
) -> DataFrame:
    """Per-stage survival report for a quality-filter pipeline — the
    number corpus engineers actually stare at ("which filter kills how
    many documents"): given ordered (name, predicate) stages, one row
    per stage with how many documents entered it, survived it, and the
    survival rate, under CUMULATIVE conjunction (a document reaches
    stage k only by passing stages 1..k-1 — the order filters run in a
    real pipeline, where each stage only sees its predecessors'
    survivors).

    NULL predicates FAIL the stage (fail-closed, the
    check_expectations discipline): a document whose signal could not
    be computed must not sail through a gate that exists to inspect
    that signal.

    Scale shape: the entire funnel is ONE map-side-combined aggregate
    over the corpus (k conditional sums; no shuffle beyond the
    single-row agg), then a k-row stack. Predicates must be row-local
    Column expressions — precompute corpus-level signals (e.g. a
    duplicate count via a window) as columns first, as
    ``q_quality_funnel`` does.

    Output: (stage_idx 1-based, stage, n_in, n_out, n_dropped,
    survival_rate = n_out/n_in, NULL when n_in = 0 via try_divide).
    """
    if not stages:
        raise ValueError("filter_funnel needs at least one stage")
    names = [n for n, _ in stages]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate stage names: {names}")
    # stage names are embedded in a generated stack() expression;
    # restricting them to identifier-ish text closes the quote/
    # backslash escaping hazards of Spark SQL string literals
    # (names are developer-written labels, not data)
    bad = [n for n in names if not re.fullmatch(r"[A-Za-z0-9_. -]+", n)]
    if bad:
        raise ValueError(
            f"stage names must match [A-Za-z0-9_. -]+, got {bad}")
    acc = F.lit(True)
    sums = []
    for i, (_, pred) in enumerate(stages):
        acc = acc & F.coalesce(pred, F.lit(False))
        # coalesce: sum over ZERO rows is NULL — an empty corpus must
        # report 0-count stages, not a NULL funnel
        sums.append(F.coalesce(F.sum(acc.cast("long")), F.lit(0))
                    .alias(f"_s{i}"))
    row = df.agg(F.count(F.lit(1)).alias("_s_in"), *sums)
    triples = ", ".join(
        f"{i + 1}, '{name}', {'_s_in' if i == 0 else f'_s{i - 1}'}, _s{i}"
        for i, name in enumerate(names))
    return (row.selectExpr(
        f"stack({len(names)}, {triples}) "
        f"AS (stage_idx, stage, n_in, n_out)")
        .select("stage_idx", "stage", "n_in", "n_out",
                (F.col("n_in") - F.col("n_out")).alias("n_dropped"),
                F.try_divide(F.col("n_out"), F.col("n_in"))
                .alias("survival_rate")))

"""End-to-end training-data pipeline composition: the operators are
designed to chain — normalize -> scrub -> repetition-filter -> exact
dedup -> split -> mixture-sample -> pack — with every stage a DataFrame
transform (single lazy plan, no driver round-trips between stages)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dump1090_db_stream_spark.operators.cleaning import (
    normalize_text,
    repetition_stats,
    scrub_pii,
)
from dump1090_db_stream_spark.operators.packing import pack_sequences
from dump1090_db_stream_spark.operators.sampling import (
    hash_split,
    mixture_sample,
)
from dump1090_db_stream_spark.operators.text import content_hash


def _drop_repetitive(df, max_top_frac, max_dup_frac=0.9):
    """Keep documents under the repetition thresholds: a semi-join on
    the (small) per-doc repetition_stats relation keeps df's schema."""
    keep = repetition_stats(df).filter(
        (F.col("top_frac") <= max_top_frac)
        & (F.col("dup_frac") <= max_dup_frac)).select("doc_id")
    return df.join(F.broadcast(keep), "doc_id", "left_semi")


def _keep_first_copy(df):
    """Exact dedup: the lowest doc_id per content hash survives."""
    first = (df.groupBy(content_hash(F.col("text")).alias("_h"))
             .agg(F.min("doc_id").alias("doc_id")))
    return df.join(first.select("doc_id"), "doc_id", "left_semi")


@pytest.fixture(scope="module")
def raw_corpus(spark):
    rows = []
    for i in range(200):
        body = f"document number {i} with words alpha beta gamma {i % 7}"
        if i % 10 == 0:                      # PII carriers
            body += f" mail user{i}@spam.org now"
        if i % 50 == 1:                      # exact duplicate pairs
            body = "document number 1 with words alpha beta gamma 1"
        if i % 40 == 2:                      # repetition spam
            body = "buy now " * 30
        rows.append((i, "  " + body.upper() + "\t",
                     f"src{i % 4}"))
    return spark.createDataFrame(rows, ["doc_id", "text", "source"])


def test_full_pipeline_composes_and_is_deterministic(raw_corpus):
    def run(df):
        clean = df.select(
            "doc_id", "source",
            scrub_pii(normalize_text(F.col("text"))).alias("text"))
        kept = _drop_repetitive(clean, max_top_frac=0.3)
        split = hash_split(_keep_first_copy(kept), "doc_id")
        train = split.filter(F.col("split") == "train")
        mixed = mixture_sample(
            train, {"src0": 1.0, "src1": 0.5}, default_weight=0.25,
            seed=11)
        weighted = mixed.withColumn(
            "n_tokens", F.size(F.split("text", " ")))
        return pack_sequences(weighted, token_budget=64, n_buckets=4)

    out1 = sorted(map(tuple, run(raw_corpus).collect()))
    out2 = sorted(map(tuple, run(raw_corpus.repartition(11)).collect()))
    assert out1 == out2                     # layout-invariant end to end
    assert len(out1) > 30                   # pipeline keeps a real corpus

    packed = run(raw_corpus)
    docs = packed.count()
    # PII never survives the pipeline
    txt = (raw_corpus.select(
        "doc_id", scrub_pii(normalize_text(F.col("text"))).alias("t")))
    assert txt.filter(F.col("t").rlike("@")).count() == 0
    # spam docs are gone before packing
    spam_ids = {i for i in range(200) if i % 40 == 2}
    surviving = {r["doc_id"] for r in packed.collect()}
    assert not (spam_ids & surviving)
    # duplicates collapsed to one canonical id
    dup_ids = {i for i in range(200) if i % 50 == 1}
    assert len(dup_ids & surviving) <= 1
    assert docs == len(surviving)


def test_full_pipeline_single_job_plan(raw_corpus):
    # the chained pipeline stays one lazy plan: no collect/driver hop
    # between stages, and the only wide stages are the documented ones
    # (repetition agg, dedup groupBy, packing window)
    clean = raw_corpus.select(
        "doc_id", "source",
        scrub_pii(normalize_text(F.col("text"))).alias("text"))
    kept = _drop_repetitive(clean, max_top_frac=0.3)
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan    # zero Python in the chain

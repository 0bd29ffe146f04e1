"""Dataset-version diffing: what changed between two corpus snapshots.

Training-data pipelines re-crawl and re-filter; before retraining you
need to know what actually changed. ``corpus_diff`` classifies every id
across two snapshots as added / removed / changed / unchanged by
comparing content digests — a full-outer join on id with md5 compare,
so the shuffle carries (id, 32-byte digest), never document bodies
(same discipline as dedup.exact_dup_groups).

At 100 TB both sides prune to two columns at the scan, and the join is
a plain shuffled hash join on the id — or shuffle-FREE when both
snapshots are stored bucketed by id (``DataFrameWriter.bucketBy`` +
``saveAsTable``), which is how successive corpus versions should be
laid out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dump1090_db_stream_spark.operators.text import content_hash


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-id change classification between two snapshots.

    Output: (id, status, old_md5, new_md5) with status in
    {'added', 'removed', 'changed', 'unchanged'}.
    """
    o = old.select(F.col(id_col).alias("id"),
                   content_hash(F.col(text_col)).alias("old_md5"))
    n = new.select(F.col(id_col).alias("id"),
                   content_hash(F.col(text_col)).alias("new_md5"))
    j = o.join(n, "id", "full_outer")
    status = (
        F.when(F.col("old_md5").isNull(), F.lit("added"))
        .when(F.col("new_md5").isNull(), F.lit("removed"))
        .when(F.col("old_md5") == F.col("new_md5"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select(F.col("id").alias(id_col), status.alias("status"),
                    "old_md5", "new_md5")


def merge_upsert(
    target: DataFrame,
    changes: DataFrame,
    id_col: str = "doc_id",
    tombstone_col: str = "deleted",
) -> DataFrame:
    """MERGE semantics over snapshots: next = target ⊕ changes.

    The change set carries full rows plus a boolean ``tombstone_col``:

    - change row, tombstone false, id in target      -> UPDATE (replace)
    - change row, tombstone false, id not in target  -> INSERT
    - change row, tombstone true                     -> DELETE
    - target row with no change row                  -> carried over

    One full-outer join on the id — the Delta/Iceberg MERGE INTO
    statement re-expressed as a pure snapshot transform (copy-on-write):
    write the result as the next version and the diff operator above
    audits it. Change sets are usually tiny next to the corpus; the
    join broadcasts them when Spark's size estimate allows, and both
    sides prune to scanned columns only. With both snapshots stored
    bucketed by id the join is shuffle-free — the same layout contract
    as corpus_diff.

    Duplicate ids in ``changes`` are a caller error (nondeterministic
    MERGE in every engine); ambiguity is rejected rather than resolved.
    """
    from pyspark.sql import Window

    data_cols = [c for c in changes.columns if c != tombstone_col]
    if set(data_cols) != set(target.columns):
        raise ValueError(
            f"changes columns {sorted(data_cols)} must match target "
            f"columns {sorted(target.columns)} plus '{tombstone_col}'")
    # lazy dup guard: evaluation (not plan build) fails on ambiguous
    # change sets; one window pass over the small change relation
    dup = F.count(F.lit(1)).over(Window.partitionBy(id_col))
    changes = changes.withColumn(
        id_col,
        F.when(dup > 1, F.raise_error(F.lit(
            f"merge_upsert: duplicate {id_col} in change set")))
        .otherwise(F.col(id_col)))
    t = target.select([F.col(c).alias(f"_t_{c}") for c in target.columns])
    c = changes.select([F.col(x).alias(f"_c_{x}") for x in changes.columns])
    j = t.join(c, t[f"_t_{id_col}"] == c[f"_c_{id_col}"], "full_outer")
    has_change = F.col(f"_c_{id_col}").isNotNull()
    keep = ~has_change | ~F.col(f"_c_{tombstone_col}")
    picked = [
        F.when(has_change, F.col(f"_c_{x}")).otherwise(F.col(f"_t_{x}"))
         .alias(x)
        for x in target.columns
    ]
    return j.filter(keep).select(*picked)

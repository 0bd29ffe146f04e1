"""Dataset-version diff (operators.versioning) and small-files
compaction (sinks.writers.compact_parquet)."""

from __future__ import annotations

from pyspark.sql import functions as F

from dump1090_db_stream_spark.operators.versioning import corpus_diff


def _snap(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_corpus_diff_classifies_all_states(spark):
    old = _snap(spark, [(1, "a"), (2, "b"), (3, "c"), (4, "d")])
    new = _snap(spark, [(2, "b"), (3, "c2"), (4, "d"), (9, "z")])
    got = {r["doc_id"]: r["status"]
           for r in corpus_diff(old, new).collect()}
    assert got == {1: "removed", 2: "unchanged", 3: "changed",
                   4: "unchanged", 9: "added"}


def test_corpus_diff_shuffles_digests_not_bodies(spark):
    old = _snap(spark, [(i, "x" * 1000) for i in range(50)])
    new = _snap(spark, [(i, "x" * 1000) for i in range(50)])
    plan = (corpus_diff(old, new)
            ._jdf.queryExecution().executedPlan().toString())
    # the projection to (id, md5) happens BELOW the join exchange:
    # no 'text' column crosses the shuffle
    for _j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"):
        if _j in plan:
            post_join = plan.split(_j)[0]
            break
    else:
        raise AssertionError("no join node in plan")
    assert "old_md5" in plan and "new_md5" in plan
    assert "text" not in post_join.split("Exchange")[0]


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    import glob

    from dump1090_db_stream_spark.sinks.writers import compact_parquet

    src = str(tmp_path / "many")
    (spark.range(20000).select(
        F.col("id"), (F.col("id") % 97).alias("k"))
     .repartition(40).write.parquet(src))
    assert len(glob.glob(src + "/*.parquet")) == 40
    dst = str(tmp_path / "compact")
    n = compact_parquet(spark, src, dst, target_file_mb=512,
                        sort_cols=["id"])
    files = glob.glob(dst + "/*.parquet")
    assert n == 1 and len(files) == 1           # tiny data -> one file
    assert spark.read.parquet(dst).count() == 20000
    # sorted rewrite -> tight id range per file (prunable footers)
    import pyarrow.parquet as pq
    md = pq.ParquetFile(files[0]).metadata
    col0 = md.row_group(0).column(0)
    assert col0.statistics.has_min_max


def test_jsonl_shards_roundtrip_and_determinism(spark, tmp_path):
    """JSONL export: round-trips exactly, and shard contents are
    deterministic across re-exports."""
    import glob

    from dump1090_db_stream_spark.sinks.writers import write_jsonl_shards
    from dump1090_db_stream_spark.sources.tables import load_table

    docs = load_table(
        spark, "/root/testdata/sf0.001", "documents"
    ).select("doc_id", "text", "lang")
    p1, p2 = str(tmp_path / "e1"), str(tmp_path / "e2")
    write_jsonl_shards(docs, p1, shard_by="doc_id", n_shards=4)
    back = spark.read.json(p1)
    assert sorted(map(tuple, back.select("doc_id", "text", "lang").collect())) == \
        sorted(map(tuple, docs.collect()))

    # determinism: re-export produces byte-identical shard contents
    write_jsonl_shards(docs, p2, shard_by="doc_id", n_shards=4)
    c1 = sorted(open(f).read() for f in glob.glob(f"{p1}/part-*"))
    c2 = sorted(open(f).read() for f in glob.glob(f"{p2}/part-*"))
    assert c1 == c2 and len(c1) > 0


def test_jsonl_partition_dirs_manifest_audits_real_bytes(spark, tmp_path):
    """r13 (capstone export): partition_dirs=True lays one _s=<k>/
    directory per shard; jsonl_shard_manifest reports (shard,
    n_records, n_bytes) from the actual files, and those numbers equal
    an independent recomputation of the expected lines (portable-hash
    routing + serialized length + newline) — the contract the
    capstone_export oracle replays in DuckDB. Re-export is
    byte-identical per shard directory."""
    import glob

    from pyspark.sql import functions as F

    from dump1090_db_stream_spark.operators.sampling import portable_hash
    from dump1090_db_stream_spark.sinks.writers import (
        jsonl_shard_manifest,
        write_jsonl_shards,
    )
    from dump1090_db_stream_spark.sources.tables import load_table

    docs = load_table(
        spark, "/root/testdata/sf0.001", "documents"
    ).select("doc_id", "source", "n_chars")
    p1, p2 = str(tmp_path / "d1"), str(tmp_path / "d2")
    write_jsonl_shards(docs, p1, shard_by="doc_id", n_shards=4,
                       partition_dirs=True)
    got = jsonl_shard_manifest(p1)
    want = {
        (r["s"], r["n"], r["b"]) for r in docs.select(
            F.pmod(portable_hash("doc_id"), F.lit(4)).alias("s"),
            F.octet_length(F.to_json(F.struct(
                "doc_id", "source", "n_chars"))).alias("len"))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("n"),
             (F.sum("len") + F.count(F.lit(1))).alias("b"))
        .collect()}
    assert set(got) == want and len(got) == 4

    write_jsonl_shards(docs, p2, shard_by="doc_id", n_shards=4,
                       partition_dirs=True)
    for shard_dir in sorted(glob.glob(f"{p1}/_s=*")):
        twin = f"{p2}/{shard_dir.rsplit('/', 1)[1]}"
        b1 = b"".join(open(f, "rb").read() for f in
                      sorted(glob.glob(f"{shard_dir}/part-*")))
        b2 = b"".join(open(f, "rb").read() for f in
                      sorted(glob.glob(f"{twin}/part-*")))
        assert b1 == b2 and b1


def test_merge_upsert_full_semantics(spark):
    from dump1090_db_stream_spark.operators.versioning import merge_upsert

    target = spark.createDataFrame(
        [(1, "one"), (2, "two"), (3, "three")], ["doc_id", "text"])
    changes = spark.createDataFrame(
        [(2, "TWO", False),    # update
         (4, "four", False),   # insert
         (3, "x", True)],      # delete
        ["doc_id", "text", "deleted"])
    got = {r["doc_id"]: r["text"]
           for r in merge_upsert(target, changes).collect()}
    assert got == {1: "one", 2: "TWO", 4: "four"}


def test_merge_upsert_rejects_schema_mismatch(spark):
    import pytest

    from dump1090_db_stream_spark.operators.versioning import merge_upsert

    target = spark.createDataFrame([(1, "a")], ["doc_id", "text"])
    bad = spark.createDataFrame([(1, False)], ["doc_id", "deleted"])
    with pytest.raises(ValueError, match="must match target"):
        merge_upsert(target, bad)


def test_merge_upsert_rejects_duplicate_change_ids(spark):
    import pytest

    from dump1090_db_stream_spark.operators.versioning import merge_upsert

    target = spark.createDataFrame([(1, "a")], ["doc_id", "text"])
    dup = spark.createDataFrame(
        [(1, "b", False), (1, "c", False)], ["doc_id", "text", "deleted"])
    with pytest.raises(Exception, match="duplicate doc_id"):
        merge_upsert(target, dup).collect()


def test_merge_then_diff_audits_the_merge(spark):
    from dump1090_db_stream_spark.operators.versioning import (
        corpus_diff, merge_upsert,
    )

    target = spark.createDataFrame(
        [(1, "one"), (2, "two"), (3, "three")], ["doc_id", "text"])
    changes = spark.createDataFrame(
        [(2, "TWO", False), (4, "four", False), (3, "x", True)],
        ["doc_id", "text", "deleted"])
    merged = merge_upsert(target, changes)
    audit = {r["status"]: r["doc_id"]
             for r in corpus_diff(target, merged).collect()
             if r["status"] != "unchanged"}
    assert audit == {"changed": 2, "added": 4, "removed": 3}

"""Streaming pipeline tests: file-source ingest end-to-end into the
date-partitioned parquet store (SURVEY.md §2.9 semantics)."""

from __future__ import annotations

import pytest

from dump1090_db_stream_spark.sinks.writers import (
    read_parquet_store,
    write_parquet_store,
)
from dump1090_db_stream_spark.functions.parser import parse_sbs1
from dump1090_db_stream_spark.streaming.pipeline import (
    file_lines,
    run_with_bounded_retries,
    start_parquet_ingest,
)
from tests.fixtures import N_MSG_LINES, SAMPLE_LINES


@pytest.fixture()
def feed_dir(tmp_path):
    d = tmp_path / "feed"
    d.mkdir()
    (d / "batch1.txt").write_text("\n".join(SAMPLE_LINES) + "\n")
    return str(d)


def test_file_stream_ingest_end_to_end(spark, tmp_path, feed_dir):
    out = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    stream = parse_sbs1(file_lines(spark, feed_dir))
    assert stream.isStreaming
    q = start_parquet_ingest(stream, out, ckpt, available_now=True)
    q.awaitTermination(120)
    got = read_parquet_store(spark, out)
    assert got.count() == N_MSG_LINES
    assert set(got.columns) >= {"hex_ident", "parsed_time", "callsign"}
    # restart with no new data: checkpoint makes it a no-op (T-6 resume)
    q2 = start_parquet_ingest(parse_sbs1(file_lines(spark, feed_dir)),
                              out, ckpt, available_now=True)
    q2.awaitTermination(120)
    assert read_parquet_store(spark, out).count() == N_MSG_LINES


def test_streaming_stores_repeats_within_a_batch(spark, tmp_path, feed_dir):
    """T-5: the stream keeps every accepted line. A second copy of the
    feed in the same micro-batch shares the first copy's parsed_time
    stamp, hence its PK; it is stored as received, not collapsed."""
    import shutil

    shutil.copy(f"{feed_dir}/batch1.txt", f"{feed_dir}/batch2.txt")
    out = str(tmp_path / "store2")
    ckpt = str(tmp_path / "ckpt2")
    q = start_parquet_ingest(parse_sbs1(file_lines(spark, feed_dir)),
                             out, ckpt, available_now=True)
    q.awaitTermination(120)
    got = read_parquet_store(spark, out)
    assert got.count() == 2 * N_MSG_LINES
    assert got.select("parsed_time").distinct().count() == 1


def test_batch_store_roundtrip_and_partitioning(spark, tmp_path):
    from pyspark.sql import functions as F

    lines = spark.createDataFrame([(line,) for line in SAMPLE_LINES], ["value"])
    msgs = parse_sbs1(lines, parsed_time=F.lit("2020-01-02 03:04:05").cast("timestamp"))
    path = str(tmp_path / "batchstore")
    write_parquet_store(msgs, path)
    import os

    assert any(p.startswith("parsed_date=") for p in os.listdir(path))
    got = read_parquet_store(spark, path)
    assert got.count() == N_MSG_LINES
    assert "parsed_date" not in got.columns


def test_bounded_retries_gives_up(spark):
    calls = []

    def failing_start():
        calls.append(1)
        raise RuntimeError("connect refused")

    with pytest.raises(RuntimeError):
        run_with_bounded_retries(failing_start, attempt_limit=3,
                                 attempt_delay=0.01)
    assert len(calls) == 3


def test_tumbling_window_counts_append_semantics(spark, tmp_path):
    """tumbling_counts (T-8/T-9): append mode emits exactly the windows
    the final watermark closed, each exactly once, with exact decimal
    sums — replayed over two ordered micro-batch files."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from dump1090_db_stream_spark.streaming.pipeline import tumbling_counts

    base = 1_700_000_000_000_000  # us epoch, on an hour? not needed
    rows = [
        # hour bucket 0: two keys
        (base, "a", 1.5), (base + 60_000_000, "a", 2.5),
        (base + 120_000_000, "b", 10.0),
        # hour bucket +1h
        (base + 3_600_000_000, "a", 4.0),
        # far ahead: advances the watermark past the first two buckets
        (base + 4 * 3_600_000_000, "a", 8.0),
    ]
    d = tmp_path / "replay"
    d.mkdir()
    sch = pa.schema([("ts", pa.timestamp("us")), ("event_type", pa.string()),
                     ("value", pa.float64())])
    import os
    import time as _time
    t0 = _time.time()
    for i, chunk in enumerate([rows[:3], rows[3:]]):
        p = str(d / f"b{i}.parquet")
        pq.write_table(pa.table(
            {"ts": [r[0] for r in chunk], "event_type": [r[1] for r in chunk],
             "value": [r[2] for r in chunk]}, schema=sch), p)
        os.utime(p, (t0 + i, t0 + i))
    schema = T.StructType([T.StructField("ts", T.TimestampType()),
                           T.StructField("event_type", T.StringType()),
                           T.StructField("value", T.DoubleType())])
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(d)))
    out = tumbling_counts(stream, "ts", "event_type", window="1 hour",
                          watermark="30 minutes", value_col="value")
    q = (out.writeStream.format("memory").queryName("tumbling_test_sink")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r["event_type"], r["window_start"].isoformat()):
           (r["n_events"], r["value_sum"])
           for r in spark.table("tumbling_test_sink").collect()}
    # watermark ends at base+4h-30min: buckets 0 and +1h are closed and
    # emitted; the +4h bucket is still open -> withheld
    assert len(got) == 3
    assert sorted(v[0] for v in got.values()) == [1, 1, 2]
    sums = {(k[0], v[0]): v[1] for k, v in got.items()}
    assert sums[("a", 2)] == 4.0 and sums[("b", 1)] == 10.0
    assert sums[("a", 1)] == 4.0


def test_hygiene_ops_run_in_structured_streaming(spark, tmp_path):
    """The corpus-hygiene projections (normalize, scrub, counts,
    weighted keep) are stateless Column expressions, so the SAME
    operator functions must run unmodified inside a streaming query —
    batch/stream parity with zero per-mode code."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from dump1090_db_stream_spark.operators.cleaning import (
        count_emails,
        normalize_text,
        scrub_pii,
    )
    from dump1090_db_stream_spark.operators.sampling import weighted_sample

    rows = [(i, f"  DOC {i}\twith mail u{i}@x.io here", 0.5)
            for i in range(40)]
    d = tmp_path / "docs_stream"
    d.mkdir()
    sch = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                     ("keep_p", pa.float64())])
    pq.write_table(pa.table(
        {"doc_id": [r[0] for r in rows], "text": [r[1] for r in rows],
         "keep_p": [r[2] for r in rows]}, schema=sch),
        str(d / "b0.parquet"))
    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("text", T.StringType()),
                           T.StructField("keep_p", T.DoubleType())])
    stream = spark.readStream.schema(schema).parquet(str(d))
    cleaned = weighted_sample(
        stream.select(
            "doc_id", "keep_p",
            scrub_pii(normalize_text(F.col("text"))).alias("text"),
            count_emails(F.col("text")).alias("n_emails")),
        "keep_p", "doc_id", seed=4)
    q = (cleaned.writeStream.format("memory").queryName("hygiene_sink")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = spark.table("hygiene_sink").collect()
    assert 0 < len(got) < 40                      # weighted keep applied
    for r in got:
        assert r["n_emails"] == 1                 # counted pre-scrub
        assert "@" not in r["text"]               # scrubbed
        assert r["text"].startswith("doc ")       # normalized
    # batch/stream parity: identical rows from the same input as a batch
    batch = weighted_sample(
        spark.read.schema(schema).parquet(str(d)).select(
            "doc_id", "keep_p",
            scrub_pii(normalize_text(F.col("text"))).alias("text"),
            count_emails(F.col("text")).alias("n_emails")),
        "keep_p", "doc_id", seed=4).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, batch))


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """stream_interval_join as an actual stream-stream join with state:
    two file streams (views / clicks split across micro-batch files),
    availableNow, append sink — the finalized output must equal the
    batch-mode join of the same inputs."""
    import datetime as dt

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from dump1090_db_stream_spark.streaming.pipeline import (
        stream_interval_join,
    )

    t0 = dt.datetime(2024, 1, 1)
    views = [(u, t0 + dt.timedelta(minutes=m), 1000 + u * 100 + m)
             for u in (1, 2) for m in (0, 30, 60)]
    clicks = [(1, t0 + dt.timedelta(minutes=4), 1), # attributed to v@0
              (1, t0 + dt.timedelta(minutes=29), 2), # also v@0 (<=30m)
              (1, t0 + dt.timedelta(minutes=95), 3), # none (>30m after 60)
              (2, t0 + dt.timedelta(minutes=31), 4), # v@30 only
              (3, t0 + dt.timedelta(minutes=5), 5)]  # no view for user 3
    vschema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("vts", T.TimestampType()),
        T.StructField("vid", T.LongType())])
    cschema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("cts", T.TimestampType()),
        T.StructField("cid", T.LongType())])
    import pyarrow as pa
    import pyarrow.parquet as pq

    vdir, cdir = tmp_path / "views", tmp_path / "clicks"
    vdir.mkdir(); cdir.mkdir()
    vb, cb = spark.createDataFrame(views, vschema), \
        spark.createDataFrame(clicks, cschema)

    def _write(rows, cols, path):
        pq.write_table(
            pa.table({c: [r[i] for r in rows] for i, c in enumerate(cols)},
                     schema=pa.schema([(cols[0], pa.int64()),
                                       (cols[1], pa.timestamp("us")),
                                       (cols[2], pa.int64())])),
            str(path))

    # two files per side so the join spans micro-batches
    _write([r for r in views if r[2] % 2 == 0],
           ["user_id", "vts", "vid"], vdir / "a.parquet")
    _write([r for r in views if r[2] % 2 == 1],
           ["user_id", "vts", "vid"], vdir / "b.parquet")
    _write([r for r in clicks if r[2] <= 2],
           ["user_id", "cts", "cid"], cdir / "a.parquet")
    _write([r for r in clicks if r[2] > 2],
           ["user_id", "cts", "cid"], cdir / "b.parquet")

    vs = spark.readStream.schema(vschema).parquet(str(vdir))
    cs = spark.readStream.schema(cschema).parquet(str(cdir))
    joined = stream_interval_join(vs, cs, "user_id", "vts", "cts",
                                  max_delay="30 minutes",
                                  watermark="2 hours")
    out = tmp_path / "out"
    q = (joined.writeStream.format("parquet")
         .option("path", str(out))
         .option("checkpointLocation", str(tmp_path / "ck"))
         .outputMode("append")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination(120)

    batch = stream_interval_join(vb, cb, "user_id", "vts", "cts",
                                 max_delay="30 minutes",
                                 watermark="2 hours")
    expect = {(r["user_id"], r["l_vid"], r["r_cid"])
              for r in batch.collect()}
    got = {(r["user_id"], r["l_vid"], r["r_cid"])
           for r in spark.read.parquet(str(out)).collect()}
    assert got == expect
    # the attribution facts themselves
    assert (1, 1100, 1) in got and (1, 1100, 2) in got
    assert (2, 1230, 4) in got
    assert all(c != 3 and c != 5 for (_, _, c) in got)


def test_checkpoint_resume_is_exactly_once(spark, tmp_path):
    """T-5/T-6: a second availableNow run on the SAME checkpoint must
    ingest only files discovered since the first run — nothing from the
    first batch is re-read (source offsets) and nothing is double-
    written (file-sink commit log), even though the old input files are
    still present in the source directory."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    sch = pa.schema([("k", pa.int64())])
    schema = T.StructType([T.StructField("k", T.LongType())])
    src, out, ck = tmp_path / "src", tmp_path / "out", tmp_path / "ck"
    src.mkdir()

    def write(name, lo, hi):
        pq.write_table(pa.table({"k": list(range(lo, hi))}, schema=sch),
                       str(src / name))

    def drain():
        q = (spark.readStream.schema(schema).parquet(str(src))
             .writeStream.format("parquet")
             .option("path", str(out))
             .option("checkpointLocation", str(ck))
             .outputMode("append").trigger(availableNow=True).start())
        assert q.awaitTermination(120)  # False = still running: timeout

    write("a.parquet", 0, 100)
    drain()
    assert spark.read.parquet(str(out)).count() == 100

    write("b.parquet", 100, 150)
    drain()  # resume: must pick up ONLY b.parquet
    got = spark.read.parquet(str(out))
    assert got.count() == 150
    # every key exactly once — the first run's rows were not re-ingested
    assert got.groupBy("k").count().filter("count > 1").count() == 0

"""Stateful streaming operator tests (streaming.stateful.session_flights).

Determinism strategy: event-time timeouts + a file source capped at one
file per micro-batch, so the watermark advances batch-by-batch exactly
as authored — no wall-clock sleeps, same output on every run.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F
from pyspark.sql import types as T

from dump1090_db_stream_spark.streaming.stateful import session_flights

SCHEMA = T.StructType([
    T.StructField("hex_ident", T.StringType()),
    T.StructField("callsign", T.StringType()),
    T.StructField("parsed_time", T.TimestampType()),
])


def _write_batch(d: str, name: str, rows: list[str], mtime: float) -> None:
    p = os.path.join(d, name)
    with open(p, "w") as f:
        f.write("\n".join(rows) + "\n")
    os.utime(p, (mtime, mtime))


def test_session_flights_closes_on_watermark(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    t0 = time.time()
    # batch 1: aircraft A active 12:00-12:03 with a callsign on one row
    _write_batch(src, "b1.csv", [
        "A1B2C3,,2024-01-01 12:00:00",
        "A1B2C3,FDX26,2024-01-01 12:03:00",
    ], t0)
    # batch 2: B at 13:00 -> watermark moves to 12:03 (from batch 1)
    _write_batch(src, "b2.csv", ["D4E5F6,,2024-01-01 13:00:00"], t0 + 1)
    # batch 3: C at 14:00 -> watermark 13:00 > A's 12:13 close -> A emits
    _write_batch(src, "b3.csv", ["0A0B0C,,2024-01-01 14:00:00"], t0 + 2)

    lines = (spark.readStream.schema(SCHEMA)
             .option("maxFilesPerTrigger", 1).csv(src))
    flights = session_flights(
        lines, key_col="hex_ident", ts_col="parsed_time",
        gap_seconds=600, label_col="callsign")
    q = (flights.writeStream.format("memory").queryName("closed_flights")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)

    rows = spark.sql(
        "SELECT * FROM closed_flights ORDER BY hex_ident").collect()
    # final watermark is 14:00 (availableNow runs a no-data flush batch):
    # A (closes 12:13) and B (13:10) emit; C (14:10) stays open in state
    assert [r.hex_ident for r in rows] == ["A1B2C3", "D4E5F6"]
    a = rows[0]
    assert a.callsign == "FDX26"
    assert a.n_messages == 2
    assert a.first_seen.strftime("%H:%M") == "12:00"
    assert a.last_seen.strftime("%H:%M") == "12:03"


def test_session_flights_merges_across_batches(spark, tmp_path):
    src = str(tmp_path / "src2")
    os.makedirs(src)
    t0 = time.time()
    # A spans two micro-batches within the gap -> ONE session, merged
    _write_batch(src, "b1.csv", ["AAAAAA,,2024-01-01 12:00:00"], t0)
    _write_batch(src, "b2.csv", ["AAAAAA,RJA1118,2024-01-01 12:05:00"], t0 + 1)
    _write_batch(src, "b3.csv", ["BBBBBB,,2024-01-01 15:00:00"], t0 + 2)
    _write_batch(src, "b4.csv", ["CCCCCC,,2024-01-01 16:00:00"], t0 + 3)

    lines = (spark.readStream.schema(SCHEMA)
             .option("maxFilesPerTrigger", 1).csv(src))
    flights = session_flights(
        lines, key_col="hex_ident", ts_col="parsed_time",
        gap_seconds=600, label_col="callsign")
    q = (flights.writeStream.format("memory").queryName("merged_flights")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)

    rows = spark.sql("SELECT * FROM merged_flights").collect()
    by_key = {r.hex_ident: r for r in rows}
    assert "AAAAAA" in by_key
    a = by_key["AAAAAA"]
    assert (a.n_messages, a.callsign) == (2, "RJA1118")
    assert (a.first_seen.minute, a.last_seen.minute) == (0, 5)
    # state bounded: closed keys leave the store -> no duplicate emission
    assert len([r for r in rows if r.hex_ident == "AAAAAA"]) == 1


def test_session_flights_splits_gaps_within_one_batch(spark, tmp_path):
    src = str(tmp_path / "src3")
    os.makedirs(src)
    t0 = time.time()
    # one micro-batch holds TWO sessions for A (gap 10 min, 3h apart):
    # batch-boundary independence — the first closes immediately on the
    # later-by-more-than-gap arrival, no watermark wait needed
    _write_batch(src, "b1.csv", [
        "AAAAAA,ONE,2024-01-01 08:00:00",
        "AAAAAA,,2024-01-01 08:04:00",
        "AAAAAA,TWO,2024-01-01 11:00:00",
    ], t0)

    lines = (spark.readStream.schema(SCHEMA)
             .option("maxFilesPerTrigger", 1).csv(src))
    flights = session_flights(
        lines, key_col="hex_ident", ts_col="parsed_time",
        gap_seconds=600, label_col="callsign")
    q = (flights.writeStream.format("memory").queryName("split_flights")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)

    rows = spark.sql(
        "SELECT * FROM split_flights ORDER BY first_seen").collect()
    # session one closed by arrival; session two still open (watermark
    # stops at 11:00 < 11:10)
    assert len(rows) == 1
    assert (rows[0].callsign, rows[0].n_messages) == ("ONE", 2)
    assert rows[0].first_seen.hour == 8 and rows[0].last_seen.minute == 4


# --- ph_monitor: the per-key incremental Page-Hinkley deployment ------------

def _ph_rows(lo, hi, shift, key="m"):
    """3 readings/hour; the +shift tail plants the upward change."""
    return [(key, 1700000000 + i * 1200,
             10.0 + ((i * 37) % 11 - 5) * 0.05 + shift)
            for i in range(lo, hi)]


def _write_ph_file(d, name, rows, mtime):
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table({
        "k": [r[0] for r in rows],
        "ts": pa.array([r[1] * 1_000_000 for r in rows],
                       type=pa.timestamp("us")),
        "x": [r[2] for r in rows],
    })
    p = os.path.join(d, name)
    pq.write_table(tbl, p)
    os.utime(p, (mtime, mtime))


def _ph_batch_expect(spark, rows, upto_bucket):
    """The oracle: page_hinkley_drift over the rows of buckets
    <= upto_bucket — what the stream must have emitted when it
    finalized that bucket."""
    from dump1090_db_stream_spark.operators.drift import (
        page_hinkley_drift,
    )

    sub = [r for r in rows if r[1] // 3600 <= upto_bucket]
    df = spark.createDataFrame(sub, ["k", "e", "x"]).select(
        "k", F.col("e").cast("timestamp").alias("ts"), "x")
    return {r["k"]: r for r in page_hinkley_drift(
        df, "x", keys=["k"], delta=0.05, lam=1.0).collect()}

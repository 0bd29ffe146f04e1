"""Structured Streaming ingest pipeline.

Re-expresses the reference's `while True` recv loop
(dump1090-postgres.py:204-239) as: readStream (socket or file) ->
parse_sbs1 -> writeStream. Semantics preserved (SURVEY.md §2.9):

- T-1 micro-batch loop       -> default trigger (back-to-back batches)
- T-2 append-only            -> outputMode("append")
- T-3 processing-time stamp  -> current_timestamp() per micro-batch
  (the faithful analog of the per-recv-buffer stamp :206-207)
- T-4 malformed/bad-value    -> width filter + try_cast (parser F-4/F-8)
- T-5 delivery               -> checkpoint offset log + the file sink's
  ``_spark_metadata`` manifest: exactly-once into the parquet store, with
  no stream-side dedup (a micro-batch is one stage, stateless). Every
  accepted line is stored; the PK is a sink concern (plain JDBC batches
  dedup on it, ``--upsert`` uses ON CONFLICT DO NOTHING). These logs are
  written through Spark's FileSystem-based checkpoint manager, which
  ``get_spark`` selects (session.py says why)
- T-6 reconnect/resume       -> restart from checkpoint; bounded-retry
  runner below mirrors --connect-attempt-limit/-delay semantics
  (:181-198, :220-237)
- T-7 graceful shutdown      -> query.stop()
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from dump1090_db_stream_spark.sinks.writers import (
    DATE_PARTITION_COL,
    with_date_partition,
)


def socket_lines(spark: SparkSession, host: str, port: int) -> DataFrame:
    """S-1: the dump1090 TCP SBS-1 feed as an unbounded line stream.
    Dev-grade source (not replayable), matching the reference's own
    non-durable socket handling (dump1090-postgres.py:216-218)."""
    return (spark.readStream.format("socket")
            .option("host", host).option("port", port).load())


def file_lines(spark: SparkSession, path: str) -> DataFrame:
    """Replayable production alternative: a directory of raw SBS-1 log
    files; each discovered file becomes micro-batch input."""
    return spark.readStream.text(path)


def start_parquet_ingest(
    messages: DataFrame,
    path: str,
    checkpoint: str,
    available_now: bool = False,
) -> StreamingQuery:
    """writeStream into the date-partitioned parquet store (append, T-2).

    File-sink + checkpoint gives exactly-once for the file store; the
    partition column mirrors the batch writer so batch and streaming
    writes share one layout."""
    writer = (with_date_partition(messages)
              .writeStream.format("parquet")
              .option("path", path)
              .option("checkpointLocation", checkpoint)
              .partitionBy(DATE_PARTITION_COL)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_foreach_batch(
    messages: DataFrame,
    checkpoint: str,
    batch_fn: Callable[[DataFrame, int], None],
    available_now: bool = False,
) -> StreamingQuery:
    """foreachBatch sink for destinations without native streaming
    support (e.g. JDBC): batch_fn(df, epoch_id) runs per micro-batch —
    the analog of commit_data per recv buffer, minus the first-line-only
    bug (S-7)."""
    writer = (messages.writeStream
              .foreachBatch(batch_fn)
              .option("checkpointLocation", checkpoint)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def tumbling_counts(
    stream: DataFrame,
    ts_col: str,
    key_col: str,
    window: str = "1 hour",
    watermark: str = "30 minutes",
    value_col: str | None = None,
) -> DataFrame:
    """Watermarked tumbling-window aggregation (T-8/T-9) — the streaming
    re-expression of the callsigns view's daily bucketing (A-2,
    create_schema.sql:88,:93) generalized to any window width.

    Event-time windows + watermark: state per open window only; in append
    mode a window row is emitted exactly once, when the watermark passes
    its end — so output is finalized, replay-safe, and independent of
    micro-batch boundaries. At 100 TB ingest rates state size is
    O(open windows x keys in them), bounded by the watermark horizon,
    never by history.

    Sums run in decimal so results are bit-identical regardless of
    per-partition accumulation order (floats would make the answer depend
    on the physical plan), then round to a double."""
    aggs = [F.count(F.lit(1)).alias("n_events")]
    if value_col is not None:
        dec = F.sum(F.col(value_col).cast("decimal(28,8)"))
        aggs.append(F.round(dec.cast("double"), 6).alias("value_sum"))
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col(key_col))
        .agg(*aggs)
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key_col,
            "n_events",
            *(["value_sum"] if value_col is not None else []),
        )
    )


def run_with_bounded_retries(
    start_query: Callable[[], None],
    attempt_limit: int = 10,
    attempt_delay: float = 5.0,
    on_attempt: Callable[[int, Exception], None] | None = None,
) -> None:
    """S-3/T-6: bounded-retry supervision — N restart attempts with fixed
    delay, then give up — mirroring --connect-attempt-limit/-delay
    (dump1090-postgres.py:181-198, :220-237, defaults Dockerfile:17-18).
    Each restart resumes from the checkpoint.

    ``start_query`` blocks until its streams end and raises on failure
    (the CLI's multi-sink ensemble supervisor).
    """
    attempts = 0
    while True:
        try:
            start_query()
            return
        except Exception as e:  # noqa: BLE001 — any stream failure retries
            attempts += 1
            if on_attempt:
                on_attempt(attempts, e)
            if attempts >= attempt_limit:
                raise
            time.sleep(attempt_delay)


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    left_ts: str,
    right_ts: str,
    max_delay: str = "10 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join: right events within
    [left_ts, left_ts + max_delay] for the same key — the attribution
    primitive (impression -> click; callsign MSG,1 -> position MSG,3
    for the same hex_ident within a few seconds).

    Both sides carry watermarks and the join has a two-sided event-time
    bound, so Spark can expire buffered state: a left row is held at
    most watermark + max_delay past its event time, a right row at most
    watermark. Without the time bound the state store would grow
    unboundedly — Structured Streaming rejects that only for OUTER
    joins, so the bound here is a correctness-of-scale contract, not
    decoration.

    Output columns: key, left columns prefixed ``l_``, right columns
    prefixed ``r_`` (minus the key), delay_sec. Works identically on
    batch DataFrames (the watermark degrades to a no-op), which is how
    the test equates streaming output with the batch join.
    """
    lw = left.withWatermark(left_ts, watermark).alias("l")
    rw = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{key_col}") == F.col(f"r.{key_col}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}"))
        & (F.col(f"r.{right_ts}")
           <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {max_delay}"))
    )
    lcols = [F.col(f"l.{c}").alias(f"l_{c}")
             for c in left.columns if c != key_col]
    rcols = [F.col(f"r.{c}").alias(f"r_{c}")
             for c in right.columns if c != key_col]
    delay = (F.unix_micros(F.col(f"r.{right_ts}").cast("timestamp"))
             - F.unix_micros(F.col(f"l.{left_ts}").cast("timestamp")))
    return (
        lw.join(rw, cond)
        .select(F.col(f"l.{key_col}").alias(key_col), *lcols, *rcols,
                (delay / 1_000_000.0).alias("delay_sec"))
    )

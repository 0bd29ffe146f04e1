"""Custom stateful streaming operators (applyInPandasWithState).

``session_flights`` is the TRUE-STREAMING re-expression of the
reference's flights view (create_schema.sql:116-124): the batch version
reconstructs flights by band-joining positions to callsign sessions
within a ±10-minute window; here each aircraft keeps ONE open session in
keyed state and a closed flight record is emitted once the gap passes
with no new message.

Design decisions (scale + determinism):

- Event-time timeouts, not processing-time: session closure is decided
  by the watermark, so a replay of the same data yields the same flights
  (processing-time timeouts would make output depend on wall clock —
  untestable and non-reproducible).
- Micro-batch-boundary independence: gaps INSIDE a batch split sessions
  too (vectorized numpy diff over the sorted batch), and a session also
  closes the moment a later-by-more-than-gap message arrives — not only
  on watermark timeout. The output is therefore identical however the
  stream is chopped into batches, which is what makes the operator
  oracle-checkable against a batch islands-and-gaps SQL query.
- State per key is O(1): four scalars, not the member rows. A 1M-key
  keyspace holds ~50 MB of state cluster-wide; state-store pressure is
  bounded no matter the message rate.
- Output mode "append": closed sessions only — the natural fit for a
  downstream append-only store (T-2 semantics).

This is the (b) path of the custom-operator ladder — built-in ops can't
express incremental gap-closure emission; session_window (see
operators/sessions.py) covers the batch/windowed-agg shape instead.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

_STATE_SCHEMA = T.StructType([
    T.StructField("first_us", T.LongType()),   # epoch microseconds —
    T.StructField("last_us", T.LongType()),    # integral, so state->emit
    T.StructField("n", T.LongType()),          # round-trips exactly
    T.StructField("label", T.StringType()),
])


def _output_schema(df: DataFrame, key_col: str,
                   label_col: str | None) -> T.StructType:
    key_type = df.schema[key_col].dataType
    fields = [T.StructField(key_col, key_type)]
    if label_col:
        fields.append(T.StructField(label_col, T.StringType()))
    fields += [
        T.StructField("first_seen", T.TimestampType()),
        T.StructField("last_seen", T.TimestampType()),
        T.StructField("n_messages", T.LongType()),
    ]
    return T.StructType(fields)


def session_flights(
    df: DataFrame,
    key_col: str = "hex_ident",
    ts_col: str = "parsed_time",
    gap_seconds: float = 600.0,
    label_col: str | None = None,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Gap-closed sessions per key from an unbounded stream.

    Emits one row per closed session: (key[, label], first_seen,
    last_seen, n_messages). A session closes when (a) a same-key message
    more than ``gap_seconds`` later arrives, or (b) the event-time
    watermark passes last_seen + gap — the streaming analog of the
    reference's ±10-minute flight band (create_schema.sql:124).
    ``label_col`` (e.g. callsign) carries the last non-null value seen.
    """
    gap_us = int(gap_seconds * 1_000_000)
    out_schema = _output_schema(df, key_col, label_col)

    def emit(key: tuple[Any, ...],
             sessions: list[list[Any]]) -> pd.DataFrame:
        row: dict[str, Any] = {key_col: [key[0]] * len(sessions)}
        if label_col:
            row[label_col] = [s[3] for s in sessions]
        row["first_seen"] = [pd.Timestamp(s[0], unit="us") for s in sessions]
        row["last_seen"] = [pd.Timestamp(s[1], unit="us") for s in sessions]
        row["n_messages"] = [s[2] for s in sessions]
        return pd.DataFrame(row)

    def track(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            first_us, last_us, n, label = state.get
            state.remove()
            yield emit(key, [[first_us, last_us, n, label]])
            return

        parts = [p for p in pdfs if len(p)]
        if not parts:
            return
        batch = pd.concat(parts) if len(parts) > 1 else parts[0]
        usec = batch[ts_col].values.astype("datetime64[us]").astype("int64")
        order = np.argsort(usec, kind="stable")
        usec = usec[order]
        labels = (batch[label_col].to_numpy(dtype=object)[order]
                  if label_col else None)

        # segments: maximal runs with consecutive deltas <= gap (vectorized)
        cuts = np.flatnonzero(np.diff(usec) > gap_us) + 1
        starts = np.concatenate(([0], cuts))
        ends = np.concatenate((cuts, [len(usec)]))
        segs: list[list[Any]] = []
        for s, e in zip(starts, ends):
            label = None
            if labels is not None:
                seg_labels = [x for x in labels[s:e] if x is not None
                              and x == x]  # skip None/NaN
                label = str(seg_labels[-1]) if seg_labels else None
            segs.append([int(usec[s]), int(usec[e - 1]), int(e - s), label])

        # merge the open state session (handles out-of-order arrivals:
        # interval-merge over [first,last] spans, not just append)
        if state.exists:
            segs.append(list(state.get))
            segs.sort(key=lambda x: x[0])
        merged: list[list[Any]] = []
        for seg in segs:
            if merged and seg[0] <= merged[-1][1] + gap_us:
                cur = merged[-1]
                if seg[1] >= cur[1] and seg[3] is not None:
                    cur[3] = seg[3]
                elif cur[3] is None:
                    cur[3] = seg[3]
                cur[0] = min(cur[0], seg[0])
                cur[1] = max(cur[1], seg[1])
                cur[2] += seg[2]
            else:
                merged.append(seg)

        closed, open_ = merged[:-1], merged[-1]
        state.update(tuple(open_))
        # close at last_seen + gap; never behind the watermark (Spark
        # rejects a timeout earlier than the current watermark)
        state.setTimeoutTimestamp(
            max(open_[1] // 1000 + gap_us // 1000,
                state.getCurrentWatermarkMs() + 1))
        if closed:
            yield emit(key, closed)

    return (
        df.withWatermark(ts_col, watermark_delay)
        .groupBy(key_col)
        .applyInPandasWithState(
            track, out_schema, _STATE_SCHEMA, "append",
            GroupStateTimeout.EventTimeTimeout)
    )

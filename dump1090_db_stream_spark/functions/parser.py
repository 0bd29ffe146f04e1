"""SBS-1 BaseStation line parser as pure Column expressions.

Re-expresses the reference's per-line Python parse loop
(``dump1090-postgres.py:100-109``) declaratively so Catalyst codegens the
whole thing JVM-side — no UDFs, no per-row Python. Operators covered
(SURVEY.md §2.2):

- F-1/F-2  line framing + CR strip        (dump1090-postgres.py:238, :100)
- F-3      CSV field split                 (:101)
- F-4      malformed-width filter (==22)   (:102) — drops SEL/ID/AIR/STA/CLK
- F-5      ingest-timestamp projection     (:103, :206-207)
- F-6      column binding                  (:106, keys :95-98)
- F-7      '' -> NULL normalization        (:107-109; README.md:131-134)
- F-8      tolerant type coercion          (try_cast; PG 22P02 path :118-123)

The reference's PG coercion rejects decimal ``ground_speed``/``track``
values (e.g. ``76.4``, README.md:88) because the columns are ``integer``.
PostgreSQL 22P02 rolls back the whole row; faithful behavior is row-level
NULL-vs-drop. We keep the row and try_cast the field to NULL by default
(documented intent: persist every well-formed MSG line, README.md:100-134);
``strict_integer_rows=True`` reproduces the reference's row-drop semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dump1090_db_stream_spark.schema import (
    ALL_COLUMNS,
    NOT_NULL_COLUMNS,
    PARSED_TIME,
    WIRE_COLUMNS,
    _SPARK_TYPES,
)

N_WIRE_FIELDS = 22


def _null_if_empty(c: Column) -> Column:
    # F-7: '' -> NULL (dump1090-postgres.py:107-109)
    return F.when(c == "", F.lit(None)).otherwise(c)


def _coerce(name: str, c: Column) -> Column:
    """F-8: tolerant cast of a raw string field to its target type."""
    c = _null_if_empty(c)
    t = _SPARK_TYPES[name]
    simple = t.simpleString()
    if simple == "string":
        return c
    if simple == "date":
        # Wire format is YYYY/MM/DD (README.md:82-94); try_to_date semantics
        # via try_cast over a reformatted string keeps bad input NULL.
        return F.try_to_timestamp(c, F.lit("yyyy/MM/dd")).cast("date")
    # int / float: try_cast => NULL on bad input instead of failing the job
    return c.try_cast(simple)


def parse_sbs1_lines(
    lines: DataFrame,
    value_col: str = "value",
    parsed_time: Column | None = None,
    strict_integer_rows: bool = False,
) -> DataFrame:
    """Parse a DataFrame of raw SBS-1 text lines into the typed message table.

    Works identically on batch and streaming DataFrames (single narrow
    projection + filter: no shuffle, fully pushed into one codegen stage).

    Parameters
    ----------
    lines : DataFrame with one string column (default name ``value``) —
        the shape produced by ``spark.read.text`` / the socket stream source.
    parsed_time : processing-time stamp; defaults to ``current_timestamp()``
        which in a micro-batch is constant per batch — the faithful analog
        of the reference stamping once per recv buffer
        (dump1090-postgres.py:206-207).
    strict_integer_rows : reproduce the reference's PG-coercion row drop
        for decimal ground_speed/track (SQLSTATE 22P02 path,
        dump1090-postgres.py:118-123).

    Lines that are not 22-field MSG lines are dropped, as in the
    reference (dump1090-postgres.py:102); :func:`parse_sbs1_tagged`
    keeps every line, NULL-padded and tagged, for lossless archival.
    """
    if parsed_time is None:
        parsed_time = F.current_timestamp()

    # F-2 + F-3: strip trailing CR, split on ','. split() with -1 keeps
    # trailing empty fields — required: MSG lines end ",,0" etc.
    fields = F.split(F.regexp_replace(F.col(value_col), "\r$", ""), ",", -1)
    # F-4: width filter — only 22-field MSG lines survive.
    df = (lines.select(fields.alias("_f"))
          .filter(F.size(F.col("_f")) == N_WIRE_FIELDS))

    # F-6 + F-7 + F-8: bind names, null-normalize, coerce (F.get(), the
    # same field access as parse_sbs1_tagged, whose short rows need it).
    cols = [
        _coerce(name, F.get(F.col("_f"), i)).alias(name)
        for i, name in enumerate(WIRE_COLUMNS)
    ]
    # F-5: processing-time stamp.
    cols.append(parsed_time.cast("timestamp").alias(PARSED_TIME))
    out = df.select(*cols)

    if strict_integer_rows:
        out = df.filter(~_strict_integer_bad(F.col("_f"))).select(*cols)

    return out


#: integer wire columns whose decimal values kill the ROW under the
#: reference's PG coercion (22P02) — shared by the filtering and
#: dead-letter paths so the two cannot drift.
_STRICT_INT_FIELDS = ("ground_speed", "track", "altitude")


def _strict_integer_bad(fields: Column) -> Column:
    """Reference 22P02 semantics: a decimal in an integer column kills
    the row, not just the field. A value is "bad" when the raw string
    was non-empty but the int cast returned NULL."""
    bad = F.lit(False)
    for fld in _STRICT_INT_FIELDS:
        r = _null_if_empty(F.get(fields, WIRE_COLUMNS.index(fld)))
        bad = bad | (r.isNotNull() & r.try_cast("int").isNull())
    return bad


def enforce_not_null(messages: DataFrame) -> DataFrame:
    """Validity filter standing in for the reference's NOT NULL constraints
    (create_schema.sql:54,57,59-60,75): rows violating them would be
    rejected by the INSERT, so we drop them before the sink."""
    cond = F.lit(True)
    for c in NOT_NULL_COLUMNS:
        cond = cond & F.col(c).isNotNull()
    return messages.filter(cond)


def parse_sbs1(lines: DataFrame, **kwargs) -> DataFrame:
    """parse + NOT NULL enforcement: the full ingest transform
    (reference lifecycle dump1090-postgres.py:204-239, minus the sink)."""
    return enforce_not_null(parse_sbs1_lines(lines, **kwargs)).select(*ALL_COLUMNS)


#: reject_reason values emitted by :func:`parse_sbs1_tagged`, in
#: precedence order.
REJECT_WIDTH = "malformed_width"
REJECT_STRICT_INT = "strict_integer"
REJECT_NOT_NULL = "not_null"


def parse_sbs1_tagged(
    lines: DataFrame,
    value_col: str = "value",
    parsed_time: Column | None = None,
    strict_integer_rows: bool = False,
) -> DataFrame:
    """Dead-letter-channel variant: parse EVERY input line in one pass,
    tagging instead of dropping. Output = all message columns plus
    ``raw_value`` (the original wire line, for replay/inspection) and
    ``reject_reason`` (NULL for accepted rows; ``malformed_width`` /
    ``strict_integer`` / ``not_null`` otherwise, first failure wins).

    The reference silently drops bad lines (dump1090-postgres.py:102,
    :118-123); production ingest wants them quarantined, not gone. One
    narrow projection — callers route rows to the message sink and the
    dead-letter sink by filtering the SAME relation (in streaming, one
    foreachBatch writing two filtered outputs), so the source is
    scanned once and accepted rows match :func:`parse_sbs1` on the
    same input exactly (asserted in tests/test_parser.py)."""
    if parsed_time is None:
        parsed_time = F.current_timestamp()
    # raw_value keeps the UNTOUCHED wire line (CR included) so a reject
    # can be byte-replayed; the CR-stripped copy exists only for splitting.
    stripped = F.regexp_replace(F.col(value_col), "\r$", "")
    fields = F.split(stripped, ",", -1)
    df = lines.select(F.col(value_col).alias("raw_value"), fields.alias("_f"))

    cols = [
        _coerce(name, F.get(F.col("_f"), i)).alias(name)
        for i, name in enumerate(WIRE_COLUMNS)
    ]
    cols.append(parsed_time.cast("timestamp").alias(PARSED_TIME))
    out = df.select("raw_value", "_f", *cols)

    width_bad = F.size(F.col("_f")) != N_WIRE_FIELDS
    strict_bad = (_strict_integer_bad(F.col("_f"))
                  if strict_integer_rows else F.lit(False))
    null_bad = F.lit(False)
    for c in NOT_NULL_COLUMNS:
        null_bad = null_bad | F.col(c).isNull()
    reason = (F.when(width_bad, F.lit(REJECT_WIDTH))
              .when(strict_bad, F.lit(REJECT_STRICT_INT))
              .when(null_bad, F.lit(REJECT_NOT_NULL)))
    return (out.withColumn("reject_reason", reason)
            .select("raw_value", *ALL_COLUMNS, "reject_reason"))

"""Parser unit tests against the reference's golden wire lines
(README.md:82-94; operators F-1..F-8, SURVEY.md §2.2)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from dump1090_db_stream_spark.functions.parser import parse_sbs1
from dump1090_db_stream_spark.schema import ALL_COLUMNS, MESSAGE_SCHEMA
from tests.fixtures import DECIMAL_SPEED_LINE, N_MSG_LINES, SAMPLE_LINES

def fixed_ts():
    return F.lit("2020-01-01 00:00:00").cast("timestamp")


def _lines_df(spark, lines=None):
    lines = lines if lines is not None else SAMPLE_LINES
    return spark.createDataFrame([(line,) for line in lines], ["value"])


def test_width_filter_drops_short_forms(spark):
    # F-4: only the 8 MSG lines have 22 fields (dump1090-postgres.py:102)
    out = parse_sbs1(_lines_df(spark), parsed_time=fixed_ts())
    assert out.count() == N_MSG_LINES
    assert [r.message_type for r in out.collect()] == ["MSG"] * N_MSG_LINES


def test_schema_and_column_order(spark):
    out = parse_sbs1(_lines_df(spark), parsed_time=fixed_ts())
    assert out.columns == ALL_COLUMNS
    got = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    want = {f.name: f.dataType.simpleString() for f in MESSAGE_SCHEMA.fields}
    assert got == want


def test_msg3_values(spark):
    # Golden MSG,3 line (README.md:89): lat/lon/altitude + zero flags
    out = parse_sbs1(_lines_df(spark), parsed_time=fixed_ts())
    row = out.filter(F.col("hex_ident") == "4CA2D6").collect()[0]
    assert row.transmission_type == 3
    assert row.altitude == 37000
    assert abs(row.lat - 51.45735) < 1e-4
    assert abs(row.lon - -1.02826) < 1e-4
    assert row.generated_date == datetime.date(2008, 11, 28)
    assert row.generated_time == "14:53:50.594"
    assert row.alert == 0 and row.emergency == 0 and row.spi == 0
    assert row.callsign is None  # empty field -> NULL (F-7)
    assert row.squawk is None


def test_readme_msg2_sample_has_23_fields_and_is_dropped(spark):
    # The README's MSG,2 sample (README.md:88) carries an extra empty field
    # (23 total), so the reference's len==22 check drops it — and so do we.
    out = parse_sbs1(_lines_df(spark), parsed_time=fixed_ts())
    assert out.filter(F.col("hex_ident") == "400CB6").count() == 0


def test_decimal_speed_becomes_null(spark):
    # F-8: decimal ground_speed=76.4 / track=258.3 — integer columns reject
    # decimals (create_schema.sql:65-66); we NULL the field, keep the row
    out = parse_sbs1(_lines_df(spark, SAMPLE_LINES + [DECIMAL_SPEED_LINE]),
                     parsed_time=fixed_ts())
    row = out.filter(F.col("hex_ident") == "400CB6").collect()[0]
    assert row.ground_speed is None
    assert row.track is None
    assert abs(row.lat - 54.05735) < 1e-4


def test_strict_integer_rows_drops_bad_rows(spark):
    # Bug-compatible mode: reference's 22P02 path kills the whole row.
    # Two rows carry decimal speed/track: the README MSG,4 sample
    # (288.6/103.2, README.md:90) and the synthetic MSG,2 line.
    out = parse_sbs1(_lines_df(spark, SAMPLE_LINES + [DECIMAL_SPEED_LINE]),
                     parsed_time=fixed_ts(), strict_integer_rows=True)
    assert out.count() == N_MSG_LINES - 1
    assert out.filter(F.col("hex_ident").isin("400CB6", "4CA767")).count() == 0


def test_squawk_keeps_leading_zeros(spark):
    # README.md:92 — squawk '0271' must remain a string
    out = parse_sbs1(_lines_df(spark), parsed_time=fixed_ts())
    row = out.filter(F.col("hex_ident") == "4CA215").collect()[0]
    assert row.squawk == "0271"


def test_crlf_and_float_fields(spark):
    # F-2: trailing \r stripped; vertical_rate is real (create_schema.sql:69)
    crlf = [line + "\r" for line in SAMPLE_LINES]
    out = parse_sbs1(_lines_df(spark, crlf), parsed_time=fixed_ts())
    assert out.count() == N_MSG_LINES
    row = out.filter(F.col("hex_ident") == "4CA767").collect()[0]
    assert row.vertical_rate == -832.0


def test_not_null_enforcement(spark):
    # A MSG line with empty hex_ident violates NOT NULL (create_schema.sql:57)
    bad = "MSG,3,496,211,,10057,2008/11/28,14:53:50.594,2008/11/28,14:58:51.153,,37000,,,51.45735,-1.02826,,,0,0,0,0"
    out = parse_sbs1(_lines_df(spark, SAMPLE_LINES + [bad]), parsed_time=fixed_ts())
    assert out.count() == N_MSG_LINES


def test_tagged_parse_keeps_short_forms_null_padded(spark):
    # Lossless archival: the tagged parser keeps SEL/ID/AIR/STA/CLK
    # short forms, NULL-padded, with the wire line and the reason
    from dump1090_db_stream_spark.functions.parser import (
        REJECT_WIDTH,
        parse_sbs1_tagged,
    )

    out = parse_sbs1_tagged(_lines_df(spark), parsed_time=fixed_ts())
    assert out.count() == len(SAMPLE_LINES)
    sel = out.filter(F.col("message_type") == "SEL").collect()[0]
    assert sel.reject_reason == REJECT_WIDTH
    assert sel.raw_value == next(ln for ln in SAMPLE_LINES
                                 if ln.startswith("SEL,"))
    assert sel.callsign == "RYR1427"
    assert sel.altitude is None


def test_no_python_udf_in_plan(spark):
    # The parser must stay JVM-side: no BatchEvalPython/ArrowEvalPython
    out = parse_sbs1(_lines_df(spark), parsed_time=fixed_ts())
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_each_line_is_split_once(spark):
    # The accept predicate must stay above the split: a validity filter
    # pushed below a `split(...) AS _f` projection inlines split() once
    # per field it reads (10 to 22 copies in the executed plan before
    # the parse moved behind a Generate)
    from dump1090_db_stream_spark.functions.parser import parse_sbs1_tagged

    lines = _lines_df(spark)
    plans = {
        "parse_sbs1": parse_sbs1(lines),
        "strict": parse_sbs1(lines, strict_integer_rows=True),
        "tagged accepted": parse_sbs1_tagged(lines)
        .filter("reject_reason IS NULL"),
    }
    for name, df in plans.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("split(") == 1, (name, plan)


def test_tagged_parse_routes_rejects_and_matches_parse_sbs1(spark):
    """Dead-letter channel: every input line comes back exactly once
    with the right reject_reason; the accepted slice equals parse_sbs1
    on the same input column-for-column."""
    from pyspark.sql import functions as F

    from dump1090_db_stream_spark.functions.parser import (
        REJECT_NOT_NULL,
        REJECT_STRICT_INT,
        REJECT_WIDTH,
        parse_sbs1,
        parse_sbs1_tagged,
    )
    from tests.fixtures import SAMPLE_LINES

    msg = next(ln for ln in SAMPLE_LINES if len(ln.split(",")) == 22)
    decimal_gs = msg.split(",")
    decimal_gs[12] = "76.4"  # ground_speed as decimal -> strict reject
    bad_lines = ["SEL,,496,2286,4CA4E5,27215,2010/02/19",  # short
                 ",".join(decimal_gs)]
    lines = spark.createDataFrame(
        [(ln,) for ln in list(SAMPLE_LINES) + bad_lines], ["value"])

    tagged = parse_sbs1_tagged(lines, strict_integer_rows=True)
    assert tagged.count() == len(SAMPLE_LINES) + 2  # nothing dropped
    reasons = {r["raw_value"]: r["reject_reason"] for r in tagged.collect()}
    assert reasons[bad_lines[0]] == REJECT_WIDTH
    assert reasons[bad_lines[1]] == REJECT_STRICT_INT
    # non-MSG golden lines reject on width; MSG lines are accepted
    # except the golden decimal-ground_speed line (MSG,4 — the
    # reference's documented 22P02 case), which strict mode tags
    msg_reasons = [reasons[ln] for ln in SAMPLE_LINES
                   if len(ln.split(",")) == 22]
    assert msg_reasons.count(None) == len(msg_reasons) - 1
    assert msg_reasons.count(REJECT_STRICT_INT) == 1

    accepted = (tagged.filter(F.col("reject_reason").isNull())
                .drop("raw_value", "reject_reason"))
    direct = parse_sbs1(lines, strict_integer_rows=True)
    a = sorted(map(tuple, accepted.drop("parsed_time").collect()))
    b = sorted(map(tuple, direct.drop("parsed_time").collect()))
    assert a == b and len(a) > 0

    # CRLF wire form (the socket source's real framing): raw_value keeps
    # the CR byte for exact replay, while parsing still sees 22 fields
    crlf = spark.createDataFrame([(msg + "\r",)], ["value"])
    row = parse_sbs1_tagged(crlf).first()
    assert row["raw_value"] == msg + "\r"
    assert row["reject_reason"] is None

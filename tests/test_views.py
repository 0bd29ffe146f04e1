"""View-layer tests: callsigns / locations / flights
(create_schema.sql:85-93, :101-108, :116-124; SURVEY.md §2.3-2.4)."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import Row

from dump1090_db_stream_spark.operators.views import (
    callsigns,
    flights,
    locations,
    register_views,
)
from dump1090_db_stream_spark.schema import ALL_COLUMNS, MESSAGE_SCHEMA


def ts(minute: int, second: int = 0) -> datetime.datetime:
    return datetime.datetime(2020, 1, 1, 12, minute, second)


def msg(**kw) -> Row:
    base = {c: None for c in ALL_COLUMNS}
    base.update(transmission_type=3, hex_ident="ABC123",
                generated_date=datetime.date(2020, 1, 1),
                generated_time="12:00:00.000", parsed_time=ts(0))
    base.update(kw)
    return Row(**{c: base[c] for c in ALL_COLUMNS})


@pytest.fixture(scope="module")
def messages(spark):
    rows = [
        # aircraft ABC123: callsign broadcast at 12:00 and 12:05 (type 1),
        # position fixes at 12:02 / 12:10 / 12:30 (type 3)
        msg(transmission_type=1, callsign="FDX26   ", parsed_time=ts(0)),
        msg(transmission_type=1, callsign="FDX26   ", parsed_time=ts(5)),
        msg(parsed_time=ts(2), lat=51.0, lon=-1.0, altitude=37000),
        msg(parsed_time=ts(10), lat=51.5, lon=-1.1, altitude=37500),
        msg(parsed_time=ts(30), lat=52.0, lon=-1.2, altitude=38000),
        # aircraft DEF456: callsign only, no positions
        msg(transmission_type=1, hex_ident="DEF456", callsign="BAW99",
            parsed_time=ts(1)),
        # aircraft GHI789: positions only, no callsign -> not in flights
        msg(hex_ident="GHI789", parsed_time=ts(3), lat=40.0, lon=2.0),
    ]
    return spark.createDataFrame(rows, MESSAGE_SCHEMA)


def test_callsigns_sessionization(messages):
    out = callsigns(messages).collect()
    by_key = {(r.callsign, r.hex_ident): r for r in out}
    assert len(out) == 2
    fdx = by_key[("FDX26   ", "ABC123")]  # trailing spaces preserved
    assert fdx.first_seen == ts(0)
    assert fdx.last_seen == ts(5)
    assert fdx.date_seen == datetime.date(2020, 1, 1)


def test_locations_projection(messages):
    out = locations(messages)
    assert out.columns == ["hex_ident", "parsed_time", "lon", "lat", "altitude"]
    assert out.count() == 4  # only rows with lat NOT NULL (F-10)


def test_flights_band_join(messages):
    # session for FDX26 = [12:00, 12:05]; band ±10 min -> [11:50, 12:15].
    # Fixes at 12:02 and 12:10 match; 12:30 does not. GHI789 has no
    # callsign session -> excluded by inner join.
    out = flights(messages).collect()
    assert {(r.hex_ident, r.parsed_time.minute) for r in out} == {
        ("ABC123", 2), ("ABC123", 10)}
    assert all(r.callsign == "FDX26   " for r in out)


def test_flights_distinct_dedups_overlapping_sessions(spark, messages):
    # Two same-day sessions for one aircraft whose ±10min bands both cover
    # one fix -> band join yields 2 rows; DISTINCT must NOT collapse them
    # (they differ on callsign) but duplicate identical rows must collapse.
    rows = [
        msg(transmission_type=1, callsign="AAA", parsed_time=ts(0)),
        msg(transmission_type=1, callsign="AAA", parsed_time=ts(1)),
        # duplicate position fix (same values twice)
        msg(parsed_time=ts(2), lat=51.0, lon=-1.0, altitude=1000),
        msg(parsed_time=ts(2), lat=51.0, lon=-1.0, altitude=1000),
    ]
    df = spark.createDataFrame(rows, MESSAGE_SCHEMA)
    out = flights(df).collect()
    assert len(out) == 1  # DISTINCT collapsed the duplicated fix


def test_register_views_sql_surface(spark, messages):
    register_views(spark, messages)
    # The README's documented ad-hoc callsign query (README.md:210-213)
    got = spark.sql(
        "SELECT * FROM callsigns WHERE callsign LIKE 'FDX%' LIMIT 5").collect()
    assert len(got) == 1 and got[0].hex_ident == "ABC123"
    # locations lookup by hex_ident (README.md:235-239)
    got = spark.sql(
        "SELECT * FROM locations WHERE hex_ident = 'GHI789'").collect()
    assert len(got) == 1
    assert spark.sql("SELECT * FROM flights").count() == 2


def test_catalog_table_answers_the_views(spark, messages, tmp_path):
    """D-1/D-2: create_messages_table registers the parquet store as
    ``adsb.adsb_messages`` with its parsed_date partitions discovered,
    and the three views over the catalog table answer with the same
    rows as over read_parquet_store."""
    from pyspark.sql import functions as F

    from dump1090_db_stream_spark.plans.catalog import create_messages_table
    from dump1090_db_stream_spark.sinks.writers import (
        read_parquet_store,
        write_parquet_store,
    )

    store = str(tmp_path / "store")
    next_day = messages.withColumn(
        "parsed_time", F.col("parsed_time") + F.expr("INTERVAL 1 DAY"))
    write_parquet_store(messages.unionByName(next_day), store)

    def views(df):
        register_views(spark, df)
        return {v: sorted(map(tuple, spark.table(v).collect()), key=repr)
                for v in ("callsigns", "locations", "flights")}

    spark.sql("DROP VIEW IF EXISTS adsb.adsb_messages")
    try:
        create_messages_table(spark, store)
        table = spark.table("adsb.adsb_messages")
        days = table.select("parsed_date").distinct().collect()
        assert len(days) == 2
        # parsed_date is a partition column: a predicate on it prunes
        one_day = table.filter(F.col("parsed_date") == days[0][0])
        plan = one_day._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [isnotnull(parsed_date" in plan
        via_catalog = views(table)
        via_store = views(read_parquet_store(spark, store))
    finally:
        spark.sql("DROP VIEW IF EXISTS adsb.adsb_messages")
    assert via_catalog == via_store
    assert all(via_store.values())


def test_catalog_table_sees_days_written_later(spark, messages, tmp_path):
    """D-2 in a long-lived session: a day appended to the store after
    create_messages_table is answered by the next query, with no
    repair or refresh call."""
    from pyspark.sql import functions as F

    from dump1090_db_stream_spark.plans.catalog import create_messages_table
    from dump1090_db_stream_spark.sinks.writers import write_parquet_store

    store = str(tmp_path / "store")
    write_parquet_store(messages, store)
    spark.sql("DROP VIEW IF EXISTS adsb.adsb_messages")
    try:
        create_messages_table(spark, store)
        assert spark.table("adsb.adsb_messages").count() == 7
        write_parquet_store(messages.withColumn(
            "parsed_time", F.col("parsed_time") + F.expr("INTERVAL 1 DAY")),
            store)
        assert spark.table("adsb.adsb_messages").count() == 14
        assert spark.sql(
            "SELECT COUNT(DISTINCT parsed_date) FROM adsb.adsb_messages"
        ).first()[0] == 2
    finally:
        spark.sql("DROP VIEW IF EXISTS adsb.adsb_messages")

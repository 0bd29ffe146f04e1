"""Fixed schema for the ADS-B message fact table.

Reference: ``create_schema.sql:52-76`` declares table ``adsb.adsb_messages``
with 22 wire columns + 1 ingest column; the ingester hard-codes the same
column order (``dump1090-postgres.py:95-98``). The type mapping follows
SURVEY.md §1.3 (DDL wins over README prose where they disagree, e.g.
``vertical_rate`` is ``real`` in the DDL).

Two time domains exist (SURVEY §1.3): event time (``generated_date`` +
``generated_time``, set by the radio) and processing time (``parsed_time``,
stamped at ingest, ``dump1090-postgres.py:206-207``). All reference views
and queries use processing time.
"""

from __future__ import annotations

from pyspark.sql import types as T

# 22 wire fields in wire order (dump1090-postgres.py:95-98, README.md:104-127).
WIRE_COLUMNS: list[str] = [
    "message_type",        # text   — SEL/ID/AIR/STA/CLK/MSG (README.md:140-147)
    "transmission_type",   # int    — 1..8 (README.md:162-171); NOT NULL, part of PK
    "session_id",          # text
    "aircraft_id",         # text
    "hex_ident",           # text   — 24-bit ICAO id; NOT NULL; the model's join key
    "flight_id",           # text
    "generated_date",      # date   — wire format YYYY/MM/DD
    "generated_time",      # text   — HH:mm:ss.SSS, kept as text (create_schema.sql:60)
    "logged_date",         # date
    "logged_time",         # text
    "callsign",            # text   — 8 chars, trailing-space padded
    "altitude",            # int    — Mode C pressure altitude
    "ground_speed",        # int    — wire may carry decimals -> coercion fails -> NULL
    "track",               # int    — same decimal caveat
    "lat",                 # real   — only transmission types 2,3 (README.md:173-174)
    "lon",                 # real
    "vertical_rate",       # real   — DDL real (create_schema.sql:69)
    "squawk",              # text   — leading zeros significant, must stay string
    "alert",               # int    — 0/1 flag
    "emergency",           # int    — 0/1 flag
    "spi",                 # int    — 0/1 flag
    "is_on_ground",        # int    — 0/1 flag
]

PARSED_TIME = "parsed_time"  # timestamptz NOT NULL (create_schema.sql:75)

ALL_COLUMNS: list[str] = WIRE_COLUMNS + [PARSED_TIME]

# Dedup identity: PK (transmission_type, parsed_time, hex_ident)
# (create_schema.sql:132-133). Spark has no enforced PKs; the sinks that
# honour it (write_parquet_store, the JDBC and PG upsert
# foreachBatch sinks) key on this trio.
PRIMARY_KEY: list[str] = ["transmission_type", PARSED_TIME, "hex_ident"]

_SPARK_TYPES: dict[str, T.DataType] = {
    "message_type": T.StringType(),
    "transmission_type": T.IntegerType(),
    "session_id": T.StringType(),
    "aircraft_id": T.StringType(),
    "hex_ident": T.StringType(),
    "flight_id": T.StringType(),
    "generated_date": T.DateType(),
    "generated_time": T.StringType(),
    "logged_date": T.DateType(),
    "logged_time": T.StringType(),
    "callsign": T.StringType(),
    "altitude": T.IntegerType(),
    "ground_speed": T.IntegerType(),
    "track": T.IntegerType(),
    "lat": T.FloatType(),
    "lon": T.FloatType(),
    "vertical_rate": T.FloatType(),
    "squawk": T.StringType(),
    "alert": T.IntegerType(),
    "emergency": T.IntegerType(),
    "spi": T.IntegerType(),
    "is_on_ground": T.IntegerType(),
    PARSED_TIME: T.TimestampType(),
}

# NOT NULL in the reference DDL (create_schema.sql:54,57,59-60,75). Spark
# Parquet writes keep these nullable=True physically; the parser enforces
# them with a validity filter instead (see functions/parser.py).
NOT_NULL_COLUMNS: list[str] = [
    "transmission_type", "hex_ident", "generated_date", "generated_time",
    PARSED_TIME,
]

MESSAGE_SCHEMA = T.StructType(
    [T.StructField(c, _SPARK_TYPES[c], c not in NOT_NULL_COLUMNS)
     for c in ALL_COLUMNS]
)

# 6-value message-type enum (README.md:140-147).
MESSAGE_TYPES = ["SEL", "ID", "AIR", "STA", "CLK", "MSG"]

"""dump1090 ``aircraft.json`` snapshot source.

Besides the SBS-1 TCP feed the reference ingests
(dump1090-postgres.py:204-239), every dump1090 deployment also serves
periodic JSON state snapshots over HTTP (``/data/aircraft.json`` —
dump1090-mutability's documented README format): a top-level ``now``
epoch timestamp and an ``aircraft`` array of per-plane state dicts.
Archives of those snapshots are the other wire format a reference user
holds; this module turns them into the same typed message shape the
SBS-1 parser produces, so the downstream views/queries run unchanged.

Spark shape: one ``from_json`` with an explicit schema (never inferred
— snapshot fields drift across dump1090 forks, and inference would
shuffle-scan the corpus), ``explode`` of the aircraft array, then a
narrow typed projection. Works identically on batch (``spark.read``)
and streaming (``readStream``) inputs since every step is a stateless
projection; archived snapshots read as one document per file with
``spark.read.text(path, wholetext=True)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Explicit snapshot schema (dump1090-mutability README "aircraft.json"):
#: only the fields our message projection consumes, plus seen/rssi for
#: staleness filtering. Extra JSON keys are ignored by from_json.
AIRCRAFT_JSON_SCHEMA = T.StructType([
    T.StructField("now", T.DoubleType()),
    T.StructField("messages", T.LongType()),
    T.StructField("aircraft", T.ArrayType(T.StructType([
        T.StructField("hex", T.StringType()),
        T.StructField("squawk", T.StringType()),
        T.StructField("flight", T.StringType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("altitude", T.LongType()),
        T.StructField("vert_rate", T.LongType()),
        T.StructField("track", T.LongType()),
        T.StructField("speed", T.LongType()),
        T.StructField("seen", T.DoubleType()),
        T.StructField("rssi", T.DoubleType()),
    ]))),
])


def parse_aircraft_json(
    snapshots: DataFrame,
    value_col: str = "value",
    max_seen_s: float | None = None,
) -> DataFrame:
    """Parse raw ``aircraft.json`` document strings (one snapshot per
    row — the shape of ``spark.read.text(..., wholetext=True)`` or a
    stream of polled HTTP bodies) into one typed row per aircraft
    observation.

    Output columns mirror the SBS-1 message names (hex_ident, callsign,
    altitude, ground_speed, track, lat, lon, vertical_rate, squawk)
    plus ``snapshot_time`` (the ``now`` epoch as a timestamp), ``seen``
    and ``rssi``. ``max_seen_s`` drops stale entries (aircraft not
    heard for more than N seconds keep appearing in snapshots with a
    growing ``seen`` — the standard dedup-at-source filter).

    Malformed documents yield a NULL struct from ``from_json`` and are
    dropped (the snapshot analog of the SBS-1 width filter F-4).
    """
    doc = snapshots.select(
        F.from_json(F.col(value_col), AIRCRAFT_JSON_SCHEMA).alias("j"))
    rows = (
        doc.filter(F.col("j").isNotNull()
                   & F.col("j.aircraft").isNotNull())
        .select(F.col("j.now").alias("_now"),
                F.explode("j.aircraft").alias("a"))
    )
    out = rows.select(
        F.timestamp_seconds(F.col("_now")).alias("snapshot_time"),
        F.upper(F.col("a.hex")).alias("hex_ident"),
        F.trim(F.col("a.flight")).alias("callsign"),
        F.col("a.altitude").cast("int").alias("altitude"),
        F.col("a.speed").cast("int").alias("ground_speed"),
        F.col("a.track").cast("int").alias("track"),
        F.col("a.lat").cast("float").alias("lat"),
        F.col("a.lon").cast("float").alias("lon"),
        F.col("a.vert_rate").cast("float").alias("vertical_rate"),
        F.col("a.squawk").alias("squawk"),
        F.col("a.seen").alias("seen"),
        F.col("a.rssi").alias("rssi"),
    ).filter(F.col("hex_ident").isNotNull())
    if max_seen_s is not None:
        out = out.filter(F.col("seen") <= F.lit(float(max_seen_s)))
    return out

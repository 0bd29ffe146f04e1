"""The reference's three analytical views as DataFrame builders.

Reference: ``create_schema.sql:85-93`` (callsigns), ``:101-108`` (locations),
``:116-124`` (flights). Each builder takes the messages DataFrame and
returns the view; ``register_views`` exposes them to ``spark.sql`` so both
the DataFrame and SQL surfaces work (reference entry point 2,
README.md:180-273).

Scale notes (100 TB design):
- callsigns is a partial-aggregatable groupBy min/max — Catalyst does
  map-side combine automatically; the shuffle carries only
  (callsign, hex_ident, date) keys, tiny relative to the fact table.
- locations is a narrow project+filter — pushed to the Parquet scan
  (PushedFilters: IsNotNull(lat); ReadSchema: 5 of 23 cols).
- flights joins positions against per-day callsign sessions on the equi key
  hex_ident with the ±10 min band as join residual. The session side is an
  aggregate (#sessions ≪ #messages) so AQE picks a broadcast hash join at
  any realistic cardinality; hex_ident (~10^4-10^6 distinct airframes) has
  no pathological skew. The DISTINCT dedups band-overlap multiplication.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def callsigns(messages: DataFrame) -> DataFrame:
    """Per-day callsign sessions (create_schema.sql:85-93).

    F-9 filter (callsign <> '', :92) + A-1/A-2 group by
    (callsign, hex_ident, date of parsed_time) + A-3/A-4 max/min.
    Post-normalization '' never occurs (parser F-7 maps '' -> NULL), so the
    <> '' predicate is equivalently NOT NULL — both kept for fidelity.
    """
    return (
        messages
        .filter(F.col("callsign").isNotNull() & (F.col("callsign") != ""))
        .groupBy(
            "callsign",
            "hex_ident",
            F.col("parsed_time").cast("date").alias("date_seen"),
        )
        .agg(
            F.max("parsed_time").alias("last_seen"),
            F.min("parsed_time").alias("first_seen"),
        )
    )


def locations(messages: DataFrame) -> DataFrame:
    """Position fixes (create_schema.sql:101-108): F-11 projection of
    5 columns + F-10 ``lat IS NOT NULL`` predicate."""
    return (
        messages
        .select("hex_ident", "parsed_time", "lon", "lat", "altitude")
        .filter(F.col("lat").isNotNull())
    )


def flights(messages: DataFrame, band_minutes: int = 10) -> DataFrame:
    """Flight reconstruction (create_schema.sql:116-124): J-1 inner
    equi-join (hex_ident) + time-band residual (parsed_time within
    [first_seen - band, last_seen + band]) + A-5 DISTINCT.

    The equi key keeps this a hash/sort-merge join (never nested-loop);
    the band predicates evaluate as residual filters on matched pairs.
    """
    loc = locations(messages)
    cs = callsigns(messages)
    band = F.expr(f"INTERVAL {band_minutes} MINUTES")
    joined = loc.alias("l").join(
        cs.alias("cs"),
        (F.col("l.hex_ident") == F.col("cs.hex_ident"))
        & (F.col("l.parsed_time") <= F.col("cs.last_seen") + band)
        & (F.col("l.parsed_time") >= F.col("cs.first_seen") - band),
        "inner",
    )
    return joined.select(
        F.col("l.hex_ident").alias("hex_ident"),
        F.col("l.parsed_time").alias("parsed_time"),
        F.col("l.lon").alias("lon"),
        F.col("l.lat").alias("lat"),
        F.col("l.altitude").alias("altitude"),
        F.col("cs.callsign").alias("callsign"),
    ).distinct()


def register_views(spark: SparkSession, messages: DataFrame) -> None:
    """Register adsb_messages + the three views as temp views, enabling the
    reference's ad-hoc SQL surface verbatim (README.md:180-273) via
    ``spark.sql`` (D-3, create_schema.sql:85,101,116)."""
    messages.createOrReplaceTempView("adsb_messages")
    callsigns(messages).createOrReplaceTempView("callsigns")
    locations(messages).createOrReplaceTempView("locations")
    flights(messages).createOrReplaceTempView("flights")

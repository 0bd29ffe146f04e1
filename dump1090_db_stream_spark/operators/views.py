"""The reference's three analytical views as DataFrame builders.

Reference: ``create_schema.sql:85-93`` (callsigns), ``:101-108`` (locations),
``:116-124`` (flights). Each builder takes the messages DataFrame and
returns the view; ``register_views`` exposes them to ``spark.sql`` so both
the DataFrame and SQL surfaces work (reference entry point 2,
README.md:180-273). callsigns and flights are the ADS-B instances of the
generic ``sessions.daily_sessions`` and ``sessions.band_join``.

Session table. ``register_views`` caches the ``callsigns`` temp view
(``spark.catalog.cacheTable``, lazy): the first query that reads it
fills an in-memory table of the per-day sessions, which are far fewer
rows than the store. From then on a callsign lookup and the view itself
run one job over that table, and ``flights``, whose session side is the
same ``callsigns(messages)`` plan, reads it and scans the store only
for its positions. ``locations`` and ``adsb_messages`` are not
cached: their memory grows with the store. The temp view owns the
cache: re-registering drops the old view, so the next query fills the
table afresh, and ``spark.catalog.dropTempView("callsigns")`` frees it.

Snapshot semantics. Over a parquet store, the views answer from the file
listing taken when they were registered, cached or not: files copied
into the store afterwards stay invisible until ``register_views`` runs
again, and so do the streaming file sink's files. One exception comes
with the cache: a Spark batch write to the store's path in the same
session (``write_parquet_store``) runs Spark's ``recacheByPath``, which
refreshes the shared file index, so all four views then see the new
rows alike.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dump1090_db_stream_spark.operators.sessions import band_join, daily_sessions


def callsigns(messages: DataFrame) -> DataFrame:
    """Per-day callsign sessions (create_schema.sql:85-93): F-9
    non-empty callsign, A-1/A-2 group by (callsign, hex_ident, date of
    parsed_time), A-3/A-4 max/min."""
    return daily_sessions(
        messages, key="hex_ident", label="callsign", ts="parsed_time",
    ).select("callsign", "hex_ident", "date_seen", "last_seen", "first_seen")


def locations(messages: DataFrame) -> DataFrame:
    """Position fixes (create_schema.sql:101-108): F-11 projection of
    5 columns + F-10 ``lat IS NOT NULL`` predicate."""
    return (
        messages
        .select("hex_ident", "parsed_time", "lon", "lat", "altitude")
        .filter(F.col("lat").isNotNull())
    )


def flights(messages: DataFrame) -> DataFrame:
    """Flight reconstruction (create_schema.sql:116-124): J-1 inner
    equi-join (hex_ident) + ±10 min time band as join residual + A-5
    DISTINCT. The session side is exactly ``callsigns(messages)``, so a
    cached callsigns view substitutes for it."""
    return band_join(
        locations(messages), callsigns(messages), key="hex_ident",
        ts="parsed_time", session_cols=["callsign"])


def register_views(spark: SparkSession, messages: DataFrame) -> None:
    """Register adsb_messages + the three views as temp views, enabling the
    reference's ad-hoc SQL surface verbatim (README.md:180-273) via
    ``spark.sql`` (D-3, create_schema.sql:85,101,116), and cache the
    callsigns session table (filled by the first query that reads it)."""
    messages.createOrReplaceTempView("adsb_messages")
    # Replacing the view with a plan Spark counts as equal (a fresh read
    # of the same store path) would keep the old sessions cached.
    spark.catalog.dropTempView("callsigns")
    callsigns(messages).createOrReplaceTempView("callsigns")
    spark.catalog.cacheTable("callsigns")
    locations(messages).createOrReplaceTempView("locations")
    flights(messages).createOrReplaceTempView("flights")
